#!/usr/bin/env python3
"""Benchmark of the XML -> Parquet conversion path and the query engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness with sbt; later runs reuse the build while the sources are
unchanged. Each run makes its inputs from the seed, runs the workload in
one JVM started with the library build's own forked-run JVM options,
checks every output, prints each metric by name with its unit, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}.
It exits 0 whenever it prints a result, with "correct": false and a
FAILED line per failed operation when a check fails, and 2 without a
result when it cannot run at all.
See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["xml_mixed", "query_mix"]
# untimed convert passes before the measured ones, to let JIT compilation
# settle (measured passes still drift by several percent before that)
XML_WARMUP_PASSES = 4
# query_mix data: the repository's test data (TESTDATA.md), or the
# directory PERFBENCH_DATA_DIR names. Queries are timed at sf0.1, the
# bench scale, and checked against their oracles at sf0.01, the scale the
# oracle twins are written and gated at.
DATA_DIR = os.environ.get("PERFBENCH_DATA_DIR",
                          os.path.expanduser("~/testdata"))
SF_DIR = os.path.join(DATA_DIR, "sf0.1")
CHECK_SF_DIR = os.path.join(DATA_DIR, "sf0.01")
# query_mix's set holds one query from each cost stratum, given as
# quantiles of the population ranked by reference cost. The strata next to
# the median are narrow, so the set's median is close to the population's;
# the outer ones put a cheap and a heavy query in the set.
STRATA = (0.0, 0.25, 0.40, 0.47, 0.50, 0.53, 0.60, 0.75, 1.0)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


class RunError(Exception):
    """The benchmark could not run; no result is printed."""


def cores():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Heap as the repository's tier-1 command derives it: half the
    machine's memory in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return "%dg" % min(8, max(2, g))


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def cpu_times():
    """The machine's CPU time counters (/proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of the machine's CPU time between two cpu_times() readings
    that the hypervisor gave to other guests."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else None


def source_digest():
    """Digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_sha():
    """HEAD of the checkout, or None when it is not a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             cwd=ROOT, capture_output=True, text=True,
                             timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or \
            os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def build_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env["SPARK_DRIVER_MEM"] = driver_mem()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_build(digest):
    """Compile the library and the harness unless this source digest is
    already built; returns the launcher description."""
    launcher = os.path.join(HERE, "target", "launcher.json")
    stamp = os.path.join(HERE, "target", "launcher.digest")
    if os.path.isfile(launcher) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(launcher) as g:
                    return json.load(g)
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src")):
        raise RunError("library sources not found next to perfbench/")
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "writeLauncher"],
                         cwd=HERE, env=build_env(), stdout=out,
                         timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RunError("build failed (exit %s), log in %s" % (rc, log))
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    with open(launcher) as g:
        return json.load(g)


def run_process(cmd, cwd, env, stdout, timeout):
    """Run a process in its own group; on timeout kill the group. Always
    waits for it to end. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def sample_queries(seed, table):
    """The query set in seeded order: queries up to the table's cost cap,
    ranked by reference cost, one drawn from each of the STRATA by a
    fixed draw, so that every seed times the same queries."""
    costs = population(table)
    ranked = sorted(costs, key=lambda q: (costs[q], q))
    bounds = [round(f * len(ranked)) for f in STRATA]
    draw = random.Random("query_mix")
    picks = [draw.choice(ranked[lo:hi]) for lo, hi in zip(bounds, bounds[1:])]
    random.Random("query_mix:%d" % seed).shuffle(picks)
    return picks


def population(table):
    """Reference cost of each query that may be drawn."""
    return {q: c for q, c in table["cost_s"].items() if c <= table["cap_s"]}


def load_costs():
    with open(os.path.join(HERE, "query_costs.json")) as f:
        return json.load(f)


def prepare(workload, seed, run_dir):
    """Write the workload's inputs; return (harness args, manifest)."""
    if workload == "query_mix":
        for d in (SF_DIR, CHECK_SF_DIR):
            if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
                raise RunError("query data not found at " + d)
        table = load_costs()
        queries = sample_queries(seed, table)
        digest = hashlib.sha256(",".join(queries).encode()).hexdigest()
        return (["--sf", SF_DIR, "--check-sf", CHECK_SF_DIR,
                 "--queries", ",".join(queries)],
                {"queries": queries, "input_sha256": digest,
                 "reference_s": {q: table["cost_s"][q] for q in queries}})
    files, manifest = gen.corpus(seed)
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs)
    for name, data in files:
        with open(os.path.join(inputs, name), "wb") as f:
            f.write(data)
    return (["--inputs", inputs, "--warmup", str(XML_WARMUP_PASSES),
             "--includes", ",".join(manifest["includes"]),
             "--excludes", ",".join(manifest["excludes"]),
             "--file-info", "1"], manifest)


def end_to_end(workload, record, manifest):
    """End-to-end metrics of an untraced run, plus figures that are
    printed but not gated (seed-sensitive, or not defined on every
    workload)."""
    passes = [p for p in record["passes"]
              if not p["traced"] and not p["warmup"]]
    m = {"setup_s": record["setup_s"][0]}
    extra = {"timed_passes": len(passes),
             "peak_rss_mb": record["peak_rss_mb"]}
    if workload == "query_mix":
        wall, cpu = per_query(passes)
        m["op_cpu_s"] = sum(cpu.values()) / max(1, len(cpu))
        extra["op_s"] = sum(wall.values()) / max(1, len(wall))
        ordered = sorted(wall.values())
        extra["query_p50_s"] = analysis.median(ordered)
        extra["query_p90_s"] = percentile(ordered, 0.9)
        extra["query_total_s"] = sum(ordered)
        extra["query_samples"] = len(ordered)
    else:
        m["op_cpu_s"] = min(p["cpu_s"] for p in passes)
        extra["op_s"] = min(p["wall_s"] for p in passes)
        extra["cold_convert_s"] = record["passes"][0]["wall_s"]
        extra["docs_per_s"] = manifest["documents"] / extra["op_s"]
        extra["documents"] = manifest["documents"]
    return m, extra


def per_query(passes):
    """Each query's best (lowest) wall and CPU seconds over the given
    passes."""
    wall, cpu = {}, {}
    for q in {q for p in passes for q in p["latencies"]}:
        wall[q] = min(p["latencies"][q] for p in passes if q in p["latencies"])
        cpu[q] = min(p["cpu"][q] for p in passes if q in p["cpu"])
    return wall, cpu


def layer_metrics(record, workload, out_bytes, in_bytes):
    """Per-layer metrics of a traced run."""
    m = analysis.layer_metrics(record, workload, cores())
    m["xml.output_mb"] = out_bytes / 1048576.0
    m["xml.out_bytes_per_in_byte"] = out_bytes / in_bytes if in_bytes else 0.0
    return m


def percentile(sorted_values, q):
    if not sorted_values:
        return 0.0
    k = (len(sorted_values) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(sorted_values) - 1)
    return sorted_values[lo] + (sorted_values[hi] - sorted_values[lo]) * (k - lo)


def operation(op):
    """The operation a harness failure belongs to: an input file name
    (failures are tagged `pass<i>:<path>`) or a query name (`verify:<q>`
    for the correctness pass)."""
    tag, _, rest = op.partition(":")
    if not rest:
        return op
    return os.path.basename(rest) if tag.startswith("pass") else rest


UNITS = {"_per_s": "1/s", "_s": "s", "_mb": "MB", "_ratio": "ratio",
         "_per_in_byte": "ratio"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args(argv)

    load_before = loadavg()
    cpu_before = cpu_times()
    digest = source_digest()
    launcher = ensure_build(digest)
    run_dir = os.path.join(HERE, ".runs", "%s-%d-%d" % (a.workload, a.seed,
                                                        os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.makedirs(run_dir)
        for d in ("scratch", "tmp"):
            os.makedirs(os.path.join(run_dir, d))
        args, manifest = prepare(a.workload, a.seed, run_dir)
        out = os.path.join(run_dir, "record.json")
        cmd = (["java"] + launcher["java_options"] +
               ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
                "-cp", os.pathsep.join(launcher["classpath"]),
                "graft.perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", run_dir, "--out", out, "--cores", str(cores())]
               + args)
        env = dict(os.environ)
        env["GRAFT_SCRATCH_DIR"] = os.path.join(run_dir, "scratch")
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as f:
            rc = run_process(cmd, cwd=run_dir, env=env, stdout=f,
                             timeout=RUN_TIMEOUT_S)
        if rc != 0 or not os.path.isfile(out):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            raise RunError("harness exited with %s" % rc)
        with open(out) as f:
            record = json.load(f)

        # checks
        if a.workload == "query_mix":
            bad = checks.check_queries(CHECK_SF_DIR, record["verify_dir"],
                                       manifest["queries"])
        else:
            bad = checks.check_xml(record["output_dir"], manifest)
        failed = len({operation(op) for op, _ in record["failures"]} |
                     set(bad))
        attempted = max(1, record["attempted"], failed)

        out_bytes = (checks.dir_bytes(record["output_dir"])
                     if a.workload != "query_mix" else 0)
        in_bytes = manifest.get("xml_bytes", 0)
        if a.trace:
            metrics, extra = layer_metrics(record, a.workload, out_bytes,
                                           in_bytes), {}
        else:
            metrics, extra = end_to_end(a.workload, record, manifest)
            if in_bytes:
                extra["out_bytes_per_in_byte"] = out_bytes / in_bytes
        extra["failed_ratio"] = failed / attempted

        # report
        print("workload %s seed %d trace %d" % (a.workload, a.seed, a.trace))
        print("pass walls (s): " + " ".join(
            "%s%.3f" % ("w" if p["warmup"] else "t" if p["traced"] else "",
                        p["wall_s"])
            for p in record["passes"]))
        if a.workload == "query_mix":
            print("query (s): untimed runs (w), then timed runs (t when "
                  "traced); best CPU of the untraced timed runs; reference")
            _, cpu = per_query([p for p in record["passes"]
                                if not p["traced"] and not p["warmup"]])
            for q in manifest["queries"]:
                runs = " ".join("%s%.3f" % ("w" if p["warmup"] else
                                            "t" if p["traced"] else "",
                                            p["latencies"][q])
                                for p in record["passes"]
                                if q in p["latencies"])
                print("query %-28s %s  cpu %.3f  ref %.3f" % (
                    q, runs, cpu.get(q, 0.0), manifest["reference_s"][q]))
        for op, msg in record["failures"]:
            print("FAILED %s: %s" % (op, msg.splitlines()[0] if msg else ""))
        for op in bad:
            print("FAILED check %s: %s" % (op, bad[op]))
        for k in sorted(metrics):
            print("metric %-28s %14.6f %s" % (k, metrics[k], unit_of(k)))
        for k in sorted(extra):
            print("info   %-28s %14.6f %s" % (k, extra[k], unit_of(k)))
        if a.trace:
            print("span self time (name, count, total s, self s):")
            for name, n, tot, self_s in analysis.span_table(record["spans"]):
                print("  %-22s %5d %10.3f %10.3f" % (name, n, tot, self_s))
        print("record " + json.dumps({
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "git_sha": git_sha(), "source_sha256": digest,
            "input_sha256": manifest["input_sha256"],
            "cores": record["cores"], "heap_max_mb": record["heap_max_mb"],
            "loadavg_before": load_before, "loadavg_after": loadavg(),
            "steal_share": steal_share(cpu_before, cpu_times()),
            "attempted": attempted, "failed": failed,
            "queries": manifest.get("queries"),
        }, sort_keys=True))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)}
                        for k, v in sorted(metrics.items())},
        }
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main(sys.argv[1:]))
    except RunError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        sys.exit(2)
