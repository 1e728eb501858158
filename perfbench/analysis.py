"""Turn one run's raw record (spans, passes, setups) into metrics."""
import statistics


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [start, end] intervals, clipped to
    [lo, hi] when given; overlapping intervals count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span, in seconds: its duration minus the part of
    its interval that its child spans cover. A child's listener drain
    (after the child ended) is tracing cost and counts as covered too."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ns"], c["end_ns"] + int(c.get("drain_s", 0) * 1e9))
                for c in children.get(s["id"], [])]
        covered = union_length(kids, s["start_ns"], s["end_ns"])
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def subtree(spans, root_id):
    """The span with id `root_id` and all its descendants."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        out.append(by_id[sid])
        todo.extend(c["id"] for c in children.get(sid, []))
    return out


def span_table(spans):
    """Rows of (name, count, total seconds, self seconds), by self time."""
    selfs = self_times(spans)
    rows = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s["dur_s"]
        r[2] += selfs[s["id"]]
    return sorted(((n, c, t, st) for n, (c, t, st) in rows.items()),
                  key=lambda r: -r[3])


def _sum(spans, key):
    return sum(s[key] for s in spans)


def exec_counters(spans, op_spans, cores):
    """Execution-layer counters over the given operation spans, with the
    Spark work of their descendants included. Returns a dict."""
    m = dict.fromkeys(["exec.exec_s", "exec.jobs", "exec.stages", "exec.tasks",
                       "exec.task_run_s", "exec.task_cpu_s",
                       "exec.shuffle_read_mb", "exec.shuffle_write_mb",
                       "exec.spill_mb", "exec.input_mb",
                       "exec.driver_gap_s"], 0.0)
    mb = 1024.0 * 1024.0
    for op in op_spans:
        tree = subtree(spans, op["id"])
        m["exec.exec_s"] += op["dur_s"]
        m["exec.jobs"] += _sum(tree, "jobs")
        m["exec.stages"] += _sum(tree, "stages")
        m["exec.tasks"] += _sum(tree, "tasks")
        m["exec.task_run_s"] += _sum(tree, "task_run_s")
        m["exec.task_cpu_s"] += _sum(tree, "task_cpu_s")
        m["exec.shuffle_read_mb"] += _sum(tree, "shuffle_read_b") / mb
        m["exec.shuffle_write_mb"] += _sum(tree, "shuffle_write_b") / mb
        m["exec.spill_mb"] += _sum(tree, "spill_b") / mb
        m["exec.input_mb"] += _sum(tree, "input_b") / mb
        jobs = [j for s in tree for j in s["job_intervals"]]
        busy_ms = union_length(jobs, op["start_ms"], op["end_ms"])
        m["exec.driver_gap_s"] += max(0.0, op["dur_s"] - busy_ms / 1e3)
    m["exec.core_busy_ratio"] = (
        m["exec.task_run_s"] / (m["exec.exec_s"] * cores)
        if m["exec.exec_s"] > 0 else 0.0)
    return m


def _named(spans, name):
    return [s for s in spans if s["name"] == name]


def layer_metrics(record, workload, cores):
    """Per-layer metrics of a traced run (names as in BENCHMARK.json)."""
    spans = record["spans"]
    m = {
        "session.start_s": median(s["dur_s"] for s in _named(spans, "session.start")),
        "session.warmup_s": median(s["dur_s"] for s in _named(spans, "session.warmup")),
    }
    runs = sorted({s["run"] for s in spans if s["run"].startswith("pass")})

    def per_pass(fn):
        """Median over traced passes of a per-pass value."""
        return median(fn([s for s in spans if s["run"] == r]) for r in runs)

    if workload == "query_mix":
        op_name = "exec.run"
        root_name = "query"
    else:
        op_name = root_name = "xml.convert"
    for key in ["exec.exec_s", "exec.jobs", "exec.stages", "exec.tasks",
                "exec.task_run_s", "exec.task_cpu_s", "exec.shuffle_read_mb",
                "exec.shuffle_write_mb", "exec.spill_mb", "exec.input_mb",
                "exec.driver_gap_s", "exec.core_busy_ratio"]:
        m[key] = per_pass(lambda ps, key=key: exec_counters(
            ps, _named(ps, op_name), cores)[key])
    m["jvm.gc_s"] = per_pass(lambda ps: _sum(_named(ps, root_name), "gc_s"))

    def build_jobs(ps):
        return sum(_sum(subtree(ps, b["id"]), "jobs")
                   for b in _named(ps, "operators.build"))

    m["operators.build_s"] = per_pass(lambda ps: _sum(_named(ps, "operators.build"), "dur_s"))
    m["operators.build_jobs"] = per_pass(build_jobs)
    m["planner.plan_s"] = per_pass(lambda ps: _sum(_named(ps, "planner.plan"), "dur_s"))
    m["planner.exchanges"] = per_pass(lambda ps: _sum(_named(ps, op_name), "exchanges"))
    m["planner.topk_nodes"] = per_pass(lambda ps: _sum(_named(ps, op_name), "topk_nodes"))

    def jobs_per_input(ps):
        conv = _named(ps, "xml.convert")
        inputs = sum(c["attrs"].get("inputs", 0) for c in conv)
        jobs = sum(_sum(subtree(ps, c["id"]), "jobs") for c in conv)
        return jobs / inputs if inputs else 0.0

    m["xml.compile_xsd_s"] = median(s["dur_s"] for s in _named(spans, "xml.compile_xsd"))
    m["xml.convert_s"] = per_pass(lambda ps: _sum(_named(ps, "xml.convert"), "dur_s"))
    m["xml.jobs_per_input"] = per_pass(jobs_per_input)
    m["xml.output_files"] = per_pass(lambda ps: sum(
        c["attrs"].get("outputs", 0) for c in _named(ps, "xml.convert")))
    m["xml.read_noop_s"] = median(s["dur_s"] for s in _named(spans, "xml.read_noop"))
    m["sources.read_noop_s"] = median(s["dur_s"] for s in _named(spans, "sources.read_noop"))
    m["sources.members"] = median(s["attrs"].get("members", 0)
                                  for s in _named(spans, "sources.members"))

    # Share of the untraced operation wall that the traced layer spans
    # account for: on query_mix the build, plan and exec spans of a pass,
    # on the XML workload its convert span.
    layers = ("operators.build", "planner.plan", "exec.run") \
        if workload == "query_mix" else ("xml.convert",)
    base = median(p["wall_s"] for p in _timed(record, traced=False))
    m["trace.accounted_ratio"] = per_pass(lambda ps: sum(
        s["dur_s"] for s in ps if s["name"] in layers)) / base if base else 0.0
    m["trace.drain_timeouts"] = sum(1 for s in spans if s["drain_timed_out"])
    m["trace.overhead_ratio"] = overhead_ratio(record)
    return m


def _timed(record, traced):
    return [p for p in record["passes"]
            if not p["warmup"] and p["traced"] == traced]


def overhead_ratio(record):
    """Traced over untraced wall of a pass over the same operations
    (medians over passes)."""
    base = median(p["wall_s"] for p in _timed(record, traced=False))
    return median(p["wall_s"] for p in _timed(record, traced=True)) / base \
        if base else 0.0
