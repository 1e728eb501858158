#!/usr/bin/env bash
# Fixed-panel bench (round-17 ask #5): the cross-round comparison
# device the r16 drift attribution proved out, promoted from SURVEY
# prose to a committed artifact. 20 pinned queries (5 cheap / 5 mid /
# 10 heavy), SPARK_GRAFT_PASSES passes (default 3), MIN per query via
# Bench's own estimator, wrapped with the git SHA and the window's
# loadavg so two PANEL records are comparable by construction.
# Cross-round totals are read ONLY through same-window A/Bs or panel
# records whose ambient levels are stated — that is the point.
#
# Usage: tools/run_panel.sh [out.json]   (default PANEL.json)
set -eu
cd "$(dirname "$0")/.."
OUT="${1:-PANEL.json}"

PANEL_CHEAP="q_scalar_math,q_join_inner,q_filter_pred,q_win_rank,q_agg_group"
PANEL_MID="q_topsis_rank,q_rolling_p95,q_item_cosine,q_lsh_curve,q_price_index"
PANEL_HEAVY="q_minhash_eval,q_select_coverage,q_graph_resource_alloc,q_graph_triangle,q_graph_commonnbrs,q_ssjoin_prefix,q_corpus_pipeline,q_ccnet_buckets,q_kcenter_seed,q_containment"

DETAIL=$(mktemp /tmp/panel_detail.XXXX.json)
LOAD_BEFORE=$(cut -d' ' -f1 /proc/loadavg)
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  SPARK_GRAFT_PASSES="${SPARK_GRAFT_PASSES:-3}" \
  SPARK_GRAFT_ONLY="$PANEL_CHEAP,$PANEL_MID,$PANEL_HEAVY" \
  SPARK_GRAFT_OUT="$DETAIL" \
  sbt -batch "runMain graft.Bench" >/dev/null
LOAD_AFTER=$(cut -d' ' -f1 /proc/loadavg)

python3 - "$OUT" "$DETAIL" "$LOAD_BEFORE" "$LOAD_AFTER" <<'EOF'
import json, subprocess, sys, time
out, detail, lb, la = sys.argv[1:5]
bench = json.load(open(detail))
sha = subprocess.run(["git", "rev-parse", "HEAD"],
                     capture_output=True, text=True).stdout.strip()
doc = {
    "panel": sorted(bench.get("queries", {}).keys()),
    "queries": bench.get("queries", {}),
    "total_sec": bench.get("value"),
    "sf": bench.get("sf"),
    "passes_rule": "MIN per query over SPARK_GRAFT_PASSES passes",
    "git_sha": sha,
    "loadavg_before": float(lb),
    "loadavg_after": float(la),
    "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
}
with open(out, "w") as f:
    json.dump(doc, f, indent=1, sort_keys=True)
    f.write("\n")
print(f"wrote {out}: total {doc['total_sec']} s, "
      f"loadavg {lb} -> {la}")
EOF
