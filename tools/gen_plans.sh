#!/bin/bash
# Regenerate PLANS.md — the human-readable physical-plan evidence file —
# from graft.tools.Explain at sf0.1. Run after any plan-affecting change
# (PlanShapeSpec/PlanAuditSpec pin the load-bearing properties as tests;
# this file is the companion showing the full operator trees).
# Usage: gen_plans.sh   (writes PLANS.md at the repository root)
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
cd "$root"

# Headline set: the long-standing 20 plan exemplars plus the r9/r10
# engine-change surfaces (ktruss gated SHUFFLE_HASH peel, scaled-LSH
# near-dup, stats-gated vector broadcasts in dedup_semantic).
QUERIES="q_tpch_q5 q_tpch_q1 q_filter_range sim_ann_topk q_asof_native \
q_topk_global dedup_minhash_lsh q_salted_agg q_tpch_q21 pipeline_decontam \
dedup_simhash_pairs text_perplexity q_bloom_prejoin q_dsv2_scan \
layout_zorder graph_triangles pipeline_source_quantiles \
dedup_near_keep_best q_dpp_join ml_histogram_split \
graph_ktruss dedup_embedding_lsh dedup_semantic q_shuffle_hash_join"

CP="$root/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
java $OPENS -Xmx8g -Dspark.ui.enabled=false \
  -cp "$CP" graft.tools.Explain /root/testdata/sf0.1 $QUERIES \
  2>/dev/null >/tmp/plans_raw.txt

python3 - <<'EOF'
head = """# PLANS — physical-plan evidence (generated)

Formatted physical plans of headline queries at sf0.1, produced by
`tools/gen_plans.sh` (graft.tools.Explain). Regenerate after any
plan-affecting change; PlanShapeSpec pins the load-bearing properties
(broadcasts, pushdown, TakeOrderedAndProject, WindowGroupLimit, codegen)
as tests — this file is the human-readable companion showing the full
operator trees DESIGN.md reasons about.

Reading guide: `PushedFilters`/`ReadSchema` on scans = pushdown and
pruning reached parquet; `BroadcastHashJoin` chains over one fact scan =
no fact shuffle; `partial_*` + final `HashAggregate` pairs = map-side
combine; `TakeOrderedAndProject` = top-k without a global sort;
`ShuffledHashJoin` = the gated non-sorting closing-join path (r9);
`AsOfJoinBroadcastExec` = the custom operator, probe side unshuffled.
Giant embedded literals (broadcast bloom-filter bitsets, Z-order
interleave tables, LSH plane arrays) are truncated to 2000 chars — the
operator tree, not the literal bytes, is the evidence.

"""
out = [head, "```"]
for line in open('/tmp/plans_raw.txt'):
    line = line.rstrip('\n')
    if len(line) > 2000:
        line = line[:2000] + ' …[truncated]'
    out.append(line)
out.append("```")
open('PLANS.md', 'w').write('\n'.join(out) + '\n')
print(f"PLANS.md regenerated: {sum(1 for _ in open('PLANS.md'))} lines")
EOF
