"""Generate PLANS.md: the executed physical plan of each headline query at
sf0.1 plus a scorecard of the scale-critical plan features (pushed filters,
pruned scans, broadcast joins, partial aggregation, whole-stage codegen
coverage, exchange count). The document is evidence that the 100 TB design
claims in SURVEY §4 correspond to the plans Catalyst actually produces —
regenerate after plan-affecting changes (tests/test_plans.py guards the
load-bearing shapes; this file is the human-readable audit trail).

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

# plan-auditable subset of bench.py's HEADLINE (streaming queries execute
# several micro-batch plans; they are audited in tests instead)
QUERIES = [
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "q_top_customers_per_nation",
    "knn_exact_euclidean",
    "knn_binary_rerank",
    "minhash_neardup",
    "simhash_neardup",
    "doc_quality",
    "doc_bigram_topk",
    "graph_pagerank_topk",
    "doc_weighted_sample",
    "evt_user_trend",
    "ivf_build_fixed",
    "knn_pq_fixed",
    # round-10: the hash-gated by_residual IVF×PQ twin (coarse build +
    # residual codebooks + per-cluster LUT ADC + rerank)
    "knn_pq_residual_fixed",
    "bpe_corpus_tokens",
    "rag_retrieve_chunks",
    "emb_triplet_mining",
    # round-4 headline additions
    "neardup_triangles",
    "evt_zorder_range_scan",
    # round-5 headline additions
    "doc_bm25_topk",
    "ivf_range_search",
    "doc_sample_quantiles",
    "doc_hll_distinct",
    # round-6: the iterative flagships' FINAL plans (per-round eager
    # localCheckpoint truncates lineage, so the dumped plan is the last
    # round on top of Scan ExistingRDD roots — small by construction; a
    # huge plan here means the checkpoint discipline regressed, and
    # tests/test_plans.py::test_iterative_lineage_bounded fails first) and
    # the multiprobe search
    "neardup_components_star",
    "neardup_kcore",
    "lsh_search_multiprobe",
    # round-9: the image/audio near-dup modalities (decode + fingerprint
    # mapInPandas seams feeding one shared banded Hamming join)
    "mm_image_phash_neardup",
    "mm_audio_fp_neardup",
    "mm_video_phash_neardup",
]


def main() -> None:
    from vers_spark.plans import audit
    from vers_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(app_name="plan_report", cpus="8")
    qmap = entry.queries()
    out = [
        "# PLANS — executed physical plans of the headline queries",
        "",
        f"Generated by tools/plan_report.py at {SF_DIR} (regenerate after",
        "plan-affecting changes). The scorecard row summarizes the features",
        "the 100 TB design depends on; tests/test_plans.py turns the",
        "load-bearing ones into regression failures.",
        "",
        "| query | scans (cols) | pushed filters | bcast join | SMJ | partial agg | codegen spans | exchanges |",
        "|---|---|---|---|---|---|---|---|",
    ]
    details = []
    for name in QUERIES:
        df = qmap[name](spark, SF_DIR)
        # AQE finalizes THIS dataframe's physical plan only when it itself
        # executes (count() would run a derived plan and leave this one
        # isFinalPlan=false); headline outputs are small, so collect is fine
        df.collect()
        # audit the FINAL plan only (an executed AdaptiveSparkPlan prints
        # "== Final Plan ==" followed by "== Initial Plan ==" — counting the
        # whole string would double everything)
        plan = audit.executed_plan(df).split("== Initial Plan ==")[0]
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        cols = [
            set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", m))
            for m in re.findall(r"FileScan \w+ \[([^\]]*)\]", plan)
        ]
        codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
        out.append(
            f"| {name} | {len(cols)} ({max((len(c) for c in cols), default=0)} max) "
            f"| {len([p for p in pushed if p.strip()])} "
            f"| {'y' if re.search(r'BroadcastHashJoin|BroadcastNestedLoopJoin', plan) else '-'} "
            f"| {'y' if 'SortMergeJoin' in plan else '-'} "
            f"| {'y' if 'partial_' in plan else '-'} "
            f"| {codegen} | {len(re.findall(r'Exchange (hash|range|SinglePartition|rebalance)', plan))} |"
        )
        details.append(f"\n## {name}\n\n```\n{plan.strip()[:4000]}\n```\n")
    out.append(
        "\nLegend: 'scans (cols)' = number of file scans (max columns read by"
        " one scan — compare against the table's full width for pruning);"
        " SMJ = sort-merge join present (expected only where both sides are"
        " large); codegen spans = distinct WholeStageCodegen regions (`*(n)`"
        " markers). Iterative/cached queries (minhash, pagerank) count each"
        " plan-string occurrence of a scan/exchange — ReusedExchange and the"
        " block cache dedupe them at runtime, so those columns overstate"
        " actual IO for the two iterative rows."
    )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n" + "\n".join(details))
    print(f"wrote PLANS.md ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
