"""Plan-shape regression tests: pushdown, pruning, broadcast, partial aggs.

These pin the Catalyst behaviors the 100 TB design depends on (SURVEY §4) —
a change that breaks one of these shapes would still pass value checks at
test scale while regressing badly at cluster scale.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from vers_spark.operators.relational import q1_pricing_summary, q5_revenue_by_nation
from vers_spark.operators.text_analysis import doc_quality
from vers_spark.operators.knn import exact_knn
from vers_spark.plans import audit
from vers_spark.sources.tables import load_table


def test_q5_join_and_pushdown(spark, sf_dir):
    df = q5_revenue_by_nation(spark, sf_dir)
    assert audit.has_broadcast_join(df)  # dims broadcast at this scale
    pushed = " ".join(audit.pushed_filters(df))
    assert "r_name" in pushed  # region predicate reaches the scan
    assert "o_orderdate" in pushed  # date range reaches the orders scan
    assert audit.has_partial_aggregate(df)


def test_q1_column_pruning(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    cols = audit.scan_columns(df)
    lineitem_scan = max(cols, key=len)
    # 16-column table, 7-column query: the scan must not read the rest
    assert "l_comment" not in lineitem_scan and "l_partkey" not in lineitem_scan
    assert audit.has_partial_aggregate(df)


def test_doc_quality_single_pass(spark, sf_dir):
    df = doc_quality(spark, sf_dir)
    # pure per-row expressions: no shuffle at all
    assert audit.num_exchanges(df) == 0
    cols = audit.scan_columns(df)
    assert all("source" not in c for c in cols)  # unused column pruned


def test_exact_knn_broadcasts_queries(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    df = exact_knn(q, emb, k=10)
    # the small query side must broadcast; the corpus must never shuffle
    assert audit.has_broadcast_join(df)
    assert not audit.has_sort_merge_join(df)


def test_exact_knn_unhinted_above_broadcast_cap(spark, sf_dir, monkeypatch):
    """Above the query-count cap exact_knn must not force a broadcast of a
    caller-supplied frame: the hint is gone from the logical plan (the
    planner may still choose a broadcast from its own size estimate), and
    the result is unchanged."""
    import vers_spark.operators.knn as K

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)

    def hinted(df):
        return "ResolvedHint (strategy=broadcast)" in df._jdf.queryExecution().logical().toString()

    under = exact_knn(q, emb, k=10)
    assert hinted(under)
    monkeypatch.setattr(K, "_BROADCAST_QUERY_CAP", 4)
    over = exact_knn(q, emb, k=10)
    assert not hinted(over)
    assert sorted(map(tuple, over.collect())) == sorted(map(tuple, under.collect()))


def test_blocked_knn_and_ivf_search_job_counts(spark, sf_dir, tmp_path):
    """Serving an 8-query batch starts at most 4 Spark jobs, for
    exact_knn_blocked and for a search on a file-loaded IVF index (its
    per-instance centroid and size caches warm, as in steady serving): the
    bounded query collect, then one Arrow pass and its ranking window."""
    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.operators.knn import exact_knn_blocked

    sc = spark.sparkContext
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    IVFFlatIndex.build(emb, num_clusters=8, seed=1).save(str(tmp_path / "ivf"))
    loaded = IVFFlatIndex.load(spark, str(tmp_path / "ivf"))
    loaded.search(q, k=10, n_probes=2).collect()  # warms the per-instance caches

    def jobs(group, call):
        sc.setJobGroup(group, group)
        try:
            call().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("test_jobs_exact_blocked", lambda: exact_knn_blocked(q, emb, k=10)) <= 4
    assert jobs("test_jobs_ivf_search", lambda: loaded.search(q, k=10, n_probes=2)) <= 4


def test_ivf_on_disk_search_partition_prunes(spark, sf_dir, tmp_path):
    """A search against the SAVED index must read only the probed
    cluster_id partitions of the posting lists — the Spark analogue of
    scanning only the probed posting lists (ivfflat.rs:166-195). The probe
    set is resolved on the driver, so the pruning is static: a literal
    ``cluster_id IN (…)`` partition filter on the scan."""
    from vers_spark.indexes.ivfflat import IVFFlatIndex

    emb = load_table(spark, sf_dir, "embeddings")
    idx = IVFFlatIndex.build(emb, num_clusters=8, seed=1)
    idx.save(str(tmp_path / "ivf"))
    loaded = IVFFlatIndex.load(spark, str(tmp_path / "ivf"))
    res = loaded.search(emb.filter(F.col("vec_id") < 3), k=5, n_probes=2)
    a_rows = res.collect()  # collect FIRST: metrics live on this plan
    plan = audit.executed_plan(res)
    # the probe list prunes posting-list directories at planning time
    part_filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any(re.search(r"cluster_id#\d+ IN \(", f) for f in part_filters), part_filters
    # runtime metrics, not just the plan string (BASELINE §r12): the
    # posting-list scan must read ≤ the probed-cluster union (≤ 3 queries
    # × 2 probes = 6 of 8 partitions) — cluster_id is a single partition
    # column, so the partition filter is exact here; only a partitioned
    # scan reports numPartitions, and it is the one that must show pruning
    scans = [
        s
        for s in audit.scan_runtime_metrics(res, "cluster_id#")
        if "numPartitions" in s
    ]
    assert scans, "partitioned posting-list scan not found in executed plan"
    assert all(0 < s["numPartitions"] <= 6 for s in scans), scans
    # and results are identical to the in-memory index's
    a = sorted(map(tuple, a_rows))
    b = sorted(map(tuple, idx.search(emb.filter(F.col("vec_id") < 3), k=5, n_probes=2).collect()))
    assert a == b


def test_filter_pushdown_through_load_table(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    pushed = " ".join(audit.pushed_filters(df))
    assert "o_orderstatus" in pushed
    cols = audit.scan_columns(df)
    assert all(len(c) <= 2 for c in cols)  # only key + filter column read


def test_q4_semi_join_no_cartesian(spark, sf_dir):
    """The correlated EXISTS must decorrelate to an equi-(semi/inner)-join on
    orderkey with the shipdate inequality as join filter — never a cartesian
    product — and the date window must reach the orders scan."""
    from vers_spark.operators.relational import q4_late_orders

    df = q4_late_orders(spark, sf_dir)
    plan = audit.executed_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "o_orderdate" in " ".join(audit.pushed_filters(df))


def test_q17_broadcast_dim_and_partial_agg(spark, sf_dir):
    """Brand-filtered part dim broadcasts; the per-part average is a
    partial/final aggregate, not a per-row subquery."""
    from vers_spark.operators.relational import q17_small_quantity_revenue

    df = q17_small_quantity_revenue(spark, sf_dir)
    assert audit.has_broadcast_join(df)
    assert audit.has_partial_aggregate(df)
    assert "p_brand" in " ".join(audit.pushed_filters(df))


def test_grouping_sets_single_expand(spark, sf_dir):
    """GROUPING SETS compiles to ONE Expand + one aggregate — not one scan
    per grouping set."""
    from vers_spark.operators.relational import q_events_grouping_sets

    df = q_events_grouping_sets(spark, sf_dir)
    plan = audit.executed_plan(df)
    assert plan.count("Expand") >= 1
    assert audit.count(df, r"FileScan parquet") == 1


def test_band_candidates_bucket_cap(spark, sf_dir):
    """The max_bucket skew guard drops only oversized buckets: capped result
    ⊆ exact result, and pairs outside big buckets survive."""
    from vers_spark.operators.text_dedup import minhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents").limit(200)
    exact = {(r["doc_a"], r["doc_b"]) for r in minhash_neardup_pairs(docs).collect()}
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_neardup_pairs(docs, max_bucket=2).collect()
    }
    assert capped <= exact


def test_minhash_pipeline_shapes(spark, sf_dir):
    """The near-dup pipeline must never degrade to a cartesian product (the
    band join is equi on (band_id, band_key)) and its signature aggregate
    must have a map-side partial."""
    from vers_spark.operators.text_dedup import minhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    df = minhash_neardup_pairs(docs)
    plan = audit.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert audit.has_partial_aggregate(df)


def test_simhash_pipeline_shapes(spark, sf_dir):
    from vers_spark.operators.text_dedup import simhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    df = simhash_neardup_pairs(docs)
    plan = audit.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert audit.has_partial_aggregate(df)


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located bucketed join (sources.bucketed): with both sides bucketed
    and sorted on the join key at the same bucket count, the SortMergeJoin
    consumes the scans directly — zero Exchange and zero per-task Sort in
    the executed plan. This is the ingest-once/join-many layout for 100 TB
    fact-fact joins; broadcast is disabled here to expose the merge path."""
    from vers_spark.sources.bucketed import write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    b_li = write_bucketed(
        li, "b_lineitem", str(tmp_path / "b_lineitem"), ["l_orderkey"], 8,
        sort_keys=["l_orderkey"],
    )
    b_orders = write_bucketed(
        orders, "b_orders", str(tmp_path / "b_orders"), ["o_orderkey"], 8,
        sort_keys=["o_orderkey"],
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = b_li.join(b_orders, b_li.l_orderkey == b_orders.o_orderkey)
        agg = joined.groupBy("o_orderkey").agg(F.sum("l_quantity").alias("q"))
        assert joined.count() == li.count()
        plan = audit.executed_plan(joined)
        assert audit.has_sort_merge_join(joined)
        assert audit.num_exchanges(joined) == 0  # bucket contract replaces shuffle
        assert "Bucketed: true" in plan and "SelectedBucketsCount: 8 out of 8" in plan
        # NB: a per-task Sort remains — Spark ≥3.0 ignores sortBy order on
        # read (SPARK-28869: multiple files per bucket have no merged order);
        # the win asserted here is shuffle elimination, which dominates.
        # downstream aggregate on the bucket key also needs no re-shuffle
        assert audit.num_exchanges(agg) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_skew_split_join_equivalence_and_shape(spark, sf_dir):
    """skew_split_join returns exactly the plain join's rows (inner and
    left), the hot path broadcasts, and hot discovery finds the planted
    heavy hitter."""
    from vers_spark.operators.skew import find_hot_keys, skew_split_join

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # plant a heavy hitter: remap 30% of orders onto one customer key
    skewed = orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(1)).otherwise(F.col("o_custkey")),
    )
    hot = find_hot_keys(skewed, "o_custkey", threshold=0.05, sample_fraction=1.0)
    assert hot == [1]

    for how in ("inner", "left"):
        plain = skewed.join(cust, skewed.o_custkey == cust.c_custkey, how)
        split = skew_split_join(skewed, cust, "o_custkey", "c_custkey", hot, how)
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, split.collect()))
        assert a == b, f"row mismatch for {how}"

    split = skew_split_join(skewed, cust, "o_custkey", "c_custkey", hot)
    assert audit.has_broadcast_join(split)


def test_ivfpq_adc_is_jvm_side(spark, sf_dir):
    """The IVFPQ ADC scan must be pure JVM (aggregate over zip_with/
    element_at inside codegen): once the codes table is materialized, the
    search plan may contain no Python evaluation node — the 16x-compressed
    scan would otherwise pay the row-at-a-time Python toll at exactly the
    scale the compression is for."""
    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.indexes.pq import PQCodec, ivfpq_search

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    queries = emb.filter(F.col("vec_id") < 3)
    ivf = IVFFlatIndex.build(corpus, num_clusters=4, seed=1)
    # materialize both one-time build passes (encode + cluster assignment,
    # numpy kernels by design) so the plan shows only the per-query path
    ivf.assignments = ivf.assignments.localCheckpoint()
    codec = PQCodec.train(corpus, m=8, k_codebook=16, max_iter=5)
    codes = codec.encode(corpus).localCheckpoint()
    df = ivfpq_search(ivf, codec, codes, queries, k=5, n_probes=2)
    plan = audit.executed_plan(df)
    assert "MapInPandas" not in plan and "EvalPython" not in plan
    assert df.count() > 0


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    from vers_spark.operators.text_analysis import doc_decontaminate

    df = doc_decontaminate(spark, sf_dir)
    # eval shingle set must broadcast; a sort-merge join here would shuffle
    # every training shingle at 100 TB
    assert audit.has_broadcast_join(df)
    assert not audit.has_sort_merge_join(df)
    assert audit.has_partial_aggregate(df)


def test_normalized_dedup_shuffles_fingerprint_not_text(spark, sf_dir):
    from vers_spark.operators.text_analysis import dedup_docs_normalized

    df = dedup_docs_normalized(spark, sf_dir)
    plan = audit.executed_plan(df)
    # the window exchange must partition on the md5 fingerprint; the raw
    # normalized text (unbounded width) must be projected away before it
    import re

    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "fp_norm" in m.group(1)
        assert "text" not in m.group(1)


def test_repetition_quality_single_pass(spark, sf_dir):
    from vers_spark.operators.text_analysis import doc_repetition_quality

    df = doc_repetition_quality(spark, sf_dir)
    assert audit.num_exchanges(df) == 0  # pure per-row array expressions


def test_pii_scrub_single_pass(spark, sf_dir):
    from vers_spark.operators.text_analysis import doc_pii_scrub

    df = doc_pii_scrub(spark, sf_dir)
    assert audit.num_exchanges(df) == 0


def test_ivf_bucketed_store_join_no_shuffle(spark, sf_dir, tmp_path):
    """IVFFlatIndex.save_bucketed: the on-disk assignments table is bucketed
    on cluster_id, so the similarity-join shape (per-cluster self-join)
    consumes the scans co-located — zero Exchange — instead of re-shuffling
    the corpus on every run."""
    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = IVFFlatIndex.build(emb, num_clusters=8, seed=42)
    b = idx.save_bucketed("b_ivf_assign", str(tmp_path / "ivf"), num_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = b.select("cluster_id", F.col("id").alias("a"))
        right = b.select("cluster_id", F.col("id").alias("bid"))
        pairs = left.join(right, "cluster_id").filter(F.col("a") < F.col("bid"))
        assert pairs.count() > 0
        assert audit.num_exchanges(pairs) == 0
        assert "Bucketed: true" in audit.executed_plan(pairs)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_ivf_assign")


def test_degenerate_simjoin_broadcasts_not_single_partition(spark, sf_dir):
    """num_clusters=1 similarity join: the constant join key must NOT become
    a one-partition shuffle join — the candidate side broadcasts and the
    probe side stays spread (the round-2 fix for the all-pairs oracle twin)."""
    from vers_spark.operators.pipeline_queries import _simjoin_ivf
    from vers_spark.operators.similarity import ivf_similarity_join

    emb = load_table(spark, sf_dir, "embeddings")
    df = ivf_similarity_join(emb, k=3, index=_simjoin_ivf(spark, sf_dir, 1))
    assert audit.has_broadcast_join(df)
    assert not audit.has_sort_merge_join(df)


def test_avro_fallback_read_is_distributed(spark, sf_dir, tmp_path):
    """The OCF fallback reader scans via binaryFile + mapInPandas — the
    plan must show a file-source scan feeding a Python/Arrow eval, with no
    driver-side collect anywhere in the read path."""
    from vers_spark.sources.avro_file import has_spark_avro, read_avro, write_avro

    docs = load_table(spark, sf_dir, "documents").limit(50)
    path = str(tmp_path / "avro_plan")
    write_avro(docs, path, n_files=2)
    back = read_avro(
        spark, path, "doc_id long, text string, lang string, source string, n_chars long"
    )
    plan = audit.executed_plan(back)
    if not has_spark_avro(spark):
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert back.count() == 50


def test_weighted_sample_is_top_k_not_global_sort(spark, sf_dir):
    """doc_weighted_sample's docstring claims TakeOrderedAndProject (per-
    partition heap + driver merge of k rows) — a global Sort+Limit plan
    would single-partition the corpus at 100 TB."""
    from vers_spark.operators.curation import doc_weighted_sample

    df = doc_weighted_sample(spark, sf_dir)
    plan = audit.executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert audit.num_exchanges(df) == 0  # no shuffle: heaps merge on driver


def test_cow_merge_read_partition_prunes(spark, sf_dir, tmp_path):
    """merge_into's base read must scan ONLY impacted bucket directories
    (PartitionFilters on _part) — the rewrite cost contract."""
    from vers_spark.sources.tables import load_table
    from vers_spark.sources.upsert import PART_COL, _bucket, write_cow_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "cow")
    write_cow_table(docs, path, key="doc_id", n_buckets=8)
    upd = docs.filter(F.col("doc_id") % 50 == 0).withColumn(
        PART_COL, _bucket("doc_id", 8)
    )
    impacted = sorted(r[PART_COL] for r in upd.select(PART_COL).distinct().collect())
    base = spark.read.parquet(path).filter(F.col(PART_COL).isin(impacted))
    plan = audit.executed_plan(base)
    assert "PartitionFilters" in plan and PART_COL in plan
    # the scan's partition filter carries the impacted ids, not a full scan
    assert f"{PART_COL}#" in plan or str(impacted[0]) in plan
    # runtime twin (VERDICT r13 #5: metrics, not strings): a single-key
    # update impacts exactly ONE bucket — the executed scan must have
    # READ exactly one partition, whatever the plan string claims
    key = docs.agg(F.min("doc_id")).collect()[0][0]
    bkt = (
        docs.filter(F.col("doc_id") == key)
        .withColumn(PART_COL, _bucket("doc_id", 8))
        .select(PART_COL)
        .collect()[0][0]
    )
    one = spark.read.parquet(path).filter(F.col(PART_COL) == bkt)
    one.collect()
    scans = audit.scan_runtime_metrics(one, f"{PART_COL}#")
    assert scans, "no scan metrics reachable — treat as failure, not pass"
    assert all(s.get("numPartitions") == 1 for s in scans), scans


def test_binary_rerank_broadcasts_queries_and_prunes(spark, sf_dir):
    """knn_binary_rerank: the tiny query side broadcasts for the Hamming
    scan (the corpus never shuffles for the join) and the corpus scan reads
    only the needed columns."""
    from vers_spark.operators.vector_queries import knn_binary_rerank

    df = knn_binary_rerank(spark, sf_dir)
    assert audit.has_broadcast_join(df)
    cols = audit.scan_columns(df)
    assert all("label" not in c for c in cols)  # unused column pruned


def test_fixed_lloyd_assign_is_partial_aggregate(spark, sf_dir):
    """The fixed build's argmin is a struct-MIN aggregate (map-side combine,
    no per-id window SORT over the k*n scored rows) and centroids broadcast
    into the cross join — the shapes the 100 TB build depends on."""
    from vers_spark.indexes.ivfflat import lloyd_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    cents, assigned = lloyd_fixed(emb, k=4, iters=1)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan  # map-side combine of the argmin struct
    # the only Window is the k-row init numbering; the corpus-sized argmin
    # must NOT be a window (one occurrence allowed, not two)
    assert plan.count("Window") <= 1
    assert audit.has_broadcast_join(assigned)


def test_rag_embed_single_shuffle(spark, sf_dir):
    """The 16 embedding dims are wide SUM aggregates over ONE (doc, chunk)
    shuffle (the minhash-signatures discipline): a dims-explode formulation
    would multiply the shuffle 16x — measured 20x superlinear at the 10x
    probe before the rewrite."""
    from vers_spark.operators.rag import rag_retrieve_chunks

    df = rag_retrieve_chunks(spark, sf_dir)
    assert audit.has_partial_aggregate(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the chunk-embedding aggregate carries all 16 sums in one operator
    assert plan.count("partial_sum") >= 16


def test_rag_topk_is_take_ordered_not_global_window(spark, sf_dir):
    """rag_retrieve_chunks' first-stage top-K must be TakeOrderedAndProject
    (per-partition partial top-K), not a global row_number window — the
    round-2 scale-killer single-partition sort of every chunk score."""
    from vers_spark.operators.rag import rag_retrieve_chunks

    df = rag_retrieve_chunks(spark, sf_dir)
    plan = audit.executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    # the only Window left ranks the K survivors (input bounded by limit)
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")


def test_pq_code_store_partition_pruning(spark, sf_dir, tmp_path):
    """The persisted PQ code store (indexes/pq.persist_codes_partitioned)
    must serve coarse-probed searches with STATIC partition pruning — the
    probed-cluster literal set reaches the parquet scan as a
    PartitionFilters entry, so at 100 TB only probed posting-list
    directories are read — and must return exactly the same rows as the
    assignments-join path it replaces."""
    from vers_spark.indexes.ivfflat import IVFFlatIndex
    from vers_spark.indexes.pq import PQCodec, ivfpq_search, persist_codes_partitioned

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    queries = emb.filter(F.col("vec_id") < 3)
    ivf = IVFFlatIndex.build(corpus, num_clusters=4, seed=1)
    codec = PQCodec.train(corpus, m=8, k_codebook=16, max_iter=5)
    codes_plain = codec.encode(corpus).localCheckpoint()
    store = persist_codes_partitioned(
        codes_plain, ivf.assignments, str(tmp_path / "codes")
    )
    pruned = ivfpq_search(ivf, codec, store, queries, k=5, n_probes=2)
    plan = audit.executed_plan(pruned)
    assert "PartitionFilters" in plan and "cluster_id" in plan
    base = ivfpq_search(ivf, codec, codes_plain, queries, k=5, n_probes=2)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, base.collect()))
    # runtime twin (VERDICT r13 #5: metrics, not strings): one query at
    # n_probes=2 probes ≤ 2 of the 4 cluster directories — the EXECUTED
    # code-store scan must have read at most 2 partitions
    one = ivfpq_search(
        ivf, codec, store, queries.limit(1), k=5, n_probes=2
    )
    one.collect()
    scans = audit.scan_runtime_metrics(one, "cluster_id#")
    assert scans, "no scan metrics reachable — treat as failure, not pass"
    assert all(s.get("numPartitions", 99) <= 2 for s in scans), scans


def test_knn_pq_fixed_serves_from_code_store(spark, sf_dir):
    """knn_pq_fixed serving must read the persisted code store (4 int code
    columns), not recompute coding folds over raw embeddings: exactly one
    scan in the plan reads the embedding column (the query block + rerank
    side), and a scan over (id, c0..c3) exists."""
    from vers_spark.operators.index_queries import knn_pq_fixed

    df = knn_pq_fixed(spark, sf_dir)
    scans = audit.scan_columns(df)
    code_scans = [s for s in scans if {"c0", "c1", "c2", "c3"} <= s]
    assert code_scans, f"no code-store scan found in {scans}"
    assert all("embedding" not in s for s in code_scans)


def test_iterative_lineage_bounded(spark, sf_dir):
    """SURVEY §12's eager-checkpoint lesson as a failing-on-revert guard:
    an iterative loop whose round references its own output >1× must
    localCheckpoint per round, or lazy lineage re-expands the upstream
    pipeline multiplicatively (k-core measured 48→14 s, HITS 35→13 s at
    sf0.01 when this landed in r5). The returned DataFrame's FINAL plan
    must therefore be the last round on top of checkpointed RDD roots:
    it scans ExistingRDDs (the checkpoint manifests) and its size does not
    grow with the round count. Removing the per-round localCheckpoint makes
    the plan the full unrolled loop — orders of magnitude larger — and
    fails both assertions."""
    from vers_spark.operators.graph import connected_components_star, kcore

    edges = spark.createDataFrame(
        # one 40-node path (deep diameter — star CC's raison d'être) plus a
        # 6-clique (k-core survivor at k=3)
        [(i, i + 1) for i in range(40)]
        + [(100 + i, 100 + j) for i in range(6) for j in range(i + 1, 6)],
        "src long, dst long",
    )
    cc = connected_components_star(edges, driver_cap=0)  # distributed path
    cc_plan = audit.executed_plan(cc)
    assert "ExistingRDD" in cc_plan
    assert len(cc_plan) < 20_000, len(cc_plan)

    kc = kcore(edges, k=3, rounds=6, driver_cap=0)  # distributed path
    kc_plan = audit.executed_plan(kc)
    assert "ExistingRDD" in kc_plan
    assert len(kc_plan) < 20_000, len(kc_plan)
    # the plan must not contain the unrolled rounds: one final degree
    # aggregate = ≤ 2 aggregate markers (partial + final), not 6 rounds' worth
    assert audit.count(kc, "HashAggregate") <= 4, audit.count(kc, "HashAggregate")


def test_lsh_on_disk_search_partition_prunes(spark, sf_dir, tmp_path):
    """A search against the SAVED forest must hit the (tree_id, _pp)-
    partitioned leaf store with dynamic partition pruning — only the probed
    path-prefix buckets are scanned, the LSH analogue of IVF's posting-list
    pruning (test above). Results must equal the in-memory index's."""
    from vers_spark.indexes.lsh import LSHForestIndex

    emb = load_table(spark, sf_dir, "embeddings")
    idx = LSHForestIndex.build(emb, num_trees=2, max_node_size=64, seed=3)
    idx.save(str(tmp_path / "lsh"))
    loaded = LSHForestIndex.load(spark, str(tmp_path / "lsh"))
    # the _pp partition column must survive type inference as STRING even
    # when every leaf path is >= _PP_LEN bits (digit-only values would be
    # inferred INT, silently defeating DPP via implicit casts and stripping
    # leading zeros on re-save) — hence the 'p' prefix in _pp_of
    ((pp_type, pp_vals),) = [
        (f.dataType.simpleString(), None) for f in loaded.leaves.schema if f.name == "_pp"
    ]
    assert pp_type == "string", pp_type
    pp_vals = {r[0] for r in loaded.leaves.select("_pp").distinct().collect()}
    assert all(v.startswith("p") for v in pp_vals), sorted(pp_vals)[:5]
    # re-save of a loaded index must preserve the partition values verbatim
    loaded.save(str(tmp_path / "lsh2"))
    re_loaded = LSHForestIndex.load(spark, str(tmp_path / "lsh2"))
    re_vals = {r[0] for r in re_loaded.leaves.select("_pp").distinct().collect()}
    assert re_vals == pp_vals
    # the hyperplane store partitions by level (_lvl): per-level descent
    # joins prune to one directory; values must equal the path lengths
    lvl_field = {f.name: f.dataType.simpleString() for f in loaded.hyperplanes.schema}
    assert lvl_field.get("_lvl") == "int", lvl_field
    bad = loaded.hyperplanes.filter(F.col("_lvl") != F.length("path")).count()
    assert bad == 0
    q = emb.filter(F.col("vec_id") < 3)
    res = loaded.search(q, k=5, backup_fill=False)
    a = sorted(map(tuple, res.collect()))  # collect FIRST: metrics live here
    plan = audit.executed_plan(res)
    assert "dynamicpruning" in plan, plan[:2000]
    # measured pruning on the MAIN search path too (BASELINE §r13: the
    # un-hinted shape read 128/128 partitions at the 1M store): ≤ 3
    # queries × 2 trees = 6 main-leaf buckets of 32
    mscans = [
        s
        for s in audit.scan_runtime_metrics(res, "_pp#")
        if "numPartitions" in s
    ]
    assert mscans and all(0 < s["numPartitions"] <= 6 for s in mscans), mscans
    b = sorted(map(tuple, idx.search(q, k=5, backup_fill=False).collect()))
    assert a == b
    # multiprobe serving path prunes too — and not just in the plan STRING:
    # the runtime scan metrics must show fewer partitions read than the
    # store holds (BASELINE §r12: the plan-string check alone passed while
    # the old layout read 128/128 at 1M; per-column DPP couldn't express
    # the (tree, prefix) pair, hence the fused _pp value). The probed set
    # here is ≤ 3 queries × 2 trees × 2 probes = 12 pairs of 32 buckets.
    mp = loaded.search_multiprobe(q, k=5, n_probes=2)
    am = sorted(map(tuple, mp.collect()))
    assert "dynamicpruning" in audit.executed_plan(mp)
    total_buckets = loaded.leaves.select("_pp").distinct().count()
    scans = audit.scan_runtime_metrics(mp, "_pp#")
    assert scans, "leaf scan not found in executed plan"
    assert all(s.get("numPartitions", 0) <= 12 for s in scans), (scans, total_buckets)
    assert all(s.get("numPartitions", 0) < total_buckets for s in scans), (
        scans,
        total_buckets,
    )
    bm = sorted(map(tuple, idx.search_multiprobe(q, k=5, n_probes=2).collect()))
    assert am == bm
    # the backup-fill path checkpoints `main`, so its FINAL plan can't show
    # the pruning expression (it fires inside the checkpoint job) — gate
    # results parity only
    af = sorted(map(tuple, loaded.search(q, k=5).collect()))
    bf = sorted(map(tuple, idx.search(q, k=5).collect()))
    assert af == bf


def test_rfm_no_single_partition_window(spark, sf_dir):
    """evt_rfm_segments' quintiles must NOT run as unpartitioned ntile
    windows (Exchange SinglePartition moving the whole per-user aggregate
    through ONE task, three times — the round-6 weak item). The rewrite
    computes a distributed global rank (range partition + local row_number
    + broadcast offsets) and derives the tile arithmetically. Allowed
    SinglePartition exchanges are only the ≤num-partitions-row final steps
    of global scalar aggregates (HashAggregate keys=[]) — never a Sort or
    Window parent."""
    from vers_spark.operators.temporal import evt_rfm_segments

    df = evt_rfm_segments(spark, sf_dir)
    plan = audit.executed_plan(df)
    assert "ntile" not in plan, plan[:3000]
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        parents = [
            p for p in lines[:i]
            if re.search(r"[A-Za-z]", p) and "WholeStageCodegen" not in p
        ]
        parent = parents[-1] if parents else ""
        assert "HashAggregate" in parent and "keys=[]" in parent, (
            f"SinglePartition exchange under non-scalar-agg parent: {parent!r}"
        )
    # results still engine-exact ntile semantics: 5x5x5 cells, counts sum to users
    rows = df.collect()
    assert rows and all(1 <= r["r"] <= 5 and 1 <= r["f"] <= 5 and 1 <= r["m"] <= 5 for r in rows)


def test_hnsw_on_disk_search_shard_prunes(spark, sf_dir, tmp_path):
    """Batch search against the SAVED shard store must scan only the probed
    shards' partitions. The probe sets are computed driver-side, so this is
    STATIC partition pruning (a literal IN on the shard_id partition
    column), asserted on the runtime metrics — the un-pruned shape scanned
    and shuffled every shard into cogroup tasks that returned empty."""
    from vers_spark.indexes.hnsw import HNSWIndex

    emb = load_table(spark, sf_dir, "embeddings")
    idx = HNSWIndex.build(emb, num_shards=8, seed=9)
    idx.save(str(tmp_path / "hnsw"))
    loaded = HNSWIndex.load(spark, str(tmp_path / "hnsw"))
    q = emb.filter(F.col("vec_id") < 3)
    res = loaded.search(q, k=5, n_probe_shards=2)
    a = sorted(map(tuple, res.collect()))
    # ≤ 3 queries × 2 probed shards = union ≤ 6 of 8 partitions, on BOTH
    # the nodes and the graph scan
    scans = [
        s
        for s in audit.scan_runtime_metrics(res, "shard_id#")
        if "numPartitions" in s
    ]
    assert len(scans) >= 2, scans
    assert all(0 < s["numPartitions"] <= 6 for s in scans), scans
    # and results equal the in-memory index's
    b = sorted(map(tuple, idx.search(q, k=5, n_probe_shards=2).collect()))
    assert a == b


def test_zorder_scan_skips_row_groups_at_runtime(spark, sf_dir, tmp_path):
    """Runtime twin of the bounding-box gate (VERDICT r13 #5): the plan
    string can't prove skipping — PushedFilters is present for BOTH
    layouts — but the executed scan's numOutputRows can. The same
    conjunctive (user, time) range predicate over the Z-ordered store
    must emit far fewer rows from the scan (row groups skipped via
    footer min/max on both dimensions) than over the naive round-robin
    layout, whose every row group spans ~the full domain and therefore
    skips nothing."""
    from vers_spark.sources.layout import write_zordered

    ev = load_table(spark, sf_dir, "events")
    naive = str(tmp_path / "naive")
    zpath = str(tmp_path / "z")
    ev.repartition(16).write.parquet(naive)
    write_zordered(ev, zpath, "user_id", "unix_micros(ts)", num_files=16)
    ucap = ev.agg(F.max("user_id")).collect()[0][0] // 10

    def scan_rows(path: str) -> int:
        df = spark.read.parquet(path).filter(
            (F.col("user_id") <= ucap)
            & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"))
        )
        df.collect()
        scans = audit.scan_runtime_metrics(df, "user_id#")
        assert scans, "no scan metrics reachable — treat as failure, not pass"
        return sum(s.get("numOutputRows", 0) for s in scans)

    nz = scan_rows(zpath)
    nn = scan_rows(naive)
    assert 0 < nz < nn / 2, (nz, nn)
