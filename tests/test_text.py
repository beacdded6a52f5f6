"""Text analysis + near-dup operators: oracle matches and semantic checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle import assert_oracle_match
from vers_spark.operators import text_analysis as TA
from vers_spark.operators import text_dedup_queries as TDQ
from vers_spark.operators.text_dedup import minhash_neardup_pairs, simhash_neardup_pairs


@pytest.mark.parametrize("name", sorted(TA.ORACLE_SQL))
def test_analysis_oracle(spark, sf_dir, name):
    assert_oracle_match(spark, sf_dir, name, TA.QUERIES[name], TA.ORACLE_SQL[name])


def _curation_oracle_names():
    from vers_spark.operators import curation

    return sorted(curation.ORACLE_SQL)


@pytest.mark.parametrize("name", _curation_oracle_names())
def test_curation_oracle(spark, sf_dir, name):
    from vers_spark.operators import curation

    assert_oracle_match(
        spark, sf_dir, name, curation.QUERIES[name], curation.ORACLE_SQL[name]
    )


def test_upsert_merge_rewrites_only_impacted_buckets(spark, sf_dir):
    """COW merge contract: bucket directories with no updated key keep their
    parquet files BYTE-IDENTICAL (same paths, sizes, mtimes) — the rewrite
    cost is proportional to the update batch's bucket fan-out, not table
    size."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from vers_spark.sources.tables import load_table
    from vers_spark.sources.upsert import merge_into, read_cow_table, write_cow_table

    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="vs_cowtest_") + "/t"
    write_cow_table(docs, path, key="doc_id", n_buckets=8)

    def snapshot():
        out = {}
        for d in os.listdir(path):
            if not d.startswith("_part="):
                continue
            full = os.path.join(path, d)
            out[d] = sorted(
                (f, os.path.getsize(os.path.join(full, f)), os.path.getmtime(os.path.join(full, f)))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            )
        return out

    before = snapshot()
    updates = docs.filter(F.col("doc_id") % 50 == 0).withColumn(
        "n_chars", F.col("n_chars") + 7
    )
    impacted = merge_into(spark, path, updates, key="doc_id", n_buckets=8)
    after = snapshot()
    assert 0 < len(impacted) < 8, impacted  # the batch must not touch every bucket
    for d, files in before.items():
        bucket = int(d.split("=")[1])
        if bucket not in impacted:
            assert after[d] == files, f"untouched bucket {d} was rewritten"
        else:
            assert after[d] != files, f"impacted bucket {d} was not rewritten"

    # merged content == declarative merge semantics
    got = {
        r["doc_id"]: r["n_chars"]
        for r in read_cow_table(spark, path).select("doc_id", "n_chars").collect()
    }
    want = {
        r["doc_id"]: r["n_chars"] + (7 if r["doc_id"] % 50 == 0 else 0)
        for r in docs.select("doc_id", "n_chars").collect()
    }
    assert got == want


def test_merge_delete_empties_bucket_directory(spark, sf_dir):
    """Deleting EVERY key of a bucket must remove its directory — dynamic
    partition overwrite alone cannot do this (no output rows for the bucket
    → directory untouched → stale files resurrect on read), so merge_into
    removes emptied buckets explicitly; deletes win over updates on
    overlapping keys."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from vers_spark.sources.tables import load_table
    from vers_spark.sources.upsert import (
        PART_COL,
        _bucket,
        merge_into,
        read_cow_table,
        write_cow_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="vs_cowdel_") + "/t"
    write_cow_table(docs, path, key="doc_id", n_buckets=4)

    parts = docs.select("doc_id", _bucket("doc_id", 4).alias(PART_COL))
    victim = parts.groupBy(PART_COL).count().orderBy(PART_COL).first()[PART_COL]
    victim_keys = parts.filter(F.col(PART_COL) == victim).select("doc_id")
    overlap_key = victim_keys.orderBy("doc_id").first()["doc_id"]
    # an update on a deleted key: the delete must win
    updates = docs.filter(F.col("doc_id") == overlap_key).withColumn(
        "n_chars", F.col("n_chars") + 999
    )
    merge_into(spark, path, updates, key="doc_id", n_buckets=4, deletes=victim_keys)

    assert not os.path.exists(f"{path}/{PART_COL}={victim}")
    got = {r["doc_id"] for r in read_cow_table(spark, path).select("doc_id").collect()}
    want = {
        r["doc_id"]
        for r in parts.filter(F.col(PART_COL) != victim).select("doc_id").collect()
    }
    assert got == want


@pytest.mark.parametrize("name", sorted(TDQ.ORACLE_SQL))
def test_dedup_oracle(spark, sf_dir, name):
    assert_oracle_match(spark, sf_dir, name, TDQ.QUERIES[name], TDQ.ORACLE_SQL[name])


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """MinHash pairs are a subset of the exact n-gram-Jaccard pairs (the
    verification step kills every false positive) with recall ≥ 0.8 —
    banding with 4 bands × 4 hashes misses jaccard≈0.85 pairs ~8% of the
    time, which is correct MinHash behavior, not a bug."""
    from vers_spark.operators.text_dedup import ngram_jaccard_pairs

    aug = TDQ._augmented(spark, sf_dir, 7, TDQ.NEAR_TAIL)
    approx = {(r["doc_a"], r["doc_b"]) for r in minhash_neardup_pairs(aug, 0.8).collect()}
    exact = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(aug, 0.8).collect()}
    assert approx <= exact
    assert exact and len(approx) / len(exact) >= 0.8


def test_simhash_exact_dups_hamming_zero(spark, sf_dir):
    aug = TDQ._augmented(spark, sf_dir, 5, "")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup_pairs(aug, 3).collect()
    }
    expected = {
        (r["doc_id"], r["doc_id"] + 10000)
        for r in aug.filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 10000))
        .select("doc_id")
        .collect()
    }
    for p in expected:
        assert pairs.get(p) == 0


def test_jsonl_roundtrip_preserves_rows(spark, sf_dir):
    """JSONL round trip: every document row survives with its (source, lang)
    intact, and the injected corrupt lines are quarantined (counted, not
    dropped)."""
    from vers_spark.operators.text_analysis import doc_jsonl_roundtrip
    from vers_spark.sources.tables import load_table

    got = {
        (r["source"], r["lang"]): (r["n_rows"], r["n_corrupt"])
        for r in doc_jsonl_roundtrip(spark, sf_dir).collect()
    }
    direct = {
        (r["source"], r["lang"]): r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    corrupt = got.pop((None, None))
    assert corrupt == (2, 2)  # both bad lines quarantined, none dropped
    assert {k: v[0] for k, v in got.items()} == direct
    assert all(v[1] == 0 for v in got.values())


def test_csv_roundtrip_preserves_rows(spark, sf_dir):
    """CSV round trip: every document row survives with its (source, lang)
    intact; the injected bad-arity line is quarantined, not dropped."""
    from vers_spark.operators.text_analysis import doc_csv_roundtrip
    from vers_spark.sources.tables import load_table

    got = {
        (r["source"], r["lang"]): (r["n_rows"], r["n_corrupt"])
        for r in doc_csv_roundtrip(spark, sf_dir).collect()
    }
    direct = {
        (r["source"], r["lang"]): r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    clean = {k: v for k, v in got.items() if k in direct}
    assert {k: v[0] for k, v in clean.items()} == direct
    assert all(v[1] == 0 for v in clean.values())
    quarantined = sum(v[1] for k, v in got.items() if k not in direct)
    assert quarantined == 1


def test_avro_roundtrip_preserves_rows_and_nulls(spark, tmp_path):
    """Avro OCF source/sink: values, nulls, and row counts survive the round
    trip on whichever path is active (spark-avro module or the
    self-contained null-codec fallback)."""
    from vers_spark.sources.avro_file import read_avro, write_avro

    rows = [
        (1, "hello world", None, 2.5, True),
        (2, None, b"\x00\xff", -1.0, False),
        (3, "ünïcødé", b"", 0.0, None),
    ]
    schema = "id long, s string, b binary, d double, f boolean"
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "avro_rt")
    write_avro(df, path, n_files=2)
    back = read_avro(spark, path, schema)
    got = sorted(
        (tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r))
        for r in back.collect()
    )
    assert got == sorted(rows)


def test_versioned_snapshots_share_files_and_vacuum(spark, sf_dir):
    """Versioned COW: v1's manifest re-references v0's files for untouched
    buckets (no copy); after vacuum(keep_last=1) the current version still
    reads exactly, shared files survive the GC (reference-counted, not
    age-based), and only files exclusive to dropped versions are deleted."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from vers_spark.sources.tables import load_table
    from vers_spark.sources.versioned import (
        _read_manifest,
        create_versioned,
        list_versions,
        merge_versioned,
        read_version,
        vacuum,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="vs_ver_") + "/t"
    create_versioned(docs, path, key="doc_id", n_buckets=8)
    updates = docs.filter(F.col("doc_id") % 40 == 0).withColumn(
        "n_chars", F.col("n_chars") + 5
    )
    v1 = merge_versioned(spark, path, updates)
    assert v1 == 1 and list_versions(path) == [0, 1]

    m0, m1 = _read_manifest(path, 0), _read_manifest(path, 1)
    shared = [b for b in m1["buckets"] if m1["buckets"][b] == m0["buckets"].get(b)]
    changed = [b for b in m1["buckets"] if m1["buckets"][b] != m0["buckets"].get(b)]
    assert shared, "untouched buckets must be referenced, not rewritten"
    assert changed, "impacted buckets must get new files"
    for b in shared:  # shared entries point INTO the v0 data tree
        assert all("/data/v0/" in f for f in m1["buckets"][b])

    # snapshot isolation: v0 read AFTER the merge equals the base table
    v0_sum = read_version(spark, path, 0).agg(F.sum("n_chars")).collect()[0][0]
    base_sum = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert v0_sum == base_sum

    removed = vacuum(path, keep_last=1)
    assert removed > 0, "v0-exclusive files of impacted buckets must be GC'd"
    assert list_versions(path) == [1]
    for b in shared:  # files shared with v1 survived
        assert all(os.path.exists(f) for f in m1["buckets"][b])
    got = {
        r["doc_id"]: r["n_chars"]
        for r in read_version(spark, path).select("doc_id", "n_chars").collect()
    }
    want = {
        r["doc_id"]: r["n_chars"] + (5 if r["doc_id"] % 40 == 0 else 0)
        for r in docs.select("doc_id", "n_chars").collect()
    }
    assert got == want


def test_prefix_filter_equals_full_join_with_fewer_candidates(spark, sf_dir):
    """Prefix filtering is COMPLETE: the pruned join returns exactly the
    full inverted-index join's pairs, while indexing ~(1-t) of each set's
    tokens (the rarest ones), so candidate volume drops."""
    from vers_spark.operators.text_dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    aug = TDQ._augmented(spark, sf_dir, 7, TDQ.NEAR_TAIL)
    full = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(aug, 0.8).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs_prefix(aug, 0.8).collect()
    }
    assert pref == full and full


def test_rag_retrieve_oracle(spark, sf_dir):
    """End-to-end RAG retrieval (chunk → hash-projection embed → dot score →
    top-k) hash-matches its DuckDB twin — integer embeddings make the whole
    retrieval ranking engine-exact."""
    from tests.oracle import assert_oracle_match
    from vers_spark.operators import rag

    assert_oracle_match(
        spark, sf_dir, "rag_retrieve_chunks",
        rag.QUERIES["rag_retrieve_chunks"], rag.ORACLE_SQL["rag_retrieve_chunks"],
    )


def test_rag_maxsim_oracle(spark, sf_dir):
    from tests.oracle import assert_oracle_match
    from vers_spark.operators import rag

    assert_oracle_match(
        spark, sf_dir, "rag_maxsim_rerank",
        rag.QUERIES["rag_maxsim_rerank"], rag.ORACLE_SQL["rag_maxsim_rerank"],
    )


def test_rag_mmr_rerank_oracle_and_greedy_semantics(spark, sf_dir):
    """MMR rerank hash-matches its unrolled-CTE DuckDB twin, and the
    trajectory is a valid greedy: sel_rank 1..k, first pick is the
    relevance argmax (max_sim = 0), and every later pick's (max_sim, mmr)
    recompute exactly from the candidate set — an independent replay of
    the selection, not a re-read of the operator's own output."""
    from tests.oracle import assert_oracle_match
    from vers_spark.operators import rag
    from vers_spark.operators.rag import EMB_DIMS, MMR_W_DIV, MMR_W_REL, _mmr_candidates

    assert_oracle_match(
        spark, sf_dir, "rag_mmr_rerank",
        rag.QUERIES["rag_mmr_rerank"], rag.ORACLE_SQL["rag_mmr_rerank"],
    )
    cand = {
        (r["doc_id"], r["chunk_id"]): (
            [r[f"e{d}"] for d in range(EMB_DIMS)], r["rel"]
        )
        for r in _mmr_candidates(spark, sf_dir).collect()
    }
    got = rag.QUERIES["rag_mmr_rerank"](spark, sf_dir).collect()
    assert [r["sel_rank"] for r in got] == list(range(1, len(got) + 1))
    assert got[0]["max_sim"] == 0
    assert got[0]["rel"] == max(rel for _, rel in cand.values())
    picked, chosen = [], set()
    for r in got:
        # replay the whole step: the pick must be the argmax over unchosen
        step_best = min(
            (
                (
                    -(MMR_W_REL * rel - MMR_W_DIV * max(
                        (sum(a * b for a, b in zip(emb, p)) for p in picked),
                        default=0,
                    )),
                    k[0],
                    k[1],
                )
                for k, (emb, rel) in cand.items()
                if k not in chosen
            ),
        )
        assert (step_best[1], step_best[2]) == (r["doc_id"], r["chunk_id"])
        emb, rel = cand[(r["doc_id"], r["chunk_id"])]
        msim = max(
            (sum(a * b for a, b in zip(emb, p)) for p in picked), default=0
        )
        assert r["rel"] == rel and r["max_sim"] == msim
        assert r["mmr"] == MMR_W_REL * rel - MMR_W_DIV * msim
        picked.append(emb)
        chosen.add((r["doc_id"], r["chunk_id"]))
    assert len(chosen) == len(got)


def test_version_diff_oracle_and_bucket_pruning(spark, sf_dir):
    """diff_versions: (a) the changelog hash-matches the declarative delta
    (driver oracle twin), (b) file-identity pruning leaves untouched buckets
    out of the diff's input entirely."""
    import tempfile

    from pyspark.sql import functions as F

    from tests.oracle import assert_oracle_match
    from vers_spark.operators import curation
    from vers_spark.sources.tables import load_table
    from vers_spark.sources.versioned import (
        _read_manifest,
        create_versioned,
        diff_versions,
        merge_versioned,
    )

    assert_oracle_match(
        spark, sf_dir, "doc_version_diff",
        curation.QUERIES["doc_version_diff"], curation.ORACLE_SQL["doc_version_diff"],
    )

    # pruning: touch ONE key -> at most a couple of buckets differ between
    # manifests, so the diff reads only those
    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="vs_diff_prune_") + "/docs"
    create_versioned(docs, path, key="doc_id", n_buckets=16)
    one = docs.filter(F.col("doc_id") == 0).select(
        "doc_id", "text", "lang", "source", (F.col("n_chars") + 1).alias("n_chars")
    )
    merge_versioned(spark, path, one)
    m0, m1 = _read_manifest(path, 0), _read_manifest(path, 1)
    changed = [p for p in set(m0["buckets"]) | set(m1["buckets"])
               if m0["buckets"].get(p) != m1["buckets"].get(p)]
    assert len(changed) == 1  # only doc 0's bucket was rewritten
    d = diff_versions(spark, path, 0, 1).collect()
    assert {(r["doc_id"], r["action"]) for r in d} == {(0, "update")}


def test_containment_pairs_oracle_and_superset_recovery(spark, sf_dir):
    """Asymmetric containment dedup: hash-matches its DuckDB twin, and every
    injected superset copy (doc + long boilerplate tail) is recovered at
    containment exactly 1.0 — the pairs symmetric Jaccard at 0.8 misses."""
    from tests.oracle import assert_oracle_match
    from vers_spark.operators import text_dedup_queries as TDQ

    assert_oracle_match(
        spark, sf_dir, "doc_containment_pairs",
        TDQ.QUERIES["doc_containment_pairs"], TDQ.ORACLE_SQL["doc_containment_pairs"],
    )
    rows = TDQ.QUERIES["doc_containment_pairs"](spark, sf_dir).collect()
    injected = [r for r in rows if r["doc_big"] == r["doc_small"] + 30000]
    assert injected and all(r["containment"] == 1.0 for r in injected)


def test_bloom_decontaminate_superset_of_exact(spark, sf_dir):
    """One-sided-error contract of the bloom variant: a bloom filter can
    false-positive but never false-negative, so for every training doc
    n_bloom_hits >= n_hits (exact) with identical shingle counts, and every
    doc the exact gate flags contaminated is flagged by the bloom gate.
    Also bound the false-positive inflation: at m = 2^17 bits, k = 3 and
    the sf0.001 eval load the aggregate FP lift must stay small."""
    exact = {
        r["doc_id"]: r
        for r in TA.QUERIES["doc_decontaminate"](spark, sf_dir).collect()
    }
    bloom = {
        r["doc_id"]: r
        for r in TA.QUERIES["doc_decontaminate_bloom"](spark, sf_dir).collect()
    }
    assert set(exact) == set(bloom)
    total_exact = total_bloom = 0
    for did, e in exact.items():
        b = bloom[did]
        assert b["n_shingles"] == e["n_shingles"], did
        assert b["n_bloom_hits"] >= e["n_hits"], did  # no false negatives
        if e["contaminated"]:
            assert b["contaminated_bloom"], did
        total_exact += e["n_hits"]
        total_bloom += b["n_bloom_hits"]
    # (1 - e^{-kn/m})^k with n = distinct eval shingles at this SF keeps the
    # corpus-wide FP lift well under 5% of probed shingles
    n_probed = sum(e["n_shingles"] for e in exact.values())
    assert total_bloom - total_exact <= max(0.05 * n_probed, 50)


def test_window_dups_recovers_prefixed_copies(spark, sf_dir):
    """ExactSubstr-style recall: a prefixed copy (doc_id + 50000) shares
    every interior window with its original, so BOTH sides of each injected
    pair must report dup_fraction near 1 (the copy's first W-1 windows
    straddle the prefix), and a corpus with no cross-doc verbatim spans
    would report 0 — docs NOT in an injected pair dominate the low end."""
    rows = {r["doc_id"]: r for r in TA.QUERIES["doc_window_dups"](spark, sf_dir).collect()}
    # docs shorter than the window width emit one truncated window that the
    # prefix perturbs — the interior-window guarantee needs >= W full tokens
    originals = [d for d in rows if d + 50000 in rows and rows[d]["n_windows"] > 1]
    assert originals, "augmentation injected no full-window copies at this SF"
    for d in originals:
        orig, copy = rows[d], rows[d + 50000]
        # original: every one of its windows also occurs in the copy
        assert orig["n_dup_windows"] == orig["n_windows"], d
        # copy: every original window is among the copy's windows, so the
        # copy shares at least orig["n_windows"] of its own
        assert copy["n_dup_windows"] >= copy["n_windows"] - (TA.WINDOW_DUP_W - 1), d
        assert copy["n_dup_windows"] >= orig["n_windows"], d


def test_versioned_compaction_commit(spark, sf_dir):
    """compact_versioned publishes a maintenance VERSION: over-bound buckets
    collapse to one file each, untouched buckets are carried by reference
    (same paths), the table's rows are unchanged, diff between the two
    versions is empty, and vacuum reclaims the fragmented files once the
    pre-compaction version expires."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from vers_spark.sources.tables import load_table
    from vers_spark.sources.versioned import (
        _read_manifest,
        compact_versioned,
        create_versioned,
        current_version,
        diff_versions,
        read_version,
        vacuum,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="vs_compact_") + "/docs"
    # force many write tasks → several files per bucket dir
    create_versioned(docs.repartition(8), path, key="doc_id", n_buckets=4)
    m0 = _read_manifest(path, 0)
    assert any(len(fl) > 1 for fl in m0["buckets"].values()), "no fragmentation staged"
    rows_before = sorted(map(tuple, read_version(spark, path).collect()))

    v1 = compact_versioned(spark, path, max_files_per_bucket=1)
    assert v1 == 1 and current_version(path) == 1
    m1 = _read_manifest(path, 1)
    assert all(len(fl) == 1 for fl in m1["buckets"].values())
    assert sorted(map(tuple, read_version(spark, path).collect())) == rows_before
    assert diff_versions(spark, path, 0, 1).count() == 0  # pure maintenance
    # compaction is idempotent once under the bound
    assert compact_versioned(spark, path, max_files_per_bucket=1) == 1

    old_files = {f for fl in m0["buckets"].values() for f in fl}
    removed = vacuum(path, keep_last=1)
    assert removed == len(old_files)  # every fragmented file reclaimed
    assert all(not os.path.exists(f) for f in old_files)
    assert sorted(map(tuple, read_version(spark, path).collect())) == rows_before


def test_cms_heavy_hitters_one_sided_error(spark, sf_dir):
    """Count-min contract: the sketch NEVER undercounts (min over depth of
    bucket sums each ≥ the true count), and the overshoot obeys the
    ~N·e/width expectation loosely (collisions among ~N distinct tokens
    into 1024 buckets × 4 rows)."""
    from vers_spark.operators.text_analysis import CMS_WIDTH
    from vers_spark.sources.tables import load_table
    from vers_spark.functions import text as TX

    rows = TA.QUERIES["doc_cms_heavy_hitters"](spark, sf_dir).collect()
    assert len(rows) == 20
    docs = load_table(spark, sf_dir, "documents")
    n_total = docs.select(F.explode(TX.ws_tokens(F.col("text"))).alias("t")).count()
    for r in rows:
        assert r["cms_n"] >= r["exact_n"], r
        # loose bound: expected collision mass per row is N/width; min over
        # 4 rows sits well under a few multiples of that
        assert r["cms_n"] - r["exact_n"] <= 10 * n_total // CMS_WIDTH, (r, n_total)


def test_hll_distinct_accuracy_and_register_partition(spark, sf_oracle_dir):
    """HLL contract at the oracle SF (raw-estimate regime, n ≫ 2.5m): the
    register histogram partitions all m buckets, the fixed-point sum is
    consistent with the histogram, and the estimate lands within 3σ
    (σ = 1.04/√1024 ≈ 3.3%) of the exact distinct count."""
    from vers_spark.operators.text_analysis import HLL_M, _HLL_SCALE

    rows = TA.QUERIES["doc_hll_distinct"](spark, sf_oracle_dir).collect()
    assert sum(r["n_buckets"] for r in rows) == HLL_M
    sum_fp = rows[0]["sum_fp"]
    assert sum_fp == sum(r["n_buckets"] * (1 << (_HLL_SCALE - r["register"])) for r in rows)
    est, exact = rows[0]["hll_est"], rows[0]["exact_n"]
    assert exact > 2.5 * HLL_M  # raw regime actually holds at this SF
    assert abs(est - exact) / exact < 0.1, (est, exact)


def test_evt_hll_hourly_merge_contract(spark, sf_dir):
    """Per-hour HLL + merged 'ALL' row: the merged register count dominates
    every hour's (max-merge can only add nonzero buckets), n_nonzero never
    exceeds the hour's exact distinct count or m, and the global estimate
    is within 10% of truth (raw-estimate regime gate)."""
    from vers_spark.operators.relational import QUERIES as RQ
    from vers_spark.operators.text_analysis import HLL_M

    rows = {r["hour"]: r for r in RQ["evt_hll_hourly"](spark, sf_dir).collect()}
    g = rows.pop("ALL")
    assert rows  # at least one real hour
    for r in rows.values():
        assert 0 < r["n_nonzero"] <= min(r["exact_users"], HLL_M)
        assert r["n_nonzero"] <= g["n_nonzero"]
    assert g["exact_users"] > 0
    if g["exact_users"] > 2.5 * HLL_M:  # raw regime — gate accuracy
        assert abs(g["hll_users"] - g["exact_users"]) / g["exact_users"] < 0.1


def test_evt_hll_setops_algebra(spark, sf_dir):
    """Sketch set algebra sanity: the union estimate dominates each side's
    and never exceeds A+B; the intersect row is exactly (A + B) − union of
    the emitted estimates; exact counts obey the same inclusion–exclusion
    identity exactly."""
    from vers_spark.operators.relational import QUERIES as RQ

    rows = {r["set_expr"]: r for r in RQ["evt_hll_setops"](spark, sf_dir).collect()}
    assert set(rows) == {"A", "B", "union", "intersect"}
    ea, eb = rows["A"]["est"], rows["B"]["est"]
    eu, ei = rows["union"]["est"], rows["intersect"]["est"]
    assert max(ea, eb) <= eu <= ea + eb  # union registers dominate per side
    assert ei == (ea + eb) - eu
    xa, xb = rows["A"]["exact_users"], rows["B"]["exact_users"]
    xu, xi = rows["union"]["exact_users"], rows["intersect"]["exact_users"]
    assert xa + xb - xu == xi


def test_evt_hll_sliding_dominates_hourly(spark, sf_dir):
    """Each 3-hour sliding window contains its end hour, so both its
    register population and its exact distinct count must dominate the
    hourly row's, and every anchor hour must produce exactly one window."""
    from vers_spark.operators.relational import QUERIES as RQ

    hourly = {r["hour"]: r for r in RQ["evt_hll_hourly"](spark, sf_dir).collect()}
    hourly.pop("ALL")
    sliding = {r["win_end"]: r for r in RQ["evt_hll_sliding"](spark, sf_dir).collect()}
    assert set(sliding) == set(hourly)
    for hr, s in sliding.items():
        assert s["n_nonzero"] >= hourly[hr]["n_nonzero"]
        assert s["exact_users"] >= hourly[hr]["exact_users"]


def test_bm25_oracle_and_ranking_semantics(spark, sf_dir):
    """BM25 hash-matches its DuckDB twin, and the scores behave like BM25:
    ranks are 1..20 with nonincreasing scores, and any returned document
    with at least one query-term hit outscores a hitless one (hitless docs
    can only appear when fewer than 20 docs contain any term)."""
    from vers_spark.operators import rag

    assert_oracle_match(
        spark, sf_dir, "doc_bm25_topk",
        rag.QUERIES["doc_bm25_topk"], rag.ORACLE_SQL["doc_bm25_topk"],
    )
    rows = rag.QUERIES["doc_bm25_topk"](spark, sf_dir).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    tf_cols = [c for c in rows[0].asDict() if c.startswith("tf_")]
    hits = [sum(r[c] for c in tf_cols) > 0 for r in rows]
    if any(hits):
        # no hitless doc may outrank a doc with hits
        first_hitless = hits.index(False) if False in hits else len(hits)
        assert all(hits[:first_hitless]) and not any(hits[first_hitless:])


def test_sample_quantiles_accuracy_and_contract(spark, sf_dir):
    """Bottom-k quantile sketch: k is exactly min(BK_K, n), the exact stats
    are genuinely the ⌈p·n⌉-th order statistics (recomputed via a driver
    sort of the full dl list), and the k=256 sample lands within 10 rank
    percentiles of truth (DKW at k=256, δ≈1e-3 → ε≈0.12)."""
    from vers_spark.functions import text as TX2
    from vers_spark.operators.text_analysis import BK_K, BK_PCTS
    from vers_spark.operators.text_analysis import QUERIES as TAQ

    rows = {r["pct"]: r for r in TAQ["doc_sample_quantiles"](spark, sf_dir).collect()}
    assert set(rows) == {p for p, _, _ in BK_PCTS}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dls = sorted(
        r["dl"]
        for r in docs.select(
            F.size(TX2.ws_tokens(F.col("text"))).cast("long").alias("dl")
        ).collect()
    )
    n = len(dls)
    for pct, num, den in BK_PCTS:
        r = rows[pct]
        assert r["n_docs"] == n and r["k"] == min(BK_K, n)
        assert r["exact_stat"] == dls[(num * n + den - 1) // den - 1]
        # rank-space accuracy: est must be the true quantile of SOME
        # p' within ±0.10 of p (value-space error can be 0 on ties)
        lo = max((num * n) // den - n // 10, 1)
        hi = min((num * n + den - 1) // den + n // 10, n)
        assert dls[lo - 1] <= r["sample_est"] <= dls[hi - 1], (pct, r)


def test_rag_xxhash_backend_shape_and_determinism(spark, sf_dir):
    """The xxhash64 deployment swap (BASELINE.md scaling table): same
    pipeline, Spark-native codegen hash instead of the cross-engine md5 —
    must be deterministic across runs and produce a full valid top-K
    ranking (values differ from the oracle-certified md5 path by design:
    different base hash → different random projection)."""
    from vers_spark.operators.rag import TOP_K, rag_retrieve_chunks

    a = rag_retrieve_chunks(spark, sf_dir, hash_backend="xxhash64").collect()
    b = rag_retrieve_chunks(spark, sf_dir, hash_backend="xxhash64").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == TOP_K
    assert sorted(r["rank"] for r in a) == list(range(1, TOP_K + 1))


def test_quality_budget_curve_monotone_and_anchored(spark, sf_dir):
    """The budget curve is a valid survival function: monotone nonincreasing
    in the threshold, anchored at threshold 0 (everything kept — quality
    components are nonnegative), and consistent with a direct filter count
    at one interior threshold."""
    from vers_spark.operators.text_analysis import QUERIES as TAQ
    from vers_spark.operators.text_analysis import quality_score

    rows = TAQ["doc_quality_budget_curve"](spark, sf_dir).collect()
    assert [r["threshold"] for r in rows] == [k / 20 for k in range(21)]
    kept = [r["n_docs_kept"] for r in rows]
    assert kept == sorted(kept, reverse=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    total = docs.count()
    assert kept[0] == total and rows[0]["doc_frac"] == 1.0
    t = 0.55
    direct = docs.filter(quality_score(F.col("text")) >= t).count()
    at_t = next(r for r in rows if abs(r["threshold"] - t) < 1e-9)
    assert at_t["n_docs_kept"] == direct


# ---------------------------------------------------------------------------
# xxhash64 deployment-backend parity gates (VERDICT r5 item #2): the md5
# path stays the DuckDB-certified default; the xxhash64 swap must preserve
# every EQUALITY-derived quantity exactly (hashes only ever stand in for
# string equality there) and every hash-VALUE-derived quantity in shape.
# ---------------------------------------------------------------------------


def test_window_dups_backend_invariant(spark, sf_dir):
    """doc_window_dups counts duplicated WINDOW POSITIONS — a pure
    string-equality quantity, so md5 and xxhash64 must agree EXACTLY
    (collisions aside, p ≈ n²/2^61)."""
    from vers_spark.operators.text_analysis import doc_window_dups

    md5 = {r["doc_id"]: tuple(r)[1:] for r in doc_window_dups(spark, sf_dir).collect()}
    xx = {
        r["doc_id"]: tuple(r)[1:]
        for r in doc_window_dups(spark, sf_dir, hash_backend="xxhash64").collect()
    }
    assert md5 == xx


def test_hll_exact_n_backend_invariant_and_est_sane(spark, sf_dir):
    """doc_hll_distinct's exact_n is count(distinct shingle) under any
    injective-enough hash → backend-invariant; the xxhash64 HLL estimate
    must still land within the raw-regime error band (~3σ at m=1024 is
    ~10%; gate at 15%)."""
    from vers_spark.operators.text_analysis import doc_hll_distinct

    md5 = doc_hll_distinct(spark, sf_dir).collect()
    xx = doc_hll_distinct(spark, sf_dir, hash_backend="xxhash64").collect()
    assert md5[0]["exact_n"] == xx[0]["exact_n"]
    n = xx[0]["exact_n"]
    est = xx[0]["hll_est"]
    assert abs(est - n) / n < 0.15
    # register histogram still covers all m buckets
    assert sum(r["n_buckets"] for r in xx) == sum(r["n_buckets"] for r in md5)


def test_minhash_neardup_backend_parity(spark, sf_dir):
    """minhash_neardup_pairs verifies candidates with EXACT Jaccard, so both
    backends have precision 1 by construction (gate: ⊆ the exact inverted-
    index join); banding RECALL is hash-seed-dependent (measured here: md5
    27/28, xxhash64 28/28) — gate both at ≥ 0.9 against the exact pair set
    so a semantic break in the swap (not seed luck) fails loudly."""
    from vers_spark.operators.text_dedup import minhash_neardup_pairs, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(docs).collect()}
    for backend in ("md5", "xxhash64"):
        got = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_neardup_pairs(docs, hash_backend=backend).collect()
        }
        assert got <= exact, backend
        assert len(got & exact) >= 0.9 * len(exact), (backend, len(got), len(exact))


def test_simhash_backend_shape(spark, sf_dir):
    """SimHash bit values are hash-VALUE-derived (differ across backends by
    design); gate the xxhash64 path on shape + contract: 32-bit range,
    deterministic, one row per doc, and the banded near-dup pairs all
    satisfy the hamming bound."""
    from vers_spark.operators.text_dedup import simhash, simhash_neardup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = simhash(docs, hash_backend="xxhash64").collect()
    b = simhash(docs, hash_backend="xxhash64").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == docs.count()
    assert all(0 <= r["simhash"] < (1 << 32) for r in a)
    pairs = simhash_neardup_pairs(docs, hash_backend="xxhash64").collect()
    assert all(r["hamming"] <= 3 for r in pairs)


def test_fingerprint_backend_distinctness(spark, sf_dir):
    """fp_hash60 under xxhash64: per-doc values differ from md5 by design,
    but the fingerprint's JOB — distinguishing distinct texts — is backend-
    invariant: the number of distinct fingerprints must match the number of
    distinct texts under both backends."""
    from vers_spark.operators.text_analysis import doc_fingerprint

    md5 = doc_fingerprint(spark, sf_dir).collect()
    xx = doc_fingerprint(spark, sf_dir, hash_backend="xxhash64").collect()
    assert len(md5) == len(xx)
    assert len({r["fp_hash60"] for r in md5}) == len({r["fp_hash60"] for r in xx})


def test_collocation_pmi_beats_raw_counts(spark, sf_dir):
    """PMI ranking differs from raw bigram frequency (the operator's reason
    to exist) and every invariant holds: c_xy ≥ min-count, ratio =
    N·c(xy)/(c(x)·c(y)) recomputed exactly, descending order."""
    from vers_spark.operators.text_analysis import PMI_MIN_COUNT, doc_collocation_pmi

    rows = doc_collocation_pmi(spark, sf_dir).collect()
    assert rows
    assert all(r["c_xy"] >= PMI_MIN_COUNT for r in rows)
    for r in rows:
        assert abs(r["pmi_ratio"] - (r["c_xy"] * r["n_tokens"]) / (r["c_x"] * r["c_y"])) < 1e-12
    ratios = [r["pmi_ratio"] for r in rows]
    assert ratios == sorted(ratios, reverse=True)
    # PMI order is NOT raw-count order on this corpus
    by_count = sorted(rows, key=lambda r: (-r["c_xy"], r["bigram"]))
    assert [r["bigram"] for r in by_count] != [r["bigram"] for r in rows]


def test_leakage_split_no_cross_pairs_and_covers_corpus(spark, sf_dir):
    """Component-keyed splitting: zero near-dup pairs straddle splits (the
    operator's reason to exist — a doc-keyed split provably leaks), doc
    counts cover the corpus, and the rates land near 80/10/10."""
    from vers_spark.operators.text_dedup_queries import (
        NEAR_TAIL,
        QUERIES as TDQ2,
        _augmented,
    )

    rows = TDQ2["neardup_leakage_split"](spark, sf_dir).collect()
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    assert all(r["n_cross_pairs"] == 0 for r in rows)
    total = _augmented(spark, sf_dir, 7, NEAR_TAIL).count()
    assert sum(r["n_docs"] for r in rows) == total
    train = next(r for r in rows if r["split"] == "train")
    assert 0.7 <= train["n_docs"] / total <= 0.9


# ----------------------------------------------- dedup kernel bit-equality
#
# The expression chain the Arrow kernel (functions.text_np) replaced, kept as
# the reference: ws_tokens → word_shingles → array_distinct → base_hash →
# minhash_value min-aggregates, and the 32-vote SimHash aggregate.


def _chain_shingles(docs, n=3):
    from vers_spark.functions import text as TX

    toks = TX.ws_tokens(F.col("text"))
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.array_distinct(TX.word_shingles(toks, n)).alias("shingles")
    )


def _chain_signatures(docs, backend):
    from vers_spark.functions import text as TX

    sh = _chain_shingles(docs).select("doc_id", F.explode("shingles").alias("shingle"))
    base = TX.base_hash(F.col("shingle"), backend)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(TX.minhash_value(base, a, b)).alias(f"h{i}")
            for i, (a, b) in enumerate(TX.MINHASH_COEFFS)
        ]
    )


def _chain_simhash(docs, backend):
    from vers_spark.functions import text as TX

    toks = docs.select("doc_id", F.explode(TX.ws_tokens(F.col("text"))).alias("t"))
    hv = TX.base_hash(F.col("t"), backend)
    votes = [
        F.sum(F.when(F.shiftright(hv, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(32)
    ]
    sim = sum(
        (F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
         for b in range(32)),
        F.lit(0).cast("long"),
    )
    return toks.groupBy("doc_id").agg(*votes).select("doc_id", sim.alias("simhash"))


# NULL text (no row), empty and blank docs, one and two tokens (the n=3
# short-doc rule), leading/trailing spaces and tabs, CR/LF/VT/FF, NBSP and
# U+2028 (not in Java's \s), U+001C, and case mappings that differ between
# naive implementations: dotted/dotless i, final sigma, capital sharp s,
# titlecase digraphs, ligatures, the Kelvin sign, astral-plane emoji.
DEDUP_EDGE_TEXTS = [
    None, "", " ", "   ", "one", "one two", "  a b c  ", "\tlead tab", "trail tab\t",
    " \t mixed \t lead", "cr\r\nlf line", "vt\x0bff\x0c x y", "nb sp here now",
    "ls sep a b", "\x1cfs a b", "İstanbul ıi İİ", "ΟΔΟΣ ΣΑΣ ΣΑΣ.", "STRASSE ẞ ß",
    "Ǆ ǅ ǆ Ǳ", "ﬁ ﬂ ligature ﬃ", "K kelvin K", "emoji 😀 here 😀 here",
    "dup dup dup dup dup", "A A A B A A A", "tail space ", "x\n", "\n",
]


def _kernel_inputs(spark, sf_oracle_dir):
    return {
        "documents": spark.read.parquet(f"{sf_oracle_dir}/documents.parquet").select("doc_id", "text"),
        "edge": spark.createDataFrame(
            list(enumerate(DEDUP_EDGE_TEXTS)), "doc_id long, text string"
        ),
    }


@pytest.mark.parametrize("which", ["documents", "edge"])
def test_dedup_kernel_bit_equal_to_expression_chain(spark, sf_oracle_dir, which):
    """The Arrow kernel's shingle arrays (first-seen order), all 16 MinHash
    minima and the SimHash equal the expression chain's on the sf0.01
    documents and on the edge fixture, for both hash backends."""
    from vers_spark.operators.text_dedup import minhash_signatures, shingle_array, simhash

    docs = _kernel_inputs(spark, sf_oracle_dir)[which]
    n_docs = docs.filter(F.col("text").isNotNull()).count()
    want = {r["doc_id"]: list(r["shingles"]) for r in _chain_shingles(docs).collect()}
    got = {r["doc_id"]: list(r["shingles"]) for r in shingle_array(docs).collect()}
    assert len(got) == n_docs and got == want
    for backend in ("md5", "xxhash64"):
        want = {r["doc_id"]: tuple(r[1:]) for r in _chain_signatures(docs, backend).collect()}
        long_form = minhash_signatures(docs, hash_backend=backend).collect()
        got: dict = {}
        for r in sorted(long_form, key=lambda r: (r["doc_id"], r["h_idx"])):
            got[r["doc_id"]] = got.get(r["doc_id"], ()) + (r["min_hash"],)
        assert len(got) == n_docs and got == want, backend
        want = {r["doc_id"]: r["simhash"] for r in _chain_simhash(docs, backend).collect()}
        got = {r["doc_id"]: r["simhash"] for r in simhash(docs, hash_backend=backend).collect()}
        assert len(got) == n_docs and got == want, backend


def test_xxhash64_kernel_equals_spark(spark):
    """The pure-Python XXH64 (seed 42) is Spark's xxhash64 over UTF-8 bytes
    at every tail shape (0–3 single bytes, a 4-byte word, 8-byte lanes, the
    32-byte stripe loop) and on multibyte text; base_hashes applies abs."""
    from vers_spark.functions import text_np as TN

    strs = ["x" * n for n in (0, 1, 3, 4, 7, 8, 9, 31, 32, 33)]
    strs += ["héllo wörld", "日本語テキスト" * 3, "😀" * 9, "ΣΑΣ ẞ İ", "a b c" * 5]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    rows = df.select(F.xxhash64("s").alias("h"), F.abs(F.xxhash64("s")).alias("a")).collect()
    assert [TN.xxhash64(s.encode()) for s in strs] == [r["h"] for r in rows]
    assert TN.base_hashes(strs, "xxhash64").tolist() == [r["a"] for r in rows]
