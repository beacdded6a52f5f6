"""Near-duplicate detection for text corpora: MinHash+LSH banding, SimHash,
exact n-gram Jaccard join (SURVEY.md §2.E; training-data dedup north star).

All hashing uses the cross-engine deterministic md5-fold (functions.text), so
even the MinHash pipeline is DuckDB-oracle-checkable end to end.

Scale shapes:
- Shingles, MinHash and SimHash signatures: one row-local Arrow kernel
  (functions.text_np) per document — tokenize, shingle, hash and reduce in
  numpy, bit-equal to the expression chain; no exploded shingle rows and no
  signature exchange.
- Band join: candidates only where a 4-hash band collides; the self-join keys
  on (band_id, band_key) — skew handled by AQE; verification joins are
  candidate-sized, not corpus².
- SimHash banding: 4 × 8-bit chunks; pigeonhole guarantees every pair with
  hamming ≤ 3 shares at least one chunk, so banding loses nothing.
- n-gram Jaccard: inverted-index self-join on shingle; exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vers_spark.functions import text_np as TN
from vers_spark.functions.spread import cpu_spread

BAND_SIZE = 4
BAND_POWERS = [1, 31, 961, 29791]  # weight of position h_idx % 4 inside a band
SIMHASH_CHUNKS = 4


def shingle_array(
    docs: DataFrame, n_shingle: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, shingles array<string>) — DISTINCT word n-gram shingles per
    document, in first-seen order: the dedup kernel
    (:func:`text_np.minhash_rows`) with zero hashes. Per-doc dedup never
    needs cross-row data, so the stage is embarrassingly parallel with zero
    exchanges past the gated spread (guide §2.4). Docs with NULL text yield
    no row."""
    return TN.minhash_rows(cpu_spread(docs), n_shingle, 0, id_col=id_col, text_col=text_col)


def minhash_signatures(
    docs: DataFrame,
    n_shingle: int = 3,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_backend: str = "md5",
) -> DataFrame:
    """(doc_id, h_idx, min_hash): num_hashes affine hashes over the shingle
    set, computed per document in one Arrow pass, then unpivoted.

    ``hash_backend``: "md5" (oracle-certified default) | "xxhash64" (the
    100 TB deployment swap — see functions.text.base_hash).

    Shuffle discipline: a signature depends on its own document only, so
    the kernel (:func:`text_np.minhash_rows`) tokenizes, shingles, hashes
    and takes the 16 minima row-locally — no exploded shingle rows and no
    ``groupBy(doc_id)`` exchange; the only shuffle is the gated spread.
    Values are bit-identical to the expression chain (same base hash, same
    affine arithmetic, min over the same distinct set; test-gated)."""
    wide = TN.minhash_rows(
        cpu_spread(docs), n_shingle, num_hashes, hash_backend, id_col, text_col, keep_shingles=False
    )
    stack = ", ".join(f"{i}, h{i}" for i in range(num_hashes))
    return wide.selectExpr(
        "doc_id", f"stack({num_hashes}, {stack}) as (h_idx, min_hash)"
    ).select("doc_id", F.col("h_idx").cast("int").alias("h_idx"), "min_hash")


def minhash_bands(wide: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(doc_id, band_id, band_key) from the kernel's wide signature rows:
    the position-weighted sum of each band's BAND_SIZE minima — exact
    integer arithmetic, row-local, identical in the SQL twin."""
    band_structs = [
        F.struct(
            F.lit(j).alias("band_id"),
            sum(
                F.col(f"h{j * BAND_SIZE + k}") * F.lit(BAND_POWERS[k])
                for k in range(BAND_SIZE)
            ).alias("band_key"),
        )
        for j in range(num_hashes // BAND_SIZE)
    ]
    return wide.select("doc_id", F.explode(F.array(*band_structs)).alias("b")).select(
        "doc_id", "b.band_id", "b.band_key"
    )


def band_candidates(bands: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs colliding in at least one band.

    ``max_bucket`` is the web-scale skew guard: a degenerate band key (empty
    or boilerplate documents all sharing one band) makes the self-join
    quadratic in that bucket's size. Buckets larger than ``max_bucket`` are
    DROPPED — a band shared by thousands of documents carries almost no
    near-dup signal (its members collide on 4 hashes by being generic, not
    similar), and every real pair inside it still has 3 other bands to
    collide in. Default None keeps the join exact (the oracle-checked
    configuration); at 100 TB you set it (e.g. 10_000) and record the dropped
    bucket count."""
    if max_bucket is not None:
        sizes = bands.groupBy("band_id", "band_key").agg(F.count(F.lit(1)).alias("_bsz"))
        bands = bands.join(
            sizes.filter(F.col("_bsz") <= max_bucket).drop("_bsz"),
            ["band_id", "band_key"],
            "left_semi",
        )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )


def jaccard_verify(candidates: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate pairs only, over ROW-LOCAL shingle
    arrays (``sets`` = :func:`shingle_array` output): two equi-joins attach
    each side's array, then ``|A ∩ B|`` is one ``array_intersect`` per
    pair — replacing the historical 3-shuffle chain (join by doc_a, join by
    (doc_b, shingle), re-aggregate per pair) with per-pair local work. The
    candidate table is tiny relative to the corpus (banded/pre-filtered),
    so AQE broadcast-joins it and the corpus side is never shuffled.
    Arrays are distinct by construction, so size/intersect counts equal the
    old exploded-row counts exactly; the double arithmetic is unchanged."""
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("_sha"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("_shb"))
    n_inter = F.size(F.array_intersect("_sha", "_shb"))
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_inter", n_inter)
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.size("_sha") + F.size("_shb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n_shingle: int = 3,
    num_hashes: int = 16,
    max_bucket: int | None = None,
    hash_backend: str = "md5",
) -> DataFrame:
    """Full MinHash-LSH dedup pipeline: signatures → bands → candidate pairs →
    exact-Jaccard verification.

    Stage-count discipline: one Arrow pass (:func:`text_np.minhash_rows`)
    emits each document's distinct shingle array AND its wide signature row
    (no exploded shingle rows, no signature aggregate), band keys are
    row-local expressions over the wide row, and verification attaches the
    per-doc shingle arrays with two joins and intersects locally instead of
    re-shuffling exploded shingle rows (guide §2.4)."""
    # the kernel's rows feed the band keys AND both sides of the
    # verification join — materialize them once (at 100 TB this would be a
    # persisted Parquet intermediate). localCheckpoint, not .cache(): the
    # columnar cache builder does a per-value UnsafeArrayData copy for
    # nested array<string> columns, measured ~20% slower end-to-end than
    # storing the task outputs as serialized rows (r14 variants study);
    # without materialization the kernel would run once per consumer.
    rows = TN.minhash_rows(
        cpu_spread(docs), n_shingle, num_hashes, hash_backend
    ).localCheckpoint(eager=True)
    cands = band_candidates(minhash_bands(rows, num_hashes), max_bucket=max_bucket)
    return jaccard_verify(cands, rows.select("doc_id", "shingles"), threshold)


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8, n_shingle: int = 3) -> DataFrame:
    """EXACT n-gram Jaccard similarity join: inverted-index self-join on
    shingle (no hashing, no misses)."""
    sets = shingle_array(docs, n_shingle).localCheckpoint(eager=True)
    sh = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    cands = (
        sa.join(sb, "shingle").filter(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b").dropDuplicates()
    )
    return jaccard_verify(cands, sets, threshold)


def ngram_jaccard_pairs_prefix(
    docs: DataFrame, threshold: float = 0.8, n_shingle: int = 3
) -> DataFrame:
    """EXACT Jaccard join via PREFIX FILTERING (SSJoin/ppjoin principle) —
    the scale path for the inverted-index self-join: under any global token
    order, two sets with J ≥ t must share a token within their first
    ``|S| − ⌈t·|S|⌉ + 1`` tokens (if all common tokens sat in A's last
    ⌈t·|A|⌉ − 1 positions, then |A∩B| < t·|A| ≤ t·|∪| — contradiction). So
    only PREFIX tokens are indexed: with t=0.8 that is ~20% of each set,
    and because the order is rarest-first (ascending document frequency),
    the indexed tokens are precisely the ones with the shortest posting
    lists — the join's candidate volume drops superlinearly, the
    verification step stays exact, and the result PROVABLY EQUALS the full
    inverted-index join (same DuckDB oracle, equality also test-gated)."""
    from pyspark.sql import Window as W

    sets = shingle_array(docs, n_shingle).localCheckpoint(eager=True)
    sh = sets.select(
        "doc_id", F.size("shingles").alias("_n"), F.explode("shingles").alias("shingle")
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w = W.partitionBy("doc_id").orderBy(F.asc("_df"), F.asc("shingle"))
    pref = (
        sh.join(dfreq, "shingle")
        .withColumn("_pos", F.row_number().over(w))
        .filter(
            F.col("_pos")
            <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + F.lit(1)
        )
        .select("doc_id", "shingle")
    )
    pa = pref.select(F.col("doc_id").alias("doc_a"), "shingle")
    pb = pref.select(F.col("doc_id").alias("doc_b"), "shingle")
    cands = (
        pa.join(pb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    return jaccard_verify(cands, sets, threshold)


def mllib_minhash_exactdup_pairs(
    docs: DataFrame,
    n_shingle: int = 3,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Documented MLlib fast path: MinHashLSH approxSimilarityJoin over
    CountVectorizer'd shingle sets, threshold = Jaccard distance 0 — i.e.
    pairs with IDENTICAL shingle sets. Identical sets hash identically in
    every table, so the result provably equals the exact-Jaccard=1 join.
    (CountVectorizer keeps features exact; at 100 TB you'd trade its global
    vocabulary for HashingTF and accept a ~n/2^20 collision probability.)"""
    from pyspark.ml.feature import CountVectorizer
    from pyspark.ml.feature import MinHashLSH

    as_list = shingle_array(docs, n_shingle)
    cv = CountVectorizer(inputCol="shingles", outputCol="features", binary=True).fit(as_list)
    feats = cv.transform(as_list).select("doc_id", "features")
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    ).fit(feats)
    # approxSimilarityJoin's threshold is STRICT (<), so ask for < 0.5 and
    # keep only exact matches (jaccard distance 0) afterwards
    joined = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jdist")
    return (
        joined.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (F.lit(1.0) - F.col("jdist")).alias("jaccard"),
        )
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("jaccard") >= 1.0))
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_backend: str = "md5",
) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash over whitespace tokens WITH
    multiplicity — per-bit ±1 vote weighted by term frequency, bit set iff
    the vote sum is strictly positive. Row-local: one Arrow pass
    (:func:`text_np.simhash_rows`), no ``groupBy(doc_id)`` exchange.
    ``hash_backend``: see functions.text.base_hash (md5 = oracle path,
    xxhash64 = deployment)."""
    return TN.simhash_rows(cpu_spread(docs), hash_backend, id_col, text_col)


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    hash_backend: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded into 4 × 8-bit
    chunks (pigeonhole-complete for hamming ≤ 3), verified exactly.

    ``max_bucket``: same skew guard as :func:`band_candidates` — chunk values
    shared by more than ``max_bucket`` documents are dropped before the
    self-join (default None = exact, the oracle configuration)."""
    # the signature table feeds BOTH sides of the banded self-join (the
    # build side is a BroadcastExchange, which can never reuse the probe
    # side's shuffle), so without materialization the tokenize + 32-vote
    # aggregate runs twice (r14 plan: two full signature pipelines).
    # Materialize once — 2 longs/doc, the shingle-frame discipline.
    sim = simhash(docs, hash_backend=hash_backend).localCheckpoint(eager=True)
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright("simhash", 8 * c).bitwiseAND(F.lit(255)).alias("chunk_val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_id", "ch.chunk_val")
    if max_bucket is not None:
        sizes = chunks.groupBy("chunk_id", "chunk_val").agg(F.count(F.lit(1)).alias("_bsz"))
        chunks = chunks.join(
            sizes.filter(F.col("_bsz") <= max_bucket).drop("_bsz"),
            ["chunk_id", "chunk_val"],
            "left_semi",
        )
    a = chunks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "chunk_id", "chunk_val"
    )
    b = chunks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "chunk_id", "chunk_val"
    )
    # Verify BEFORE the dedup exchange (r15): hamming is row-local
    # (bit_count of xor), so filtering candidate pairs down to the ≤
    # max_hamming survivors on the join's map side commutes with the
    # (doc_a, doc_b) dropDuplicates — and the dedup shuffle then carries
    # only true near-dup pairs instead of every banded collision (profiled
    # 53 MB shuffle write at sf0.1 with the old order — candidates
    # colliding in several chunks were shuffled once per collision with
    # both 8-byte signatures aboard). Same output rows: duplicates agree
    # on hamming, and dedup-then-filter ≡ filter-then-dedup for a
    # row-local predicate.
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def containment_pairs(
    docs: DataFrame, threshold: float = 0.9, n_shingle: int = 3
) -> DataFrame:
    """ASYMMETRIC near-dup detection — shingle-set CONTAINMENT
    c(A→B) = |S(A) ∩ S(B)| / |S(A)| (Broder 1997's resemblance/containment
    pair, public): catches "B = A + appended boilerplate" pairs whose
    symmetric Jaccard falls below any sane threshold because the tail
    inflates the union. Emits (doc_small, doc_big, containment) for ordered
    pairs with |S(small)| ≤ |S(big)| (ties by id), c ≥ threshold.

    Shape: inverted-index self-join on shingle (exact; the banded-MinHash
    path is the candidate generator at 100 TB — superset detection also has
    a one-sided MinHash bound |A∩B|/|A| via asymmetric signatures), then a
    containment filter on integer intersection counts — the division
    n_inter/|A| is one exact f64 op, engine-identical."""
    sets = shingle_array(docs, n_shingle).localCheckpoint(eager=True)
    sh = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    sizes = sets.select("doc_id", F.size("shingles").cast("long").alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    wsz = (
        inter.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"),
            "doc_a",
        ).join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"),
            "doc_b",
        )
    )
    small_first = F.col("n_a") < F.col("n_b")
    tie = (F.col("n_a") == F.col("n_b")) & (F.col("doc_a") < F.col("doc_b"))
    doc_small = F.when(small_first | tie, F.col("doc_a")).otherwise(F.col("doc_b"))
    doc_big = F.when(small_first | tie, F.col("doc_b")).otherwise(F.col("doc_a"))
    n_small = F.least("n_a", "n_b")
    return (
        wsz.select(
            doc_small.alias("doc_small"),
            doc_big.alias("doc_big"),
            (F.col("n_inter").cast("double") / n_small.cast("double")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
