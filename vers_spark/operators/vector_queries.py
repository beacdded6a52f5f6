"""Driver-facing vector queries (SURVEY.md §2.A/§2.C): kernel expressions,
exact KNN (both physical strategies), vector dedup — each SQL-expressible one
paired with a bit-matching DuckDB oracle (same f64 left-fold order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vers_spark.functions import vector as V
from vers_spark.operators import knn as K
from vers_spark.operators.dedup import dedup_exact, dedup_group_stats
from vers_spark.sources.tables import load_table

# DuckDB fragments mirroring the f64 left-fold kernels (list_reduce without an
# init folds from the first element; 0.0 + x == x bitwise, so it matches the
# Spark aggregate with a 0.0 accumulator).
# vec_corpus_roundtrip stages a bounded slice through driver-side file I/O
# (the .vec text format is a single local file by nature); ONE constant keeps
# the driver-memory bound auditable.
_VEC_ROUNDTRIP_ROWS = 300

_D_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x,y) -> x + y)"
)
_D_SQE = (
    "list_reduce(list_transform(list_zip({a}, {b}), s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))), (x,y) -> x + y)"
)
_D_MAG = "sqrt(" + _D_DOT + ")"


def _d_mag(a: str) -> str:
    return _D_MAG.format(a=a, b=a)


def vk_vector_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every §2.A kernel exercised on consecutive embedding pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("pair_id"), F.col("embedding").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("pair_id"), F.col("embedding").alias("vb"))
    va, vb = F.col("va"), F.col("vb")
    return (
        a.join(b, "pair_id")
        .select(
            "pair_id",
            V.dot(va, vb).alias("dot_ab"),
            V.sq_euclidean(va, vb).alias("sq_euclid"),
            V.cosine_distance(va, vb).alias("cos_dist"),
            V.magnitude(va).alias("mag_a"),
            V.magnitude(V.vec_avg(va, vb)).alias("mag_mid"),
            V.magnitude(V.vec_sub(va, vb)).alias("mag_diff"),
            V.magnitude(V.normalize(va)).alias("mag_unit"),
            V.dot(V.vec_add(va, vb), V.vec_scale(va, 0.5)).alias("dot_sum_half"),
        )
    )


def knn_exact_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force oracle KNN, cosine distance (utils.rs:68-82 semantics)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.exact_knn(
        emb.filter(F.col("vec_id") < 5),
        emb.filter(F.col("vec_id") >= 5),
        k=10,
        metric="cosine",
    )


def knn_exact_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force oracle KNN, squared Euclidean (ivfflat.rs:175 metric)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.exact_knn(
        emb.filter(F.col("vec_id") % 97 == 0),
        emb.filter(F.col("vec_id") % 97 != 0),
        k=10,
        metric="sq_euclidean",
    )


def knn_blocked_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-nested-loop KNN (scale path) — same logical result as
    knn_exact_euclidean. BLAS shortlists candidates inside each Arrow batch
    and the same kernel re-scores them with the fold's numpy twin
    (vector_np.fold_distances), so the output is bit-identical to the
    declarative path and shares its DuckDB oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.exact_knn_blocked(
        emb.filter(F.col("vec_id") % 97 == 0),
        emb.filter(F.col("vec_id") % 97 != 0),
        k=10,
        metric="sq_euclidean",
    )


def vec_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§D .vec loader end-to-end (utils.rs:7-66 semantics): write the
    embeddings table as a FastText .vec text file, load it back with the
    parallel loader (header skip, parse, L2-normalize-on-load, dense
    file-order ids, holdout of one 'word'), exact-KNN the holdout against
    the corpus — the 'queen' harness over driver testdata. Oracle-backed:
    every step is deterministic arithmetic (repr→parse round-trips f32
    exactly; normalize is a fixed f64 fold rounded back to f32 — the same
    IEEE rounding DuckDB's CAST AS FLOAT applies; file-order dense ids equal
    vec_id because rows are written in vec_id order), so the DuckDB twin
    states the whole pipeline declaratively over the first
    ``_VEC_ROUNDTRIP_ROWS`` embeddings."""
    from vers_spark.operators.knn import exact_knn
    from vers_spark.sources.vec_file import load_vec_file

    path = _stage_vec_file(spark, sf_dir)
    corpus, holdout = load_vec_file(spark, path, normalize=True, holdout_word="w0")
    q = holdout.select(F.col("id").alias("vec_id"), F.col("emb").alias("embedding"))
    c = corpus.select(F.col("id").alias("vec_id"), F.col("emb").alias("embedding"))
    return exact_knn(q, c, k=10)


_VEC_STAGE: dict[str, str] = {}


def _stage_vec_file(spark: SparkSession, sf_dir: str) -> str:
    """Write the first _VEC_ROUNDTRIP_ROWS embeddings as a .vec text file
    (driver-side, bounded by the ONE constant; memoized per sf_dir so the
    two roundtrip queries share the staged file)."""
    import os

    if sf_dir in _VEC_STAGE and os.path.exists(_VEC_STAGE[sf_dir]):
        return _VEC_STAGE[sf_dir]
    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(
        _VEC_ROUNDTRIP_ROWS
    )
    rows = emb.collect()
    dim = len(rows[0]["embedding"])
    from vers_spark.sources.staging import staging_dir

    path = os.path.join(staging_dir(spark, "vecfile", sf_dir), "corpus.vec")
    with open(path, "w") as f:
        f.write(f"{len(rows)} {dim}\n")
        for r in rows:
            f.write("w%d %s\n" % (r["vec_id"], " ".join(repr(float(x)) for x in r["embedding"])))
    _VEC_STAGE[sf_dir] = path
    return path


def vec_corpus_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_corpus_roundtrip's twin over the Spark 4 PYTHON DATA SOURCE
    (sources/vec_datasource.py): the same .vec file loads through the
    pyspark.sql.datasource connector (driver-seeked newline-aligned byte
    ranges, worker-streamed parse) instead of spark.read.text, then the
    identical normalize → dense-id → holdout → exact-KNN pipeline runs.
    Shares vec_corpus_roundtrip's oracle — the hash certifies the two
    connector implementations agree bit-for-bit."""
    from vers_spark.operators.knn import exact_knn
    from vers_spark.sources.vec_datasource import load_vec_datasource

    path = _stage_vec_file(spark, sf_dir)
    corpus, holdout = load_vec_datasource(
        spark, path, normalize=True, holdout_word="w0", num_partitions=3
    )
    q = holdout.select(F.col("id").alias("vec_id"), F.col("emb").alias("embedding"))
    c = corpus.select(F.col("id").alias("vec_id"), F.col("emb").alias("embedding"))
    return exact_knn(q, c, k=10)


def dedup_vectors_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector value dedup over a corpus with injected duplicates (the data has
    none): every embedding appears twice, survivor = min id (lsh.rs:113-130
    first-wins semantics in aggregate form)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    return dedup_group_stats(emb.unionByName(dup), ["embedding"], "vec_id").select(
        "keep_id", "n_dupes"
    )


def dedup_docs_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-form dedup: first document (by doc_id) per (lang, source)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, ["lang", "source"], ["doc_id"]).select(
        "doc_id", "lang", "source", "n_chars"
    )


_KNN_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE {qfilter}),
    c AS (SELECT vec_id AS neighbour_id, embedding AS cv FROM embeddings WHERE {cfilter}),
    d AS (SELECT query_id, neighbour_id, {dist} AS distance FROM q CROSS JOIN c),
    r AS (SELECT query_id, neighbour_id, distance,
                 row_number() OVER (PARTITION BY query_id ORDER BY distance ASC, neighbour_id ASC) AS rank
          FROM d)
    SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank FROM r WHERE rank <= {k}
"""

def knn_int8_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric quantized KNN (scale path): corpus stored int8 (4x smaller
    resident set / scan), queries stay full-precision, distances computed on
    the dequantized corpus. Same query/corpus split as knn_exact_euclidean.
    Oracle-backed: quantize (HALF-AWAY-FROM-ZERO round) and dequantize are
    engine-identical — the same fragments emb_quantize_stats hash-matches —
    and the distance is the declared-order f64 fold over the dequantized
    values, so the full quantized search is SQL-stateable; recall vs the
    exact result is additionally gated in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    scale = V.quantize_scale(F.col("embedding"))
    corpus = (
        emb.filter(F.col("vec_id") % 97 != 0)
        .select("vec_id", "embedding", scale.alias("scale"))
        .select(
            "vec_id",
            "scale",
            V.quantize_int8(F.col("embedding"), F.col("scale")).alias("q"),
        )
        .select("vec_id", V.dequantize(F.col("q"), F.col("scale")).alias("embedding"))
    )
    queries = emb.filter(F.col("vec_id") % 97 == 0).select("vec_id", "embedding")
    return K.exact_knn(queries, corpus, k=10, metric="sq_euclidean")


def knn_pq_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized KNN (indexes/pq.py): 16 codebooks × 64 centroids
    compress each 64-dim f32 vector to 16 bytes (16x); search is ADC over
    the codes with exact re-rank of a 5x shortlist (recall@10 = 1.0 on
    testdata, gated in tests). Rows-only: codebook training is iterative
    k-means, not SQL-expressible. Same query/corpus split as
    knn_exact_euclidean."""
    from vers_spark.indexes.pq import PQCodec

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    codec = PQCodec.train(corpus, m=16, k_codebook=64, max_iter=15)
    codes = codec.encode(corpus)
    return codec.search(queries, codes, corpus=corpus, k=10, oversample=5)


# Binary shortlist size = k * this (the coarse Hamming filter keeps 4x the
# final k for exact re-rank — the standard 1-bit-quantization serving shape).
BINARY_SHORTLIST_MULT = 4


def knn_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit-quantized KNN: sign-bit-pack the corpus into 32-bit words (32x
    less scan IO than f32 — at 100 TB the packed corpus is ~3 TB and the
    Hamming scan is bit_count over longs inside codegen), shortlist
    k*BINARY_SHORTLIST_MULT per query by Hamming distance, then exact-re-rank
    the shortlist at full precision. Every step is integer or fixed-fold f64
    arithmetic → full DuckDB oracle (unlike int8/PQ, whose codebooks are
    iterative). Same query/corpus split as knn_exact_euclidean."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        V.binary_sign_words(F.col("embedding")).alias("qw"),
    )
    corpus = emb.filter(F.col("vec_id") % 97 != 0).select(
        F.col("vec_id").alias("neighbour_id"),
        F.col("embedding").alias("cv"),
        V.binary_sign_words(F.col("embedding")).alias("cw"),
    )
    k = 10
    short_n = k * BINARY_SHORTLIST_MULT
    ham = (
        corpus.select("neighbour_id", "cw")
        .crossJoin(F.broadcast(queries.select("query_id", "qw")))
        .select(
            "query_id",
            "neighbour_id",
            V.hamming_words(F.col("qw"), F.col("cw")).alias("hamming"),
        )
    )
    w_short = W.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbour_id"))
    shortlist = (
        ham.withColumn("_hr", F.row_number().over(w_short))
        .filter(F.col("_hr") <= short_n)
        .drop("_hr")
    )
    rr = (
        shortlist.join(corpus.select("neighbour_id", "cv"), "neighbour_id")
        .join(F.broadcast(queries.select("query_id", "qv")), "query_id")
        .select(
            "query_id",
            "neighbour_id",
            "hamming",
            V.sq_euclidean(F.col("qv"), F.col("cv")).alias("distance"),
        )
    )
    w_final = W.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("neighbour_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w_final).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbour_id", "hamming", "distance", "rank")
    )


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class prototypes: dim-wise centroid over all of a label's
    embeddings. Cross-ROW float aggregation is where summation order bites
    (partitioning-dependent, engine-dependent), so elements quantize to
    1e-8 FIXED POINT — ``round(x·1e8)`` over the bit-identical double
    product, the same round-the-shared-double pattern knn_int8_euclidean
    hash-proves — and the sums are BIGINT: order-independent, exact, and
    engine-identical. (DECIMAL sums were tried first and drift by one last-
    digit unit: the double→decimal CAST itself rounds differently across
    engines; rounding the double product does not.) f32 inputs carry ~7
    significant digits, so 8 fractional digits is part of the operator
    contract, not a loss. Output is EXPLODED (label, dim, sx, n_vecs) rows —
    driver-canonicalizable scalars, no array columns (the round-2 driver
    canonicalizer cannot sort numpy arrays); the mean is a client-side
    division. One posexplode + one (label, dim) aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    return (
        e.groupBy("label", "dim")
        .agg(
            F.sum(
                F.round(F.col("x").cast("double") * F.lit(1e8)).cast("long")
            ).alias("sx"),
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
        )
        .select("label", "dim", "sx", "n_vecs")
        .orderBy("label", "dim")
    )


MATRYOSHKA_DIMS = 16  # leading dims used for the coarse shortlist


def knn_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated-dimension KNN: shortlist on the FIRST 16
    of 64 dims (4x less scan arithmetic/IO — MRL-trained embeddings order
    information by prefix, so leading dims carry most of the signal), then
    exact full-dim re-rank of a 4x shortlist. On this synthetic testdata the
    dims are NOT information-ordered, so recall is only ~prefix-fraction
    (~0.3, floor-gated in the ann_recall_report test) — the measurement
    honestly shows why the technique needs MRL-trained inputs; the ORACLE
    match is the correctness claim here, not the recall. Like knn_binary_rerank this
    is deterministic end-to-end (slice + the declared-order f64 folds), so
    the whole approximate pipeline carries a full DuckDB oracle. Same
    query/corpus split as knn_exact_euclidean."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.slice("embedding", 1, MATRYOSHKA_DIMS).alias("qh"),
    )
    corpus = emb.filter(F.col("vec_id") % 97 != 0).select(
        F.col("vec_id").alias("neighbour_id"),
        F.col("embedding").alias("cv"),
        F.slice("embedding", 1, MATRYOSHKA_DIMS).alias("ch"),
    )
    k, short_n = 10, 10 * BINARY_SHORTLIST_MULT
    coarse = (
        corpus.select("neighbour_id", "ch")
        .crossJoin(F.broadcast(queries.select("query_id", "qh")))
        .select(
            "query_id",
            "neighbour_id",
            V.sq_euclidean(F.col("qh"), F.col("ch")).alias("d_head"),
        )
    )
    w_short = W.partitionBy("query_id").orderBy(F.asc("d_head"), F.asc("neighbour_id"))
    shortlist = (
        coarse.withColumn("_r", F.row_number().over(w_short))
        .filter(F.col("_r") <= short_n)
        .drop("_r", "d_head")
    )
    rr = (
        shortlist.join(corpus.select("neighbour_id", "cv"), "neighbour_id")
        .join(F.broadcast(queries.select("query_id", "qv")), "query_id")
        .select(
            "query_id",
            "neighbour_id",
            V.sq_euclidean(F.col("qv"), F.col("cv")).alias("distance"),
        )
    )
    w_final = W.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("neighbour_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w_final).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbour_id", "distance", "rank")
    )


def emb_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization audit: per label, mean per-vector
    reconstruction MSE and worst absolute element error. Per-vector folds are
    fixed-order (deterministic); the cross-row mean rounds each MSE to a
    DECIMAL(20,14) first so the sum is order-independent — the same money
    discipline, applied to error metrics. At 100 TB the quantized corpus is
    the resident set (4x smaller scans); this query is the quality gate that
    ships with it."""
    emb = load_table(spark, sf_dir, "embeddings")
    scale = V.quantize_scale(F.col("embedding"))
    q = emb.select("vec_id", "label", "embedding", scale.alias("scale")).select(
        "vec_id",
        "label",
        "embedding",
        "scale",
        V.quantize_int8(F.col("embedding"), F.col("scale")).alias("q"),
    )
    err = F.zip_with(
        F.col("embedding"),
        V.dequantize(F.col("q"), F.col("scale")),
        lambda x, y: x.cast("double") - y,
    )
    per_vec = q.select(
        "label",
        F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e * e).alias("sse"),
        F.aggregate(err, F.lit(0.0), lambda acc, e: F.greatest(acc, F.abs(e))).alias(
            "max_abs_err"
        ),
        F.size("embedding").alias("dim"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (
                F.sum((F.col("sse") / F.col("dim")).cast("decimal(20,14)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_mse"),
            F.max("max_abs_err").alias("worst_abs_err"),
        )
        .orderBy("label")
    )


_D_QSCALE = (
    "CASE WHEN list_reduce(list_transform({a}, x -> abs(CAST(x AS DOUBLE))), (x,y) -> greatest(x,y)) < 1e-30 "
    "THEN 1.0 ELSE list_reduce(list_transform({a}, x -> abs(CAST(x AS DOUBLE))), (x,y) -> greatest(x,y)) / 127.0 END"
)

# DuckDB twins of functions.vector.binary_sign_words / hamming_words (same
# MSB-first acc*2+bit fold; list_reduce without init starts at the first bit,
# which equals the 0-init fold).
_D_SIGNWORDS = (
    "list_transform("
    "generate_series(0, CAST(floor((len({a}) - 1) / 32.0) AS INT)), "
    "w -> list_reduce("
    "list_transform(list_slice({a}, w*32 + 1, w*32 + 32), "
    "x -> CAST(CASE WHEN CAST(x AS DOUBLE) > 0.0 THEN 1 ELSE 0 END AS BIGINT)), "
    "(acc, b) -> acc*2 + b))"
)
_D_HAMMING = (
    "list_reduce(list_transform(list_zip({wa}, {wb}), "
    "s -> CAST(bit_count(xor(s[1], s[2])) AS BIGINT)), (x,y) -> x + y)"
)

_KNN_BINARY_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                      {_D_SIGNWORDS.format(a='embedding')} AS qw
               FROM embeddings WHERE vec_id % 97 = 0),
    c AS (SELECT vec_id AS neighbour_id, embedding AS cv,
                 {_D_SIGNWORDS.format(a='embedding')} AS cw
          FROM embeddings WHERE vec_id % 97 <> 0),
    h AS (SELECT query_id, neighbour_id,
                 {_D_HAMMING.format(wa='qw', wb='cw')} AS hamming
          FROM q CROSS JOIN c),
    s AS (SELECT query_id, neighbour_id, hamming,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY hamming ASC, neighbour_id ASC) AS hr
          FROM h),
    r AS (SELECT s.query_id, s.neighbour_id, s.hamming,
                 {_D_SQE.format(a='q.qv', b='c.cv')} AS distance
          FROM s JOIN c ON c.neighbour_id = s.neighbour_id
                 JOIN q ON q.query_id = s.query_id
          WHERE s.hr <= {{short_n}}),
    f AS (SELECT query_id, neighbour_id, hamming, distance,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY distance ASC, neighbour_id ASC) AS rank
          FROM r)
    SELECT query_id, neighbour_id, hamming, distance, CAST(rank AS INT) AS rank
    FROM f WHERE rank <= {{k}}
"""

# L2-normalize-then-round-to-f32, the .vec loader's ingest transform
# (normalize guard included; CAST(double AS FLOAT) is the same IEEE
# round-to-nearest Spark's cast to array<float> applies).
_D_NORM_F32 = (
    "CASE WHEN {mag} < 1e-6 "
    "THEN list_transform({a}, x -> CAST(CAST(x AS DOUBLE) AS FLOAT)) "
    "ELSE list_transform({a}, x -> CAST(CAST(x AS DOUBLE) / ({mag}) AS FLOAT)) END"
)

_VEC_ROUNDTRIP_SQL = f"""
    WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {{nrows}}),
    n AS (SELECT vec_id,
                 {_D_NORM_F32.format(a='embedding', mag=_d_mag('embedding'))} AS emb
          FROM c),
    q AS (SELECT vec_id AS query_id, emb AS qv FROM n WHERE vec_id = 0),
    cc AS (SELECT vec_id AS neighbour_id, emb AS cv FROM n WHERE vec_id <> 0),
    d AS (SELECT query_id, neighbour_id, {_D_SQE.format(a='qv', b='cv')} AS distance
          FROM q CROSS JOIN cc),
    r AS (SELECT query_id, neighbour_id, distance,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY distance ASC, neighbour_id ASC) AS rank
          FROM d)
    SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 10
"""

_KNN_MATRYOSHKA_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                      list_slice(embedding, 1, {MATRYOSHKA_DIMS}) AS qh
               FROM embeddings WHERE vec_id % 97 = 0),
    c AS (SELECT vec_id AS neighbour_id, embedding AS cv,
                 list_slice(embedding, 1, {MATRYOSHKA_DIMS}) AS ch
          FROM embeddings WHERE vec_id % 97 <> 0),
    h AS (SELECT query_id, neighbour_id, {_D_SQE.format(a='qh', b='ch')} AS d_head
          FROM q CROSS JOIN c),
    s AS (SELECT query_id, neighbour_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY d_head ASC, neighbour_id ASC) AS hr
          FROM h),
    r AS (SELECT s.query_id, s.neighbour_id,
                 {_D_SQE.format(a='q.qv', b='c.cv')} AS distance
          FROM s JOIN c ON c.neighbour_id = s.neighbour_id
                 JOIN q ON q.query_id = s.query_id
          WHERE s.hr <= {{short_n}}),
    f AS (SELECT query_id, neighbour_id, distance,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY distance ASC, neighbour_id ASC) AS rank
          FROM r)
    SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank
    FROM f WHERE rank <= {{k}}
"""

ORACLE_SQL: dict[str, str] = {
    "knn_binary_rerank": _KNN_BINARY_SQL.format(short_n=10 * BINARY_SHORTLIST_MULT, k=10),
    "knn_matryoshka_rerank": _KNN_MATRYOSHKA_SQL.format(
        short_n=10 * BINARY_SHORTLIST_MULT, k=10
    ),
    "emb_label_centroids": """
        WITH e AS (
            SELECT label, t.i - 1 AS dim, CAST(embedding[t.i] AS DOUBLE) AS x
            FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
        )
        SELECT label, CAST(dim AS INT) AS dim,
               CAST(sum(CAST(round(x * 100000000.0) AS BIGINT)) AS BIGINT) AS sx,
               CAST(count(*) AS BIGINT) AS n_vecs
        FROM e GROUP BY label, dim ORDER BY label, dim
    """,
    "vec_corpus_roundtrip": _VEC_ROUNDTRIP_SQL.format(nrows=_VEC_ROUNDTRIP_ROWS),
    # same pipeline through the Python data source — same oracle
    "vec_corpus_pyds": _VEC_ROUNDTRIP_SQL.format(nrows=_VEC_ROUNDTRIP_ROWS),
    "emb_quantize_stats": f"""
        WITH per_vec AS (
            SELECT label,
                   list_reduce(list_transform(embedding,
                       x -> (CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / ({_D_QSCALE.format(a='embedding')})) * ({_D_QSCALE.format(a='embedding')}))
                            * (CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / ({_D_QSCALE.format(a='embedding')})) * ({_D_QSCALE.format(a='embedding')}))),
                       (x,y) -> x + y) AS sse,
                   list_reduce(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / ({_D_QSCALE.format(a='embedding')})) * ({_D_QSCALE.format(a='embedding')}))),
                       (x,y) -> greatest(x,y)) AS max_abs_err,
                   len(embedding) AS dim
            FROM embeddings
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(CAST(sse / dim AS DECIMAL(20,14))) AS DOUBLE) / count(*) AS mean_mse,
               max(max_abs_err) AS worst_abs_err
        FROM per_vec
        GROUP BY label
        ORDER BY label
    """,
    "vk_vector_ops": f"""
        SELECT a.vec_id AS pair_id,
               {_D_DOT.format(a='a.embedding', b='b.embedding')} AS dot_ab,
               {_D_SQE.format(a='a.embedding', b='b.embedding')} AS sq_euclid,
               1.0 - {_D_DOT.format(a='a.embedding', b='b.embedding')}
                     / ({_d_mag('a.embedding')} * {_d_mag('b.embedding')}) AS cos_dist,
               {_d_mag('a.embedding')} AS mag_a,
               {_D_MAG.format(
                   a="list_transform(list_zip(a.embedding, b.embedding), s -> (CAST(s[1] AS DOUBLE) + CAST(s[2] AS DOUBLE)) / 2.0)",
                   b="list_transform(list_zip(a.embedding, b.embedding), s -> (CAST(s[1] AS DOUBLE) + CAST(s[2] AS DOUBLE)) / 2.0)")} AS mag_mid,
               {_D_MAG.format(
                   a="list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))",
                   b="list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))")} AS mag_diff,
               {_D_MAG.format(
                   a=f"list_transform(a.embedding, x -> CAST(x AS DOUBLE) / {_d_mag('a.embedding')})",
                   b=f"list_transform(a.embedding, x -> CAST(x AS DOUBLE) / {_d_mag('a.embedding')})")} AS mag_unit,
               {_D_DOT.format(
                   a="list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE) + CAST(s[2] AS DOUBLE))",
                   b="list_transform(a.embedding, x -> CAST(x AS DOUBLE) * 0.5)")} AS dot_sum_half
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
    "knn_exact_cosine": _KNN_SQL.format(
        qfilter="vec_id < 5",
        cfilter="vec_id >= 5",
        k=10,
        dist=(
            "1.0 - "
            + _D_DOT.format(a="qv", b="cv")
            + " / ("
            + _d_mag("qv")
            + " * "
            + _d_mag("cv")
            + ")"
        ),
    ),
    "knn_exact_euclidean": _KNN_SQL.format(
        qfilter="vec_id % 97 = 0",
        cfilter="vec_id % 97 <> 0",
        k=10,
        dist=_D_SQE.format(a="qv", b="cv"),
    ),
    # The blocked scale path scores its candidates with the fold kernel's
    # bit-equal numpy twin, so it shares the exact path's oracle verbatim.
    "knn_blocked_euclidean": _KNN_SQL.format(
        qfilter="vec_id % 97 = 0",
        cfilter="vec_id % 97 <> 0",
        k=10,
        dist=_D_SQE.format(a="qv", b="cv"),
    ),
    # int8 asymmetric KNN: same _KNN_SQL shape with the corpus replaced by
    # its quantize→dequantize image (the fragments emb_quantize_stats
    # hash-matches), distances on the declared-order f64 fold.
    "knn_int8_euclidean": """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id % 97 = 0),
        c AS (SELECT vec_id AS neighbour_id,
                     list_transform(embedding,
                         x -> round(CAST(x AS DOUBLE) / ({qs})) * ({qs})) AS cv
              FROM embeddings WHERE vec_id % 97 <> 0),
        d AS (SELECT query_id, neighbour_id, {dist} AS distance FROM q CROSS JOIN c),
        r AS (SELECT query_id, neighbour_id, distance,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY distance ASC, neighbour_id ASC) AS rank
              FROM d)
        SELECT query_id, neighbour_id, distance, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 10
    """.format(
        qs=_D_QSCALE.format(a="embedding"),
        dist=_D_SQE.format(a="qv", b="cv"),
    ),
    "dedup_vectors_stats": """
        SELECT min(vec_id) AS keep_id, count(*) AS n_dupes
        FROM (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 100000, embedding FROM embeddings
        )
        GROUP BY embedding
    """,
    "dedup_docs_first_wins": """
        SELECT doc_id, lang, source, n_chars
        FROM (
            SELECT doc_id, lang, source, n_chars,
                   row_number() OVER (PARTITION BY lang, source ORDER BY doc_id ASC) AS rn
            FROM documents
        )
        WHERE rn = 1
    """,
}

QUERIES = {
    "vec_corpus_roundtrip": vec_corpus_roundtrip,
    "vec_corpus_pyds": vec_corpus_pyds,
    "vk_vector_ops": vk_vector_ops,
    "knn_exact_cosine": knn_exact_cosine,
    "knn_exact_euclidean": knn_exact_euclidean,
    "knn_blocked_euclidean": knn_blocked_euclidean,
    "knn_int8_euclidean": knn_int8_euclidean,
    "knn_pq_euclidean": knn_pq_euclidean,
    "knn_binary_rerank": knn_binary_rerank,
    "knn_matryoshka_rerank": knn_matryoshka_rerank,
    "emb_quantize_stats": emb_quantize_stats,
    "emb_label_centroids": emb_label_centroids,
    "dedup_vectors_stats": dedup_vectors_stats,
    "dedup_docs_first_wins": dedup_docs_first_wins,
}
