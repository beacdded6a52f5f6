"""Text-analysis queries over ``documents`` (SURVEY.md §2.E north star):
token stats, quality scoring, language-ID heuristic, fingerprinting. Pure
column expressions — single scan, partial/final aggregation, no UDFs.

Every query has a DuckDB oracle computing the identical arithmetic (shared
deterministic hash/fold discipline — see functions.text docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vers_spark.functions import text as TX
from vers_spark.sources.tables import load_table

# ---- shared DuckDB fragments (the SQL twins of functions.text) ----

D_TOKENS = r"string_split_regex(trim(lower({t})), '\s+')"
D_BPE = r"regexp_extract_all(lower({t}), '[a-z0-9]+|[^a-z0-9\s]')"
D_HASH60 = (
    "list_reduce(list_transform(string_split(substr(md5({x}), 1, 15), ''),"
    " c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)"
)
D_POLY_FP = (
    "list_reduce(list_transform(string_split({t}, ''), c -> CAST(ascii(c) AS BIGINT)),"
    f" (a,b) -> (a*{TX.POLY_BASE} + b) % {TX.POLY_MOD})"
)


def d_count_in_set(tokens: str, words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({tokens}, t -> list_contains([{lst}], t)))"


# staged-copy scratch space: stable per app, race-free across processes,
# atexit-bounded — see sources/staging.py for the full contract
from vers_spark.sources.staging import staging_dir as _staging_dir  # noqa: E402


def quality_score(text: Column) -> Column:
    """The doc_quality composite score as a reusable column expression
    (identical arithmetic to the doc_quality query / oracle)."""
    toks = TX.ws_tokens(text)
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")
    n_chr = F.greatest(F.length(text), F.lit(1)).cast("double")
    stop = TX.count_in_set(toks, TX.STOPWORDS_EN).cast("double") / n_tok
    punct = (
        F.length(text) - F.length(F.regexp_replace(text, r"[.,!?;:()\[\]{}'\"]", ""))
    ).cast("double") / n_chr
    digit = (F.length(text) - F.length(F.regexp_replace(text, "[0-9]", ""))).cast(
        "double"
    ) / n_chr
    mean_wl = n_chr / n_tok
    return (
        F.lit(0.4) * stop
        + F.lit(0.3) * (F.lit(1.0) - punct)
        + F.lit(0.2) * (F.lit(1.0) - digit)
        + F.lit(0.1) * F.least(mean_wl / F.lit(10.0), F.lit(1.0))
    )


def d_quality_score(t: str = "text") -> str:
    """DuckDB twin of ``quality_score`` parametrized by the text expression."""
    toks = D_TOKENS.format(t=t)
    stop = (
        f"CAST({d_count_in_set(toks, TX.STOPWORDS_EN)} AS DOUBLE)"
        f" / CAST(greatest(len({toks}), 1) AS DOUBLE)"
    )
    punct = (
        f"CAST(length({t}) - length(regexp_replace({t}, '[.,!?;:()\\[\\]{{}}''\"]', '', 'g')) AS DOUBLE)"
        f" / CAST(greatest(length({t}), 1) AS DOUBLE)"
    )
    digit = (
        f"CAST(length({t}) - length(regexp_replace({t}, '[0-9]', '', 'g')) AS DOUBLE)"
        f" / CAST(greatest(length({t}), 1) AS DOUBLE)"
    )
    mean_wl = (
        f"CAST(greatest(length({t}), 1) AS DOUBLE)"
        f" / CAST(greatest(len({toks}), 1) AS DOUBLE)"
    )
    return (
        f"0.4 * ({stop}) + 0.3 * (1.0 - ({punct})) + 0.2 * (1.0 - ({digit}))"
        f" + 0.1 * least(({mean_wl}) / 10.0, 1.0)"
    )


def _argmax_lang(scores: dict[str, Column]) -> Column:
    """First language (alphabetical) whose score ties the max — identical
    CASE chain in the SQL twin."""
    langs = sorted(scores)
    expr = None
    for i, lang in enumerate(langs):
        cond = None
        for other in langs[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        branch = F.lit(lang)
        if cond is None:
            expr = expr.otherwise(branch)
        elif expr is None:
            expr = F.when(cond, branch)
        else:
            expr = expr.when(cond, branch)
    return expr


def _d_argmax_lang(langs: list[str]) -> str:
    langs = sorted(langs)
    parts = []
    for i, lang in enumerate(langs):
        if i == len(langs) - 1:
            parts.append(f"ELSE '{lang}'")
        else:
            conds = " AND ".join(f"s_{lang} >= s_{o}" for o in langs[i + 1 :])
            parts.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(parts) + " END"


# ---- queries ----


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.ws_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        F.size(TX.bpe_tokens(F.col("text"))).cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        (
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)).cast("double")
        ).alias("avg_token_len"),
    )


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + fixed-weight composite score (heuristic filter for
    training-data curation)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.ws_tokens(F.col("text"))
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")
    n_chr = F.greatest(F.length("text"), F.lit(1)).cast("double")
    stop = TX.count_in_set(toks, TX.STOPWORDS_EN).cast("double") / n_tok
    punct = (
        F.length("text") - F.length(F.regexp_replace("text", r"[.,!?;:()\[\]{}'\"]", ""))
    ).cast("double") / n_chr
    digit = (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))).cast(
        "double"
    ) / n_chr
    mean_wl = n_chr / n_tok
    score = (
        F.lit(0.4) * stop
        + F.lit(0.3) * (F.lit(1.0) - punct)
        + F.lit(0.2) * (F.lit(1.0) - digit)
        + F.lit(0.1) * F.least(mean_wl / F.lit(10.0), F.lit(1.0))
    )
    return docs.select(
        "doc_id",
        stop.alias("stopword_ratio"),
        punct.alias("punct_ratio"),
        digit.alias("digit_ratio"),
        mean_wl.alias("mean_word_len"),
        score.alias("quality_score"),
    )


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: argmax of per-language marker hits,
    alphabetical tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.ws_tokens(F.col("text"))
    scores = {
        lang: TX.count_in_set(toks, words).cast("long") for lang, words in TX.LANG_MARKERS.items()
    }
    cols = [scores[lang].alias(f"s_{lang}") for lang in sorted(scores)]
    with_scores = docs.select("doc_id", F.col("lang").alias("labeled_lang"), *cols)
    pred = _argmax_lang({lang: F.col(f"s_{lang}") for lang in TX.LANG_MARKERS})
    return with_scores.select(
        "doc_id", "labeled_lang", *[f"s_{lang}" for lang in sorted(TX.LANG_MARKERS)], pred.alias("predicted_lang")
    )


def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language-ID heuristic against
    the labeled lang column — the evaluation query that decides whether the
    classifier is good enough to gate on. Single scan + one small aggregate
    on a (5 × 5)-bounded key space."""
    d = doc_lang_id(spark, sf_dir)
    return (
        d.groupBy(F.col("labeled_lang"), F.col("predicted_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("labeled_lang", "predicted_lang")
    )


def doc_fingerprint(
    spark: SparkSession, sf_dir: str, hash_backend: str = "md5"
) -> DataFrame:
    """Two deterministic fingerprints: md5 prefix + rolling polynomial hash.
    ``hash_backend`` switches the fp_hash60 column's base hash (md5 = oracle
    path, xxhash64 = deployment; see functions.text.base_hash)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.substring(F.md5("text"), 1, 16).alias("fp_md5"),
        TX.poly_fingerprint(F.col("text")).alias("fp_poly"),
        TX.base_hash(F.col("text"), hash_backend).alias("fp_hash60"),
    )


def doc_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram frequency: top-5 whitespace-token bigrams per language.
    Bigrams are built array-side inside each row (zip_with over two slices —
    no posexplode+window shuffle), so the only shuffles are the count
    aggregate (map-side partial combine first) and the small per-language
    top-k window. At 100 TB the aggregate key space (lang × bigram) is the
    pressure point; heavy-hitter bigrams are absorbed by the partial
    aggregation before the shuffle.

    The corpus scan is cpu_spread first (r15): the tokenize+zip_with chain
    is CPU-bound but byte-tiny, so a single-file corpus arrives as ONE scan
    partition and the whole pass ran on one core (profiled 2.05 s
    single-task stage at sf0.1); the gate keeps real-scale scans (≥ cores
    splits) untouched."""
    from vers_spark.functions.spread import cpu_spread

    docs = cpu_spread(load_table(spark, sf_dir, "documents"))
    toks = TX.ws_tokens(F.col("text"))
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    from pyspark.sql import Window as W

    counts = (
        docs.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("lang", "rank")
    )


PMI_MIN_COUNT = 5
PMI_TOPK = 20


def doc_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations (Church & Hanks 1990,
    public): bigrams whose joint frequency beats the independence
    expectation — the multi-word-expression detector (named entities,
    idioms) raw bigram counts miss because frequent tokens dominate them.
    PMI = log(N·c(xy)/(c(x)·c(y))), but log is monotone, so the ranking
    runs on the exact RATIO instead — numerator N·c(xy) and denominator
    c(x)·c(y) are BIGINT products and the score is ONE exact integer
    division (the doc_tfidf_topk rational-idf discipline) — fully
    hash-oracle-able, no transcendentals. Bigrams are built array-side
    (zip_with over two slices — doc_bigram_topk's shape); min-count 5
    prunes the noise floor; top-20 by (score desc, bigram asc) via
    TakeOrdered. The unigram table is semi-join-pruned to words that
    appear in a min-count-surviving bigram BEFORE joining back — the full
    vocabulary grows ~Heaps with corpus size (a forced broadcast of it is
    a driver-OOM at 100 TB), while the pruned table is bounded by 2x the
    surviving-bigram count; no broadcast hint — AQE picks the strategy
    from the pruned size.

    The corpus scan is cpu_spread first (r15): both n-gram passes are
    CPU-bound over a byte-tiny single-split scan — the unigram pass
    profiled as a 1.79 s single-task stage at sf0.1; the gate keeps
    real-scale scans untouched."""
    from vers_spark.functions.spread import cpu_spread

    docs = cpu_spread(load_table(spark, sf_dir, "documents"))
    toks = TX.ws_tokens(F.col("text"))
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # Materialize the two corpus aggregates ONCE. The unpruned unigram
    # table has three consumers (the N total, and the two c_x/c_y join
    # sides via the prune) and the bigram table has three (the surviving-
    # word union reads it twice, the scored join once); every broadcast
    # side rebuilds its whole lineage, so the round-start plan tokenized
    # the corpus EIGHT times (plans/r14/doc_collocation_pmi_before.txt:
    # 8 Scan parquet + Generate + partial-agg pipelines). Checkpointing
    # uni (Heaps-bounded vocabulary) and the min-count-filtered big cuts
    # that to the 2 fundamental passes (one per n-gram order).
    uni_plan = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cw"))
    )
    big_plan = (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= PMI_MIN_COUNT)
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
    )
    # the two corpus passes are independent — overlap their materializing
    # jobs from driver threads (guide §2.6) so the bigram pass back-fills
    # the unigram pass's stage tail
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_u = pool.submit(lambda: uni_plan.localCheckpoint(eager=True))
        fut_b = pool.submit(lambda: big_plan.localCheckpoint(eager=True))
        uni, big = fut_u.result(), fut_b.result()
    # N = Σ c(w) over the UNPRUNED unigram table — same value as a third
    # tokenize+explode pass over the corpus, for the cost of one 1-row
    # aggregate over the (already materialized) counts (guide §1.2: don't
    # compute things twice). Must read uni BEFORE the semi-join prune.
    total = uni.agg(F.sum("cw").cast("long").alias("n_tokens"))
    surviving = (
        big.select(F.col("w1").alias("w"))
        .unionByName(big.select(F.col("w2").alias("w")))
        .distinct()
    )
    # the pruned table is read by two join sides; bounded by 2× surviving
    # bigrams, so the third checkpoint is output-sized
    uni = uni.join(surviving, "w", "left_semi").localCheckpoint(eager=True)
    scored = (
        big.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cw", "c_x"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cw", "c_y"), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "c_xy",
            "c_x",
            "c_y",
            "n_tokens",
            (
                (F.col("c_xy") * F.col("n_tokens")).cast("double")
                / (F.col("c_x") * F.col("c_y")).cast("double")
            ).alias("pmi_ratio"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi_ratio"), F.asc("bigram")).limit(PMI_TOPK)
    )


def doc_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: tokens accounting for > 0.5% of all token
    occurrences. Exact two-aggregate form — per-token counts are partial/
    final (map-side combine absorbs the heavy hitters by definition: the
    hotter the token, the better the combine ratio), and the global total is
    a 1-row broadcast. This stays exact at 100 TB because the OUTPUT is tiny
    (≤ 200 tokens can each exceed 0.5%); a count-min sketch only becomes
    necessary when the threshold drops below ~1/width of memory."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.ws_tokens(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n").cast("double") > 0.005 * F.col("total").cast("double"))
        .select("tok", "n", (F.col("n") / F.col("total")).alias("share"))
        .orderBy(F.desc("n"), "tok")
    )


CMS_DEPTH = 4
CMS_WIDTH = 1024


def _cms_cells(tok_col):
    """depth structs (row_id, bucket) for one token column — the shared
    build/lookup hashing: md5-60bit base → minhash affine family mod P →
    mod width. Deterministic in both engines."""
    base = TX.stable_hash60(tok_col)
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row_id"),
                (TX.minhash_value(base, a, b) % CMS_WIDTH).alias("bucket"),
            )
            for i, (a, b) in enumerate(TX.MINHASH_COEFFS[:CMS_DEPTH])
        ]
    )


def doc_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimates (Cormode & Muthukrishnan
    2005), cross-engine EXACT — the sketch companion to the exact
    :func:`doc_heavy_hitter_tokens` for thresholds below ~1/width of
    memory. The sketch is a (depth=4 × width=1024) counter table built in
    ONE aggregate pass over exploded tokens (the explode is ×depth; the
    aggregate OUTPUT is ≤ 4096 rows whatever the corpus size — the
    mergeable fixed-memory summary that makes this the 100 TB shape);
    estimates are min over depth of the token's bucket counters, so
    cms_n ≥ exact_n always (one-sided error), with equality unless the
    token collides in all 4 rows. Bucket hashing is the corpus-stable
    md5-60-bit hash through the minhash affine family — deterministic in
    both engines, so unlike q_sketch_stats' engine-internal HLL/t-digest
    this sketch carries a FULL DuckDB hash oracle. Output: the exact
    top-20 tokens with exact and sketch counts side by side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.ws_tokens(F.col("text"))).alias("tok"))
    cells = toks.select(F.explode(_cms_cells(F.col("tok"))).alias("c")).select(
        "c.row_id", "c.bucket"
    )
    cms = cells.groupBy("row_id", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
        .limit(20)
    )
    lookups = top.select(
        "tok", "exact_n", F.explode(_cms_cells(F.col("tok"))).alias("c")
    ).select("tok", "exact_n", "c.row_id", "c.bucket")
    return (
        lookups.join(F.broadcast(cms), ["row_id", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
    )


HLL_P = 10
HLL_M = 1 << HLL_P  # 1024 registers → σ ≈ 1.04/√m ≈ 3.3%
# rho = trailing zeros of the 50 bits above the bucket, +1; w == 0 → max.
# Trailing zeros of a uniform word are geometric exactly like HLL's leading
# zeros (Flajolet et al. 2007 §3 analysis is orientation-agnostic) and are
# computable EXACTLY in both engines as bit_count((w & -w) - 1) — no log2.
_HLL_RHO_MAX = 60 - HLL_P + 1
_HLL_SCALE = _HLL_RHO_MAX  # 2^(SCALE − register) is an exact BIGINT ∀ register
# α_m · m² · 2^SCALE as ONE Python float literal embedded in both engines:
# the runtime estimate is a single division, so the doubles hash-match.
_HLL_CONST = 0.7213 / (1.0 + 1.079 / float(HLL_M)) * float(HLL_M) * float(HLL_M) * float(
    1 << _HLL_SCALE
)


def doc_hll_distinct(
    spark: SparkSession, sf_dir: str, hash_backend: str = "md5"
) -> DataFrame:
    """HyperLogLog distinct-token estimate (Flajolet et al. 2007),
    cross-engine EXACT — the cardinality companion to
    :func:`doc_cms_heavy_hitters` (frequency) for vocabularies too large to
    count-distinct at 100 TB. One aggregate pass over exploded tokens
    produces the m=1024 register table (max rho per bucket — map-side
    combine absorbs the duplicates, output fixed at 1024 rows whatever the
    corpus size; registers are max-mergeable, so this is the shardable/
    streamable summary shape); the estimate is α·m²/Σ2^(−M_j) computed as
    an exact fixed-point BIGINT sum (2^(SCALE−M_j) terms — order-free)
    followed by ONE double division, so unlike q_sketch_stats'
    engine-internal approx_count_distinct the whole sketch carries a FULL
    DuckDB hash oracle. Hashing = the corpus-stable md5-60bit base; bucket
    = h mod m, rho = trailing-zeros(h >> p) + 1 via bit_count — exact in
    both engines. The counted items are word 3-gram SHINGLES, not tokens:
    shingle-space cardinality is the quantity MinHash dedup sizing needs,
    and the synthetic corpus's token vocabulary (~31 types) sits far below
    the m=1024 raw-estimate regime (valid for n ≳ 2.5m) while its shingle
    space does not. No low-range linear-counting branch: it needs ln(),
    which is not correctly-rounded across engines; raw-regime accuracy is
    gated in tests at the oracle SF. Output: the register histogram
    (certifies the whole register table) with the exact distinct count and
    the HLL estimate alongside.

    ``hash_backend``: "md5" (default) keeps the full DuckDB oracle;
    "xxhash64" swaps the per-TOKEN base hash (Spark-native intrinsic, no
    DuckDB twin — shape/parity-gated). exact_n is backend-independent
    (distinct count under an injective-up-to-collisions hash), which is
    the cross-backend parity gate.

    Round-6 scale rewrite (after the x10 re-probe showed the md5→xxhash64
    swap only bought 243→223 s): the counted item is now the COMPOSED
    per-token-hash window (functions.text.shingle_hashes — one base hash
    per token + integer window sums; the shingle string is never built),
    and the CPU-heavy scan fans across all cores first (file splits are
    sized by BYTES; this corpus is small in bytes but hash-bound — the
    single-split trap functions/spread.py describes). Combined x10 effect:
    243 s → ~11 s.
    Hash space is ~2^41 (three 31-bit token hashes × 31-weights):
    collisions ~n²/2^42 shift both engines' counts together."""
    from vers_spark.functions.spread import cpu_spread

    # gated spread: HLL registers are a max over distinct hashes, so the
    # result cannot depend on partitioning
    spread = cpu_spread(load_table(spark, sf_dir, "documents"))
    # ONE tokenize+hash pass, then every consumer (registers, histogram,
    # exact count) derives from the DISTINCT hash table: bucket and rho
    # are functions of h, so max-per-bucket over distinct h equals max
    # over all occurrences, and the exact count is count(distinct h) — an
    # 8-byte-long shuffle per consumer (the naive three-subtree plan
    # re-ran tokenize+hash 3x and went 28x super-linear at the 10x probe).
    hs = spread.select(
        F.explode(TX.shingle_hashes(TX.ws_tokens(F.col("text")), 3, hash_backend)).alias("h")
    ).distinct()
    h = F.col("h")
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == F.lit(0), F.lit(_HLL_RHO_MAX)).otherwise(
        F.bit_count(w.bitwiseAND(-w) - F.lit(1)) + F.lit(1)
    )
    cells = hs.select(
        (h % HLL_M).cast("int").alias("bucket"), rho.cast("int").alias("rho")
    ).localCheckpoint(eager=False)
    # ONE aggregate pass over the distinct-hash table yields BOTH the
    # register (max rho) and the per-bucket distinct count, whose sum over
    # buckets IS exact_n — the r14 plan had three scans of the checkpointed
    # cells (regs rebuilt under the stats branch AND the hist branch, plus
    # the exact count), i.e. the register aggregate ran twice and the big
    # table was passed three times for one 1024-row summary.
    regs = cells.groupBy("bucket").agg(
        F.max("rho").alias("register"),
        F.count(F.lit(1)).cast("long").alias("_bn"),
    )
    spine = spark.range(HLL_M).select(F.col("id").cast("int").alias("bucket"))
    full = spine.join(F.broadcast(regs), "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("register"), F.lit(0)).cast("int").alias("register"),
        F.coalesce(F.col("_bn"), F.lit(0)).cast("long").alias("_bn"),
    ).localCheckpoint(eager=False)  # 1024 rows, three consumers below
    stats = full.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - register)"))
        .cast("long")
        .alias("sum_fp")
    )
    exact = full.agg(F.sum("_bn").cast("long").alias("exact_n"))
    hist = full.groupBy("register").agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
    return (
        hist.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("register").cast("int").alias("register"),
            "n_buckets",
            "exact_n",
            "sum_fp",
            (F.lit(_HLL_CONST) / F.col("sum_fp").cast("double")).alias("hll_est"),
        )
        .orderBy("register")
    )


BK_K = 256  # bottom-k sample size
# (pct label, numerator, denominator) — ceil(p·n) as exact integer arithmetic
BK_PCTS = ((50, 1, 2), (90, 9, 10), (99, 99, 100))


def doc_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a BOTTOM-K HASH SAMPLE (the k smallest
    md5-60bit values of the doc key — a deterministic uniform sample,
    Cohen & Kaplan 2007), certified against the EXACT order statistics:
    the 100 TB pattern for order statistics without a global sort. Why this
    sketch: the bottom-k set is MERGEABLE (bottom-k of a union = bottom-k
    of the per-shard bottom-ks), one TakeOrderedAndProject pass (per-
    partition partial bottom-k, only k rows merge), and — unlike
    approx_percentile's t-digest — every byte of it is deterministic, so a
    DuckDB twin certifies estimate AND truth in one hash-matched row set.
    The exact side needs no global sort either: token-count cardinality is
    tiny (≤ max doc length), so a histogram + cumulative sum over the
    DISTINCT values (a bounded table; the window is over distinct dl only)
    yields the true ⌈p·n⌉-th order statistic. Estimates are type-1 order
    statistics of the sample (⌈p·k⌉-th smallest — pure integers, no
    interpolation floats); ⌈p·n⌉ is computed as (num·n + den − 1) div den,
    exact in both engines. Output per pct: sample estimate, exact stat,
    absolute error (gated relatively in tests)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "doc_id", F.size(TX.ws_tokens(F.col("text"))).cast("long").alias("dl")
    )
    tot = per.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    pcts = spark.createDataFrame(list(BK_PCTS), "pct int, num int, den int")
    # exact: cumulative histogram over DISTINCT dl values (bounded table)
    hist = per.groupBy("dl").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = hist.withColumn(
        "cum", F.sum("c").over(W.orderBy("dl").rowsBetween(W.unboundedPreceding, 0))
    )
    tgt_n = F.expr("(num * n_docs + den - 1) div den")
    exact = (
        F.broadcast(pcts)
        .crossJoin(F.broadcast(tot))
        .join(cum, cum["cum"] >= tgt_n)
        .groupBy("pct", "n_docs")
        .agg(F.min("dl").alias("exact_stat"))
    )
    # estimate: k smallest hash values — TakeOrderedAndProject, k rows total
    h = TX.stable_hash60(F.concat(F.lit("dq:"), F.col("doc_id").cast("string")))
    samp = per.select("dl", h.alias("h")).orderBy("h").limit(BK_K)
    ranked = samp.select(
        "dl",
        F.row_number().over(W.orderBy("dl", "h")).cast("long").alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("long").alias("k"),
    )
    tgt_k = F.expr("(num * k + den - 1) div den")
    est = (
        F.broadcast(pcts)
        .join(ranked, ranked["rn"] == tgt_k)
        .select("pct", "k", F.col("dl").alias("sample_est"))
    )
    return (
        exact.join(est, "pct")
        .select(
            "pct",
            "n_docs",
            "k",
            "sample_est",
            "exact_stat",
            F.abs(F.col("sample_est") - F.col("exact_stat")).cast("long").alias("abs_err"),
        )
        .orderBy("pct")
    )


QC_GRID = 20  # quality histogram granularity: thresholds at k/20


def doc_quality_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold BUDGET CURVE: for every threshold k/20, how many
    documents and tokens survive `quality_score >= t` — the calibration
    table a curation pipeline reads to pick the cut that hits its token
    budget (doc_curation_pipeline applies ONE such threshold; this emits
    the whole frontier). Scale shape: ONE corpus scan reduces to a ≤
    QC_GRID+1-row (bucket, n_docs, n_tokens) histogram — the per-threshold
    sums are cumulative sums over that tiny table, never per-threshold
    rescans (the naive grid crossJoin reads the corpus once per
    threshold). Thresholds align with bucket edges (floor(q·20) ≥ k ⟺
    q ≥ k/20), so the bucketed cumsum is EXACT, not approximate; fractions
    are single divisions of exact counts. Engine-exact end to end."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        F.floor(quality_score(F.col("text")) * QC_GRID).cast("int").alias("qb"),
        F.size(TX.ws_tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    hist = per.groupBy("qb").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_toks"),
    )
    # cumulative-from-above over the bounded histogram (window over ≤ 21
    # rows) + the grand totals broadcast back for the fractions
    w = W.orderBy(F.desc("qb")).rowsBetween(W.unboundedPreceding, 0)
    tot = hist.agg(
        F.sum("n_docs").cast("long").alias("t_docs"),
        F.sum("n_toks").cast("long").alias("t_toks"),
    )
    cum = hist.select(
        "qb",
        F.sum("n_docs").over(w).cast("long").alias("docs_kept"),
        F.sum("n_toks").over(w).cast("long").alias("toks_kept"),
    )
    grid = spark.range(QC_GRID + 1).select(F.col("id").cast("int").alias("k"))
    joined = (
        F.broadcast(grid)
        .join(cum, cum["qb"] >= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.coalesce(F.max("docs_kept"), F.lit(0)).cast("long").alias("n_docs_kept"),
            F.coalesce(F.max("toks_kept"), F.lit(0)).cast("long").alias("n_tokens_kept"),
        )
    )
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            (F.col("k").cast("double") / QC_GRID).alias("threshold"),
            "n_docs_kept",
            "n_tokens_kept",
            (F.col("n_docs_kept").cast("double") / F.col("t_docs").cast("double")).alias(
                "doc_frac"
            ),
            (
                F.col("n_tokens_kept").cast("double") / F.col("t_toks").cast("double")
            ).alias("token_frac"),
        )
        .orderBy("threshold")
    )


def doc_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules (Rae et al. 2021 §A1.1): unique
    token ratio, adjacent-duplicate-token fraction, fraction of characters in
    the most frequent word bigram, and fraction of characters in duplicated
    word trigrams. All array-side per-row expressions — a single scan with
    zero shuffles, so at 100 TB this is embarrassingly parallel and scales
    with input bytes; the per-doc n-gram counting is O(distinct² ) in the
    document's OWN n-grams, bounded by doc length, never by corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "text", TX.ws_tokens(F.col("text")).alias("toks"))
    n = F.size(F.col("toks"))
    empty = F.filter(F.col("toks"), lambda x: F.lit(False))
    d = d.withColumns(
        {
            "bg": F.zip_with(
                F.slice(F.col("toks"), 1, n - 1),
                F.slice(F.col("toks"), 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            "adj_dups": F.size(
                F.filter(
                    F.zip_with(
                        F.slice(F.col("toks"), 1, n - 1),
                        F.slice(F.col("toks"), 2, n - 1),
                        lambda a, b: a == b,
                    ),
                    lambda x: x,
                )
            ),
            "tg": F.when(
                n >= 3,
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(2)),
                    lambda i: F.array_join(F.slice(F.col("toks"), i, 3), " "),
                ),
            ).otherwise(empty),
        }
    )
    d = d.withColumns({"dbg": F.array_distinct("bg"), "dtg": F.array_distinct("tg")})
    d = d.withColumns(
        {
            "bgc": F.transform(
                "dbg", lambda g: F.size(F.filter(F.col("bg"), lambda x: x == g))
            ),
            "tgc": F.transform(
                "dtg", lambda g: F.size(F.filter(F.col("tg"), lambda x: x == g))
            ),
        }
    )
    maxc = F.array_max("bgc")
    top_bg = F.array_min(
        F.filter(
            F.col("dbg"),
            lambda g, i: F.element_at(F.col("bgc"), i + F.lit(1)) == maxc,
        )
    )
    n_chars = F.greatest(F.length("text"), F.lit(1)).cast("double")
    dup_tg_chars = F.aggregate(
        F.zip_with(
            F.col("dtg"),
            F.col("tgc"),
            lambda g, c: F.when(c >= 2, c * F.length(g)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (
            F.size(F.array_distinct("toks")).cast("double")
            / F.greatest(F.size("toks"), F.lit(1)).cast("double")
        ).alias("unique_token_ratio"),
        (
            F.col("adj_dups").cast("double")
            / F.greatest(F.size("toks") - 1, F.lit(1)).cast("double")
        ).alias("adjacent_dup_frac"),
        F.when(F.size("bg") > 0, (maxc * F.length(top_bg)).cast("double") / n_chars)
        .otherwise(F.lit(0.0))
        .alias("top_bigram_char_frac"),
        (dup_tg_chars.cast("double") / n_chars).alias("dup_trigram_char_frac"),
    )


# Shared PII regexes (Java regex ∩ RE2 — no lookarounds, no \b).
RE_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
RE_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
RE_IP = r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}"


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + mask (emails, phone numbers, IPv4): the redaction pass a
    training-data pipeline runs before tokenization. The synthetic corpus
    contains no PII, so the query first APPENDS deterministic PII to a
    doc_id-keyed subset (making the op non-degenerate) and then detects and
    masks it; the oracle performs the identical augmentation. Single scan,
    no shuffle — regexp work is JVM codegen, linear in input bytes."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-867-5309")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".42"),
            ),
        ).otherwise(F.lit("")),
    )
    d = docs.select("doc_id", aug.alias("aug"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("aug", RE_EMAIL, "[EMAIL]"), RE_PHONE, "[PHONE]"
        ),
        RE_IP,
        "[IP]",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("aug", F.lit(RE_EMAIL), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("aug", F.lit(RE_PHONE), 0)).cast("long").alias("n_phones"),
        F.size(F.regexp_extract_all("aug", F.lit(RE_IP), 0)).cast("long").alias("n_ips"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
        F.substring(F.md5(scrubbed), 1, 16).alias("fp_scrubbed"),
    )


def dedup_docs_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-exact dedup: lowercase, strip non-alphanumerics,
    collapse whitespace, then first-doc_id-wins per normalized text. The
    shuffle key is a 16-hex-char md5 fingerprint of the normalized text, NOT
    the text itself — at 100 TB the exchange carries ~24 bytes/row instead
    of the document body (the norm column is projected away pre-shuffle)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    slim = docs.select(
        "doc_id",
        F.substring(F.md5(norm), 1, 16).alias("fp_norm"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )
    w = W.partitionBy("fp_norm")
    ranked = slim.withColumns(
        {
            "rn": F.row_number().over(w.orderBy("doc_id")),
            "group_size": F.count(F.lit(1)).over(w),
        }
    )
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id", F.col("group_size").cast("long").alias("group_size"), "fp_norm", "n_chars_norm"
    )


def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·(N/df). The idf is the
    RAW inverse document-frequency ratio, not ln(N/df): ×, ÷ are IEEE
    correctly-rounded (bit-identical across engines) while ln is not, and
    the within-document ranking only needs a monotone idf. Shape: per-doc
    tf is computed array-side (no (doc, term) explode shuffle); the df
    table is one partial-combined aggregate over distinct doc-terms; the
    join back on term is the one real shuffle (AQE may broadcast the df
    side when small); top-k is a per-doc window."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.ws_tokens(F.col("text"))
    d = docs.select("doc_id", F.array_distinct(toks).alias("terms"), toks.alias("toks"))
    d = d.select(
        "doc_id",
        F.explode(
            F.transform(
                "terms",
                lambda t: F.struct(
                    t.alias("term"),
                    F.size(F.filter(F.col("toks"), lambda x: x == t)).alias("tf"),
                ),
            )
        ).alias("e"),
    ).select("doc_id", "e.term", "e.tf")
    df_tbl = d.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    from pyspark.sql import Window as W

    scored = (
        d.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * F.col("n_docs").cast("double")
            / F.col("df").cast("double"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", F.col("tf").cast("long").alias("tf"), "df", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


def doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep query: what fraction of all token OCCURRENCES does a
    top-N frequency vocabulary cover, for N ∈ {10, 50, 200}? One count
    aggregate (map-side combined), then — because only ranks ≤ 200 are ever
    read — a TakeOrderedAndProject top-200 of the distinct-token table
    (per-partition partial top-k, never a global sort: the round-2 plan
    ranked EVERY distinct token in one unpartitioned window, 10⁸–10⁹ rows
    at 100 TB), and the rank/cumsum window runs over those 200 rows only.
    An open-ended-N variant would use curation.py's two-phase
    repartitionByRange cumsum instead of the bounded limit."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(TX.ws_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(200)
    w = W.orderBy(F.desc("n"), F.asc("tok"))
    ranked = top.withColumns(
        {
            "rank": F.row_number().over(w).cast("long"),
            "cum": F.sum("n").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
        }
    )
    total = counts.agg(F.sum("n").cast("long").alias("total"))
    return (
        ranked.filter(F.col("rank").isin(10, 50, 200))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").alias("vocab_size"),
            F.col("cum").alias("occurrences_covered"),
            "total",
            (F.col("cum").cast("double") / F.col("total").cast("double")).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing word 4-gram
    shingles with the eval split (source = 'src0' stands in for the held-out
    benchmark). Eval's distinct-shingle set is BROADCAST — eval sets are
    small by construction, so the train side streams through a map-side hash
    join with no shuffle; the only exchange is the per-doc count aggregate,
    whose map-side partial combine reduces it to one row per training doc.
    If the eval set ever outgrew broadcast, the same plan shuffle-joins on
    a 60-bit shingle hash instead (narrow key, no document text moved)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = F.array_distinct(TX.word_shingles(TX.ws_tokens(F.col("text")), 4))
    base = docs.select("doc_id", "source", F.explode(sh).alias("shingle"))
    ev = (
        base.filter(F.col("source") == "src0")
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tr = base.filter(F.col("source") != "src0")
    agg = (
        tr.join(F.broadcast(ev), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
        )
    )
    ratio = F.col("n_hits").cast("double") / F.col("n_shingles").cast("double")
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_hits",
        ratio.alias("contamination_ratio"),
        (ratio >= 0.05).alias("contaminated"),
    )


BLOOM_M = 1 << 17  # bloom bit-space (131072 positions)
BLOOM_K = 3  # hash functions (affine over the shared 60-bit shingle base)


def doc_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the FIXED-SIZE variant of
    doc_decontaminate for when the eval/benchmark set is too large to
    broadcast as exact shingles: the eval side compresses to its set of
    bloom bit positions (≤ m = 2^17 rows whatever the eval size; k = 3
    affine hashes over the same 60-bit md5 base the minhash family uses),
    and the train side probes it with one broadcast join. One-sided error
    by construction: every exact hit is flagged (no false negatives — the
    superset property vs doc_decontaminate is test-gated); false positives
    are bounded by (1 − e^{−kn/m})^k. Every hash is deterministic, so the
    whole approximate structure carries a FULL DuckDB oracle — the driver
    hash certifies the bloom construction itself, not just its statistics."""
    docs = load_table(spark, sf_dir, "documents")
    sh = F.array_distinct(TX.word_shingles(TX.ws_tokens(F.col("text")), 4))
    base = docs.select("doc_id", "source", F.explode(sh).alias("shingle"))
    h = TX.stable_hash60(F.col("shingle"))
    pos = F.array(
        *[
            F.pmod(TX.minhash_value(h, a, b), F.lit(BLOOM_M)).cast("long")
            for a, b in TX.MINHASH_COEFFS[:BLOOM_K]
        ]
    )
    ev_pos = (
        base.filter(F.col("source") == "src0")
        .select(F.explode(pos).alias("p"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tr = base.filter(F.col("source") != "src0").select(
        "doc_id", "shingle", F.explode(pos).alias("p")
    )
    probed = (
        tr.join(F.broadcast(ev_pos), "p", "left")
        .groupBy("doc_id", "shingle")
        .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) == BLOOM_K).alias("bloom_hit"))
    )
    agg = probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(F.col("bloom_hit").cast("int")).cast("long").alias("n_bloom_hits"),
    )
    ratio = F.col("n_bloom_hits").cast("double") / F.col("n_shingles").cast("double")
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_bloom_hits",
        ratio.alias("bloom_ratio"),
        (ratio >= 0.05).alias("contaminated_bloom"),
    )


WINDOW_DUP_W = 20  # ExactSubstr-style window width, in tokens


def doc_window_dups(
    spark: SparkSession, sf_dir: str, hash_backend: str = "md5"
) -> DataFrame:
    """Sequence-level duplication signal (the window-granular form of Lee
    et al. 2021's ExactSubstr dedup, public algorithm): every WINDOW_DUP_W-
    token window (stride 1) is fingerprinted with the 60-bit hash; a window
    POSITION is duplicated if its fingerprint occurs in ≥ 2 distinct docs.
    Per doc: window count, duplicated-window count, duplicated fraction —
    the signal used to cut verbatim-repeated spans that per-doc near-dup
    (MinHash) misses because the containing docs differ. The corpus is
    augmented with prefixed copies (doc_id+50000, 'intro note ' + text for
    doc_id % 13 == 0): a copy with ANY added prefix still shares every
    interior window with its original — exactly the cross-doc verbatim-span
    case this operator exists to catch. Scale shape: one row per token
    position carrying an 8-byte hash (never window text), one (hash)
    aggregate with map-side combine + one hash-keyed join back — the
    standard web-scale formulation."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.unionByName(
        docs.filter(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            F.concat(F.lit("intro note "), F.col("text")).alias("text"),
        )
    )
    wins = TX.word_shingles(TX.ws_tokens(F.col("text")), WINDOW_DUP_W)
    base = docs.select(
        "doc_id", F.explode(wins).alias("w")
    ).select("doc_id", TX.base_hash(F.col("w"), hash_backend).alias("h"))
    multi = (
        base.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("dup"))
    )
    agg = (
        base.join(multi, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0))).cast("long").alias("n_dup_windows"),
        )
    )
    return agg.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        (F.col("n_dup_windows").cast("double") / F.col("n_windows").cast("double")).alias(
            "dup_fraction"
        ),
    )


# (check name, SQL violation predicate) — the ingest-time expectation suite;
# ONE literal list drives both the Spark program and the DuckDB oracle, so
# the two can't drift.
EXPECTATIONS: list[tuple[str, str]] = [
    ("doc_id_not_null", "doc_id IS NULL"),
    ("n_chars_matches_text", "n_chars IS NULL OR length(text) <> n_chars"),
    ("text_not_empty", "text IS NULL OR length(text) = 0"),
    ("lang_is_iso2", "lang IS NULL OR length(lang) <> 2"),
    ("source_format", "source IS NULL OR source NOT LIKE 'src%'"),
]


def doc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet SCHEMA EVOLUTION end-to-end — the ingest reality every
    long-lived corpus store hits: an early batch lands without a column a
    later batch adds (here: the quality score), and readers must see ONE
    unified schema with nulls for pre-evolution rows. Writes two real
    parquet batches (even doc_ids without `quality`, odd with), reads the
    directory back with mergeSchema, and aggregates per language: row
    counts, rows carrying the new column, and the fixed-point quality sum
    (per-row ×10⁴ BIGINT before summing — integer addition is order-free,
    so the float composite survives the hash gate). The oracle states the
    merged end state declaratively over the source table. At 100 TB this
    is the additive-column path (rename/retype go through the versioned
    store's rewrite); mergeSchema's footer union is per-file metadata, not
    a data scan."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    # Per-app stable path + overwrite mode (see _staging_dir): repeated
    # runs reuse (not accumulate) the two corpus-sized staged copies, and
    # concurrent processes cannot overwrite each other mid-read.
    out = os.path.join(_staging_dir(spark, "schevo", sf_dir), "docs")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).write.mode("overwrite").parquet(f"{out}/batch=1")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        quality_score(F.col("text")).alias("quality"),
    ).write.mode("overwrite").parquet(f"{out}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    if "quality" not in merged.columns or "batch" not in merged.columns:
        raise ValueError("mergeSchema did not surface the evolved columns")
    qfp = F.round(F.col("quality") * 10000).cast("long")
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("quality").cast("long").alias("n_with_quality"),
            F.sum(F.coalesce(qfp, F.lit(0))).cast("long").alias("sum_quality_fp"),
        )
        .orderBy("lang")
    )


def doc_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (the Great-Expectations shape, Spark-first): every
    expectation is a violation-count aggregate over ONE scan — adding a
    check adds a column to the same partial aggregate, not a pass over the
    data. The wide one-row aggregate unpivots to (check, n_violations,
    n_rows) rows; doc_id uniqueness rides the same aggregate as
    count − countDistinct."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.count(F.lit(1)) - F.countDistinct("doc_id")).alias("_dup"),
        *[
            F.sum(F.expr(pred).cast("long")).alias(f"_c{i}")
            for i, (_, pred) in enumerate(EXPECTATIONS)
        ],
    )
    checks = [
        F.struct(F.lit(name).alias("check"), F.col(f"_c{i}").alias("n_violations"))
        for i, (name, _) in enumerate(EXPECTATIONS)
    ] + [
        F.struct(F.lit("doc_id_unique").alias("check"), F.col("_dup").alias("n_violations"))
    ]
    return (
        agg.select(F.explode(F.array(*checks)).alias("c"), F.col("_n").alias("n_rows"))
        .select("c.check", "c.n_violations", "n_rows")
        .orderBy("check")
    )


CHUNK_SIZE = 400
CHUNK_STRIDE = 300  # overlap = CHUNK_SIZE - CHUNK_STRIDE = 100 chars


def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: fixed-size character windows with
    overlap (size 400, stride 300). Chunk k of a doc starts at 1 + k·stride
    for every k with k·stride < n_chars, so chunk count = ceil(len/stride)
    — integer arithmetic, engine-exact. Rows carry the chunk's md5 (not its
    text): downstream embedding/dedup stages key on the fingerprint, and the
    shuffle stays ~50 B/chunk instead of carrying bodies — the 100 TB shape.
    One scan, no shuffle before the output."""
    docs = load_table(spark, sf_dir, "documents")
    # greatest(,1) guard: an empty doc still yields one (empty) chunk in both
    # engines (integer div avoids DuckDB's floor-division -1 on len 0)
    last_k = F.expr(f"(greatest(length(text), 1) - 1) div {CHUNK_STRIDE}")
    chunk = F.substring(
        F.col("text"), F.col("k").cast("int") * CHUNK_STRIDE + 1, CHUNK_SIZE
    )
    return (
        docs.select("doc_id", "text", F.explode(F.sequence(F.lit(0).cast("long"), last_k)).alias("k"))
        .select(
            "doc_id",
            F.col("k").cast("long").alias("chunk_id"),
            (F.col("k").cast("long") * CHUNK_STRIDE + 1).alias("chunk_start"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


def doc_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_chunk_windows' twin as a Spark 4 PYTHON UDTF consumed through a
    SQL LATERAL join — the user-defined TABLE function surface
    (pyspark.sql.functions.udtf), demonstrated the honest way: it shares
    the declarative chunker's oracle, so the hash certifies the UDTF
    computes the identical expansion. (The declarative form remains the
    hot-path choice — sequence+explode stays in codegen; the UDTF is the
    escape hatch for expansions Catalyst can't express.)"""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id long, chunk_start long, chunk_len long, chunk_md5 string")
    class Chunker:
        def eval(self, text):
            import hashlib

            t = text or ""
            last_k = (max(len(t), 1) - 1) // CHUNK_STRIDE
            for k in range(last_k + 1):
                start = k * CHUNK_STRIDE
                chunk = t[start : start + CHUNK_SIZE]
                yield (
                    k,
                    start + 1,
                    len(chunk),
                    hashlib.md5(chunk.encode("utf-8")).hexdigest(),
                )

    spark.udtf.register("vs_chunker", Chunker)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__vs_chunk_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk_start, c.chunk_len, c.chunk_md5
        FROM __vs_chunk_docs d, LATERAL vs_chunker(d.text) c
        """
    )


def doc_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink end-to-end (sources.jsonl): dump the documents
    table to JSONL, append two malformed lines, read back schema-enforced —
    valid rows survive byte-identical and the corrupt lines land in the
    quarantine column instead of vanishing. Oracle-backed: the per-(source,
    lang) counts must equal the direct-table aggregate plus the known
    quarantine group for the injected lines."""
    import os

    from vers_spark.sources.jsonl import DOCUMENTS_SCHEMA, read_jsonl, write_jsonl

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(_staging_dir(spark, "jsonl", sf_dir), "docs")
    write_jsonl(docs, path, num_files=4)
    with open(os.path.join(path, "part-corrupt.json"), "w") as f:
        f.write('{"doc_id": "not-a-number", "text": 12.5e\n')
        f.write("this is not json at all\n")
    back = read_jsonl(spark, path, DOCUMENTS_SCHEMA)
    return (
        back.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias("n_corrupt"),
        )
        .orderBy("source", "lang")
    )


def doc_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink end-to-end (sources.csv_file): dump documents to
    quoted CSV, append a malformed line (wrong arity, bad long), read back
    schema-enforced — valid rows survive and corrupt lines are quarantined.
    Oracle-backed: the per-(source, lang) counts must equal the direct-table
    aggregate plus the sentinel quarantine group for the injected row."""
    import os

    from vers_spark.sources.csv_file import read_csv, write_csv
    from vers_spark.sources.jsonl import DOCUMENTS_SCHEMA

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(_staging_dir(spark, "csv", sf_dir), "docs")
    write_csv(docs, path, num_files=4)
    with open(os.path.join(path, "part-corrupt.csv"), "w") as f:
        f.write("doc_id,text,lang,source,n_chars\n")
        # PERMISSIVE CSV keeps fields that DO parse and only flags arity
        # mismatches (a bad long just nulls the field in Spark 4) — so the
        # injected corrupt line is a short row, with sentinel values keeping
        # it out of the real (source, lang) groups.
        f.write('"9999999","x","xx","zz-corrupt"\n')
    # the staging path is stable within an app (sources/staging.py), and
    # write_csv's overwrite triggers CacheManager.recacheByPath — which
    # re-lists the directory BEFORE the corrupt file above exists. A rerun
    # in the same session would otherwise serve that stale cached listing
    # (quarantine row invisible); refresh re-lists with the full file set.
    spark.catalog.refreshByPath(path)
    # cache() materializes ALL columns before the aggregate: under column
    # pruning the CSV parser would only parse (source, lang) and never
    # notice the short row's missing 5th field (Spark's documented
    # corrupt-column caveat) — malformation detection needs the full parse.
    back = read_csv(spark, path, DOCUMENTS_SCHEMA).cache()
    return (
        back.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias("n_corrupt"),
        )
        .orderBy("source", "lang")
    )


def doc_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink parity (the other columnar format Spark ships
    built-in; same scan contract as parquet — predicate pushdown + column
    pruning via ORC's stripe stats): documents round-trip through ORC and
    the per-(source, lang) aggregate must equal the same aggregate stated
    directly over the documents table — the oracle hash-match fails if the
    round trip loses or corrupts a row. A pushed filter keeps the read
    path honest."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(_staging_dir(spark, "orc", sf_dir), "docs")
    docs.repartition(4).write.mode("overwrite").orc(path)
    back = spark.read.orc(path).filter(F.col("n_chars") > 0)
    return (
        back.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("source", "lang")
    )


def doc_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source/sink parity (SURVEY §9.5): documents round-trip through
    Avro OCF files and the per-(source, lang) aggregate must equal the same
    aggregate stated directly over the table. Uses the spark-avro module
    when on the classpath; otherwise sources/avro_file's self-contained
    null-codec fallback (distributed write-per-partition + binaryFile read)
    — the SAME oracle hash-match gates both paths."""
    import os
    import shutil

    from vers_spark.sources.avro_file import read_avro, write_avro

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(_staging_dir(spark, "avro", sf_dir), "docs")
    # the no-spark-avro fallback writes uuid-named part files without
    # clearing the target (unlike DataFrameWriter overwrite) — a reused
    # staging path must be emptied or reruns double the corpus
    shutil.rmtree(path, ignore_errors=True)
    write_avro(docs, path)
    back = read_avro(
        spark, path, "doc_id long, text string, lang string, source string, n_chars long"
    ).filter(F.col("n_chars") > 0)
    return (
        back.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("source", "lang")
    )


def _cms_oracle() -> str:
    rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(TX.MINHASH_COEFFS[:CMS_DEPTH])
    )
    h = D_HASH60.format(x="tok")
    return f"""
        WITH toks AS (SELECT unnest({D_TOKENS.format(t='text')}) AS tok FROM documents),
        hashes AS (SELECT tok, ({h}) % {TX.HASH_PRIME} AS hp FROM toks),
        cells AS (
            SELECT r.row_id, (r.a * hp + r.b) % {TX.HASH_PRIME} % {CMS_WIDTH} AS bucket
            FROM hashes CROSS JOIN (VALUES {rows}) r(row_id, a, b)
        ),
        cms AS (SELECT row_id, bucket, CAST(count(*) AS BIGINT) AS cnt
                FROM cells GROUP BY row_id, bucket),
        top AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_n
                FROM toks GROUP BY tok ORDER BY exact_n DESC, tok ASC LIMIT 20),
        th AS (SELECT tok, exact_n, ({h}) % {TX.HASH_PRIME} AS hp FROM top),
        lk AS (SELECT t.tok, t.exact_n, r.row_id,
                      (r.a * t.hp + r.b) % {TX.HASH_PRIME} % {CMS_WIDTH} AS bucket
               FROM th t CROSS JOIN (VALUES {rows}) r(row_id, a, b))
        SELECT l.tok, l.exact_n, CAST(min(c.cnt) AS BIGINT) AS cms_n
        FROM lk l JOIN cms c ON c.row_id = l.row_id AND c.bucket = l.bucket
        GROUP BY l.tok, l.exact_n
        ORDER BY l.exact_n DESC, l.tok ASC
    """


ORACLE_SQL: dict[str, str] = {
    "doc_collocation_pmi": f"""
        WITH toks AS (SELECT {D_TOKENS.format(t='text')} AS arr FROM documents),
        uni AS (
            SELECT w, CAST(count(*) AS BIGINT) AS cw
            FROM (SELECT unnest(arr) AS w FROM toks) GROUP BY w
        ),
        total AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tokens FROM uni),
        big AS (
            SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy
            FROM (SELECT unnest(list_transform(range(1, len(arr)),
                                               i -> arr[i] || ' ' || arr[i+1])) AS bigram
                  FROM toks)
            GROUP BY bigram
            HAVING count(*) >= {PMI_MIN_COUNT}
        )
        SELECT b.bigram, b.c_xy, u1.cw AS c_x, u2.cw AS c_y, t.n_tokens,
               CAST(b.c_xy * t.n_tokens AS DOUBLE)
                   / CAST(u1.cw * u2.cw AS DOUBLE) AS pmi_ratio
        FROM big b
        JOIN uni u1 ON u1.w = split_part(b.bigram, ' ', 1)
        JOIN uni u2 ON u2.w = split_part(b.bigram, ' ', 2)
        CROSS JOIN total t
        ORDER BY pmi_ratio DESC, b.bigram ASC
        LIMIT {PMI_TOPK}
    """,
    "doc_cms_heavy_hitters": _cms_oracle(),
    "doc_heavy_hitter_tokens": f"""
        WITH counts AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest({D_TOKENS.format(t='text')}) AS tok FROM documents)
            GROUP BY tok
        ), total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
        SELECT tok, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
        FROM counts, total
        WHERE CAST(n AS DOUBLE) > 0.005 * CAST(total AS DOUBLE)
        ORDER BY n DESC, tok
    """,
    "doc_bigram_topk": f"""
        WITH big AS (
            SELECT lang,
                   unnest(list_transform(range(1, len(arr)),
                                         i -> arr[i] || ' ' || arr[i+1])) AS bigram
            FROM (SELECT lang, {D_TOKENS.format(t='text')} AS arr FROM documents)
        ), counts AS (
            SELECT lang, bigram, CAST(count(*) AS BIGINT) AS n
            FROM big GROUP BY lang, bigram
        )
        SELECT lang, bigram, n, rank FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram ASC) AS INT) AS rank
            FROM counts
        ) WHERE rank <= 5
        ORDER BY lang, rank
    """,
    "doc_token_stats": f"""
        SELECT doc_id,
               CAST(len({D_TOKENS.format(t='text')}) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct({D_TOKENS.format(t='text')})) AS BIGINT) AS n_unique_tokens,
               CAST(len({D_BPE.format(t='text')}) AS BIGINT) AS n_bpe_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_measured,
               CAST(list_reduce(list_transform({D_TOKENS.format(t='text')}, t -> CAST(length(t) AS BIGINT)), (a,b) -> a+b) AS DOUBLE)
                   / CAST(greatest(len({D_TOKENS.format(t='text')}), 1) AS DOUBLE) AS avg_token_len
        FROM documents
    """,
    "doc_quality": f"""
        WITH f AS (
            SELECT doc_id,
                   CAST({d_count_in_set(D_TOKENS.format(t='text'), TX.STOPWORDS_EN)} AS DOUBLE)
                       / CAST(greatest(len({D_TOKENS.format(t='text')}), 1) AS DOUBLE) AS stopword_ratio,
                   CAST(length(text) - length(regexp_replace(text, '[.,!?;:()\\[\\]{{}}''"]', '', 'g')) AS DOUBLE)
                       / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
                   CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                       / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_ratio,
                   CAST(greatest(length(text), 1) AS DOUBLE)
                       / CAST(greatest(len({D_TOKENS.format(t='text')}), 1) AS DOUBLE) AS mean_word_len
            FROM documents
        )
        SELECT doc_id, stopword_ratio, punct_ratio, digit_ratio, mean_word_len,
               0.4 * stopword_ratio + 0.3 * (1.0 - punct_ratio) + 0.2 * (1.0 - digit_ratio)
                   + 0.1 * least(mean_word_len / 10.0, 1.0) AS quality_score
        FROM f
    """,
    "doc_lang_id": f"""
        WITH s AS (
            SELECT doc_id, lang AS labeled_lang,
                   {', '.join(f"CAST({d_count_in_set(D_TOKENS.format(t='text'), TX.LANG_MARKERS[lang])} AS BIGINT) AS s_{lang}" for lang in sorted(TX.LANG_MARKERS))}
            FROM documents
        )
        SELECT doc_id, labeled_lang, {', '.join(f's_{lang}' for lang in sorted(TX.LANG_MARKERS))},
               {_d_argmax_lang(list(TX.LANG_MARKERS))} AS predicted_lang
        FROM s
    """,
    "doc_lang_confusion": f"""
        WITH s AS (
            SELECT doc_id, lang AS labeled_lang,
                   {', '.join(f"CAST({d_count_in_set(D_TOKENS.format(t='text'), TX.LANG_MARKERS[lang])} AS BIGINT) AS s_{lang}" for lang in sorted(TX.LANG_MARKERS))}
            FROM documents
        ), p AS (
            SELECT labeled_lang, {_d_argmax_lang(list(TX.LANG_MARKERS))} AS predicted_lang FROM s
        )
        SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM p GROUP BY labeled_lang, predicted_lang
        ORDER BY labeled_lang, predicted_lang
    """,
    "doc_fingerprint": f"""
        SELECT doc_id,
               substr(md5(text), 1, 16) AS fp_md5,
               {D_POLY_FP.format(t='text')} AS fp_poly,
               {D_HASH60.format(x='text')} AS fp_hash60
        FROM documents
    """,
    "doc_repetition_quality": f"""
        WITH base AS (
            SELECT doc_id, text, {D_TOKENS.format(t='text')} AS toks FROM documents
        ), arr AS (
            SELECT doc_id, text, toks,
                   list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bg,
                   len(list_filter(range(1, len(toks)), i -> toks[i] = toks[i+1])) AS adj_dups,
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(1, len(toks) - 1),
                                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                        ELSE [] END AS tg
            FROM base
        ), dist AS (
            SELECT *, list_distinct(bg) AS dbg, list_distinct(tg) AS dtg FROM arr
        ), cnt AS (
            SELECT *,
                   list_transform(dbg, g -> len(list_filter(bg, x -> x = g))) AS bgc,
                   list_transform(dtg, g -> len(list_filter(tg, x -> x = g))) AS tgc
            FROM dist
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS DOUBLE)
                   / CAST(greatest(len(toks), 1) AS DOUBLE) AS unique_token_ratio,
               CAST(adj_dups AS DOUBLE)
                   / CAST(greatest(len(toks) - 1, 1) AS DOUBLE) AS adjacent_dup_frac,
               CASE WHEN len(bg) > 0
                    THEN CAST(list_max(bgc) * length(list_min(list_filter(dbg,
                              (g, i) -> bgc[i] = list_max(bgc)))) AS DOUBLE)
                         / CAST(greatest(length(text), 1) AS DOUBLE)
                    ELSE 0.0 END AS top_bigram_char_frac,
               CAST(coalesce(list_sum(list_transform(dtg,
                        (g, i) -> CASE WHEN tgc[i] >= 2 THEN tgc[i] * length(g) ELSE 0 END)), 0) AS DOUBLE)
                   / CAST(greatest(length(text), 1) AS DOUBLE) AS dup_trigram_char_frac
        FROM cnt
    """,
    "doc_pii_scrub": f"""
        WITH a AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END
                   || CASE WHEN doc_id % 13 = 0
                           THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.42'
                           ELSE '' END AS aug
            FROM documents
        ), s AS (
            SELECT doc_id, aug,
                   regexp_replace(regexp_replace(regexp_replace(aug,
                       '{RE_EMAIL}', '[EMAIL]', 'g'),
                       '{RE_PHONE}', '[PHONE]', 'g'),
                       '{RE_IP}', '[IP]', 'g') AS scrubbed
            FROM a
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '{RE_EMAIL}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(aug, '{RE_PHONE}')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(aug, '{RE_IP}')) AS BIGINT) AS n_ips,
               CAST(length(scrubbed) AS BIGINT) AS scrubbed_len,
               substr(md5(scrubbed), 1, 16) AS fp_scrubbed
        FROM s
    """,
    "doc_tfidf_topk": f"""
        WITH d AS (
            SELECT doc_id, {D_TOKENS.format(t='text')} AS toks FROM documents
        ), tf AS (
            SELECT doc_id, unnest(list_transform(list_distinct(toks),
                       t -> struct_pack(term := t,
                                        tf := len(list_filter(toks, x -> x = t)))), recursive := true) AS _
            FROM d
        ), dfreq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
        ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                   CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS tfidf
            FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, df, tfidf, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rank
            FROM scored
        ) WHERE rank <= 3
        ORDER BY doc_id, rank
    """,
    "doc_orc_roundtrip": """
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE n_chars > 0
        GROUP BY source, lang ORDER BY source, lang
    """,
    "doc_avro_roundtrip": """
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE n_chars > 0
        GROUP BY source, lang ORDER BY source, lang
    """,
    "doc_vocab_coverage": f"""
        WITH counts AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest({D_TOKENS.format(t='text')}) AS tok FROM documents)
            GROUP BY tok
        ), ranked AS (
            SELECT tok, n,
                   CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT) AS rank,
                   CAST(sum(n) OVER (ORDER BY n DESC, tok ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM counts
        ), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
        SELECT rank AS vocab_size, cum AS occurrences_covered, total,
               CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
        FROM ranked CROSS JOIN t
        WHERE rank IN (10, 50, 200)
        ORDER BY vocab_size
    """,
    "doc_decontaminate": r"""
        WITH toks AS (
            SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, source, unnest(list_distinct(
                CASE WHEN len(t) >= 4
                     THEN list_transform(range(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                     ELSE [list_aggregate(t, 'string_agg', ' ')] END)) AS shingle
            FROM toks
        ), ev AS (
            SELECT DISTINCT shingle FROM sh WHERE source = 'src0'
        ), agg AS (
            SELECT tr.doc_id,
                   CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
            FROM (SELECT doc_id, shingle FROM sh WHERE source <> 'src0') tr
            LEFT JOIN ev ON tr.shingle = ev.shingle
            GROUP BY tr.doc_id
        )
        SELECT doc_id, n_shingles, n_hits,
               CAST(n_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination_ratio,
               CAST(n_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.05 AS contaminated
        FROM agg
    """,
    "dedup_docs_normalized": r"""
        WITH n AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS norm
            FROM documents
        ), slim AS (
            SELECT doc_id, substr(md5(norm), 1, 16) AS fp_norm,
                   CAST(length(norm) AS BIGINT) AS n_chars_norm
            FROM n
        ), r AS (
            SELECT doc_id, fp_norm, n_chars_norm,
                   row_number() OVER (PARTITION BY fp_norm ORDER BY doc_id) AS rn,
                   CAST(count(*) OVER (PARTITION BY fp_norm) AS BIGINT) AS group_size
            FROM slim
        )
        SELECT doc_id, group_size, fp_norm, n_chars_norm FROM r WHERE rn = 1
    """,
    "doc_expectations": """
        WITH a AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS dup,
                   {checks}
            FROM documents
        )
        SELECT * FROM (
            SELECT 'doc_id_unique' AS "check", dup AS n_violations, n AS n_rows FROM a
            {unions}
        ) ORDER BY "check"
    """.format(
        checks=", ".join(
            f"CAST(sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS c{i}"
            for i, (_, pred) in enumerate(EXPECTATIONS)
        ),
        unions=" ".join(
            f"UNION ALL SELECT '{name}', c{i}, n FROM a"
            for i, (name, _) in enumerate(EXPECTATIONS)
        ),
    ),
    # UDTF twin shares the declarative chunker's oracle (set below)
    "doc_chunk_windows": f"""
        SELECT d.doc_id,
               CAST(t.k AS BIGINT) AS chunk_id,
               CAST(t.k * {CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_start,
               CAST(length(substr(d.text, CAST(t.k * {CHUNK_STRIDE} + 1 AS INT), {CHUNK_SIZE})) AS BIGINT) AS chunk_len,
               md5(substr(d.text, CAST(t.k * {CHUNK_STRIDE} + 1 AS INT), {CHUNK_SIZE})) AS chunk_md5
        FROM documents d,
             UNNEST(generate_series(0, (greatest(length(d.text), 1) - 1) // {CHUNK_STRIDE})) AS t(k)
    """,
    # Roundtrip oracles: every valid row survives the trip byte-identical, so
    # the per-group counts equal the direct-table aggregate, and the injected
    # malformed lines land in exactly one known quarantine group (JSONL:
    # all-null fields; CSV: the short row's parsed sentinel fields). The hash
    # match fails if the round trip loses, duplicates, or mutates a row OR if
    # corrupt-line quarantine misbehaves.
    "doc_jsonl_roundtrip": """
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(0 AS BIGINT) AS n_corrupt
        FROM documents GROUP BY source, lang
        UNION ALL
        SELECT NULL, NULL, CAST(2 AS BIGINT), CAST(2 AS BIGINT)
    """,
    "doc_csv_roundtrip": """
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(0 AS BIGINT) AS n_corrupt
        FROM documents GROUP BY source, lang
        UNION ALL
        SELECT 'zz-corrupt', 'xx', CAST(1 AS BIGINT), CAST(1 AS BIGINT)
    """,
}

QUERIES = {
    "doc_token_stats": doc_token_stats,
    "doc_quality": doc_quality,
    "doc_lang_id": doc_lang_id,
    "doc_lang_confusion": doc_lang_confusion,
    "doc_fingerprint": doc_fingerprint,
    "doc_bigram_topk": doc_bigram_topk,
    "doc_collocation_pmi": doc_collocation_pmi,
    "doc_schema_evolution": doc_schema_evolution,
    "doc_heavy_hitter_tokens": doc_heavy_hitter_tokens,
    "doc_cms_heavy_hitters": doc_cms_heavy_hitters,
    "doc_jsonl_roundtrip": doc_jsonl_roundtrip,
    "doc_csv_roundtrip": doc_csv_roundtrip,
    "doc_orc_roundtrip": doc_orc_roundtrip,
    "doc_avro_roundtrip": doc_avro_roundtrip,
    "doc_repetition_quality": doc_repetition_quality,
    "doc_decontaminate": doc_decontaminate,
    "doc_tfidf_topk": doc_tfidf_topk,
    "doc_vocab_coverage": doc_vocab_coverage,
    "doc_chunk_windows": doc_chunk_windows,
    "doc_chunk_udtf": doc_chunk_udtf,
    "doc_expectations": doc_expectations,
    "doc_pii_scrub": doc_pii_scrub,
    "dedup_docs_normalized": dedup_docs_normalized,
}

ORACLE_SQL["doc_chunk_udtf"] = ORACLE_SQL["doc_chunk_windows"]

QUERIES["doc_decontaminate_bloom"] = doc_decontaminate_bloom
QUERIES["doc_window_dups"] = doc_window_dups

_BLOOM_POS = ", ".join(
    f"CAST((({a} * hp + {b}) % {TX.HASH_PRIME}) % {BLOOM_M} AS BIGINT)"
    for a, b in TX.MINHASH_COEFFS[:BLOOM_K]
)
_D_HASH60_SHINGLE = D_HASH60.format(x="shingle")
_D_HASH60_W = D_HASH60.format(x="w")
_D_QSCORE = d_quality_score("text")
ORACLE_SQL["doc_schema_evolution"] = f"""
    WITH merged AS (
        SELECT lang, CAST(NULL AS DOUBLE) AS quality
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT lang, ({_D_QSCORE}) AS quality
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(quality) AS BIGINT) AS n_with_quality,
           CAST(coalesce(sum(CAST(round(quality * 10000) AS BIGINT)), 0) AS BIGINT)
               AS sum_quality_fp
    FROM merged GROUP BY lang ORDER BY lang
"""

ORACLE_SQL["doc_decontaminate_bloom"] = rf"""
    WITH toks AS (
        SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id, source, unnest(list_distinct(
            CASE WHEN len(t) >= 4
                 THEN list_transform(range(1, len(t) - 2),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                 ELSE [list_aggregate(t, 'string_agg', ' ')] END)) AS shingle
        FROM toks
    ), hp AS (
        SELECT doc_id, source, shingle,
               ({_D_HASH60_SHINGLE}) % {TX.HASH_PRIME} AS hp
        FROM sh
    ), posx AS (
        SELECT doc_id, source, shingle, unnest([{_BLOOM_POS}]) AS p FROM hp
    ), ev AS (
        SELECT DISTINCT p FROM posx WHERE source = 'src0'
    ), probed AS (
        SELECT tr.doc_id, tr.shingle,
               (sum(CASE WHEN ev.p IS NOT NULL THEN 1 ELSE 0 END) = {BLOOM_K}) AS bloom_hit
        FROM (SELECT doc_id, shingle, p FROM posx WHERE source <> 'src0') tr
        LEFT JOIN ev ON tr.p = ev.p
        GROUP BY tr.doc_id, tr.shingle
    ), agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
        FROM probed GROUP BY doc_id
    )
    SELECT doc_id, n_shingles, n_bloom_hits,
           CAST(n_bloom_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS bloom_ratio,
           CAST(n_bloom_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.05 AS contaminated_bloom
    FROM agg
"""

_D_HASH60_TOK = D_HASH60.format(x="tok")
_D_TOKS = D_TOKENS.format(t="text")
# composed per-token-hash windows (functions.text.shingle_hashes): one md5
# per TOKEN, window hash = th[i]*961 + th[i+1]*31 + th[i+2]; short docs get
# the same polynomial fold over all tokens — pure BIGINT arithmetic, so the
# values are engine-identical
ORACLE_SQL["doc_hll_distinct"] = f"""
    WITH th AS (
        SELECT list_transform({_D_TOKS},
                              tok -> ({_D_HASH60_TOK}) % {TX.HASH_PRIME}) AS th
        FROM documents),
    hs AS (
        SELECT unnest(CASE WHEN len(th) >= 3
                      THEN list_transform(generate_series(1, len(th) - 2),
                                          i -> th[i]*961 + th[i+1]*31 + th[i+2])
                      ELSE [list_reduce(th, (a, b) -> a*31 + b)] END) AS h
        FROM th),
    hashes AS MATERIALIZED (SELECT DISTINCT h FROM hs),
    cells AS (
        SELECT CAST(h % {HLL_M} AS INT) AS bucket,
               CAST(CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_RHO_MAX}
                    ELSE bit_count(((h >> {HLL_P}) & -(h >> {HLL_P})) - 1) + 1
                    END AS INT) AS rho
        FROM hashes
    ),
    regs AS (SELECT bucket, max(rho) AS register FROM cells GROUP BY bucket),
    spine AS (SELECT CAST(range AS INT) AS bucket FROM range({HLL_M})),
    full_regs AS (
        SELECT s.bucket, CAST(coalesce(r.register, 0) AS INT) AS register
        FROM spine s LEFT JOIN regs r ON r.bucket = s.bucket
    ),
    stats AS (SELECT CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SCALE} - register)) AS BIGINT)
                     AS sum_fp FROM full_regs),
    exact AS (SELECT CAST(count(*) AS BIGINT) AS exact_n FROM hashes)
    SELECT register, CAST(count(*) AS BIGINT) AS n_buckets, exact_n, sum_fp,
           {_HLL_CONST!r} / CAST(sum_fp AS DOUBLE) AS hll_est
    FROM full_regs, stats, exact
    GROUP BY register, exact_n, sum_fp
    ORDER BY register
"""
QUERIES["doc_hll_distinct"] = doc_hll_distinct

_D_BK_HASH = D_HASH60.format(x="'dq:' || CAST(doc_id AS VARCHAR)")
_BK_PCT_VALUES = ", ".join(f"({p}, {n}, {d})" for p, n, d in BK_PCTS)
ORACLE_SQL["doc_sample_quantiles"] = f"""
    WITH per AS (
        SELECT doc_id, CAST(len({D_TOKENS.format(t="text")}) AS BIGINT) AS dl
        FROM documents),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM per),
    pcts(pct, num, den) AS (VALUES {_BK_PCT_VALUES}),
    hist AS (SELECT dl, CAST(count(*) AS BIGINT) AS c FROM per GROUP BY dl),
    cum AS (SELECT dl, CAST(sum(c) OVER (ORDER BY dl
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
            FROM hist),
    exact AS (
        SELECT pct, n_docs, min(dl) AS exact_stat
        FROM pcts, tot, cum
        WHERE cum >= (num * n_docs + den - 1) // den
        GROUP BY pct, n_docs),
    samp AS (SELECT dl, ({_D_BK_HASH}) AS h FROM per ORDER BY h LIMIT {BK_K}),
    ranked AS (SELECT dl,
                      CAST(row_number() OVER (ORDER BY dl, h) AS BIGINT) AS rn,
                      CAST(count(*) OVER () AS BIGINT) AS k
               FROM samp),
    est AS (SELECT pct, k, dl AS sample_est
            FROM pcts JOIN ranked ON rn = (num * k + den - 1) // den)
    SELECT pct, n_docs, k, sample_est, exact_stat,
           CAST(abs(sample_est - exact_stat) AS BIGINT) AS abs_err
    FROM exact JOIN est USING (pct)
    ORDER BY pct
"""
QUERIES["doc_sample_quantiles"] = doc_sample_quantiles

_D_QTOKS = D_TOKENS.format(t="text")
ORACLE_SQL["doc_quality_budget_curve"] = f"""
    WITH f AS (
        SELECT CAST({d_count_in_set(_D_QTOKS, TX.STOPWORDS_EN)} AS DOUBLE)
                   / CAST(greatest(len({_D_QTOKS}), 1) AS DOUBLE) AS stop_r,
               CAST(length(text) - length(regexp_replace(text, '[.,!?;:()\\[\\]{{}}''"]', '', 'g')) AS DOUBLE)
                   / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_r,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                   / CAST(greatest(length(text), 1) AS DOUBLE) AS digit_r,
               CAST(greatest(length(text), 1) AS DOUBLE)
                   / CAST(greatest(len({_D_QTOKS}), 1) AS DOUBLE) AS mwl,
               CAST(len({_D_QTOKS}) AS BIGINT) AS n_tok
        FROM documents
    ),
    per AS (
        SELECT CAST(floor((0.4 * stop_r + 0.3 * (1.0 - punct_r) + 0.2 * (1.0 - digit_r)
                   + 0.1 * least(mwl / 10.0, 1.0)) * {QC_GRID}) AS INT) AS qb,
               n_tok
        FROM f
    ),
    hist AS (SELECT qb, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(n_tok) AS BIGINT) AS n_toks
             FROM per GROUP BY qb),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
                   CAST(sum(n_toks) AS BIGINT) AS t_toks FROM hist),
    cum AS (SELECT qb,
                   CAST(sum(n_docs) OVER (ORDER BY qb DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS docs_kept,
                   CAST(sum(n_toks) OVER (ORDER BY qb DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS toks_kept
            FROM hist),
    grid AS (SELECT CAST(range AS INT) AS k FROM range({QC_GRID} + 1)),
    joined AS (
        SELECT k, CAST(coalesce(max(docs_kept), 0) AS BIGINT) AS n_docs_kept,
               CAST(coalesce(max(toks_kept), 0) AS BIGINT) AS n_tokens_kept
        FROM grid LEFT JOIN cum ON cum.qb >= grid.k
        GROUP BY k
    )
    SELECT CAST(k AS DOUBLE) / {QC_GRID} AS threshold,
           n_docs_kept, n_tokens_kept,
           CAST(n_docs_kept AS DOUBLE) / CAST(t_docs AS DOUBLE) AS doc_frac,
           CAST(n_tokens_kept AS DOUBLE) / CAST(t_toks AS DOUBLE) AS token_frac
    FROM joined, tot
    ORDER BY threshold
"""
QUERIES["doc_quality_budget_curve"] = doc_quality_budget_curve

ORACLE_SQL["doc_window_dups"] = rf"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 50000 AS doc_id, 'intro note ' || text AS text
        FROM documents WHERE doc_id % 13 = 0
    ), toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM corpus
    ), wins AS (
        SELECT doc_id, unnest(
            CASE WHEN len(t) >= {WINDOW_DUP_W}
                 THEN list_transform(range(1, len(t) - {WINDOW_DUP_W - 2}),
                      i -> list_aggregate(t[i:i+{WINDOW_DUP_W - 1}], 'string_agg', ' '))
                 ELSE [list_aggregate(t, 'string_agg', ' ')] END) AS w
        FROM toks
    ), hs AS (
        SELECT doc_id, {_D_HASH60_W} AS h FROM wins
    ), multi AS (
        SELECT h FROM hs GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), agg AS (
        SELECT hs.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN m.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
        FROM hs LEFT JOIN multi m ON hs.h = m.h
        GROUP BY hs.doc_id
    )
    SELECT doc_id, n_windows, n_dup_windows,
           CAST(n_dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE) AS dup_fraction
    FROM agg
"""
