"""Document deduplication operators.

Exact, MinHash-LSH, SimHash, and n-gram-Jaccard dedup over a text column —
the standard large-corpus pipeline (cf. "Deduplicating Training Data Makes
Language Models Better", Lee et al. 2022; MinHash/LSH per Broder 1997).

Scale design (100 TB corpus):
- every stage is a pure DataFrame plan: tokenize/shingle/hash are
  per-row expressions (codegen, no Python);
- the only shuffles are (a) the LSH band-bucket exchange — keyed on
  (band_idx, band_hash), which is uniformly distributed by construction, so
  no skew — and (b) the pair-verification join, whose input is already
  restricted to candidate pairs;
- signatures are fixed-width arrays (P longs), so shuffle payload per doc is
  ~P*8 bytes regardless of document size; raw text never moves except for
  the final jaccard verification of candidates (and that can re-read from
  the source by id at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trino_spark.functions.arrays import word_ngrams
from trino_spark.functions.strings import normalize_text
from trino_spark.operators.util import fan_out, ngram_hashes

# MinHash parameters: P permutations split into B bands of R rows.
# P(candidate | jaccard=s) = 1-(1-s^R)^B: s=0.7 -> 0.988, s=0.5 -> 0.64,
# s=0.3 -> 0.12 — a sharp knee around the usual 0.7 near-dup threshold.
MINHASH_PERMS = 64
LSH_BANDS = 16
LSH_ROWS = 4
_MERSENNE = (1 << 61) - 1
_MAXLONG = (1 << 62)


def _perm_params(p: int = MINHASH_PERMS) -> list[tuple[int, int]]:
    """Deterministic affine permutation params (a*h+b mod mersenne61).

    Fixed linear-congruential stream so signatures are stable across runs
    and engines — no RNG at plan time.
    """
    params = []
    x = 0x9E3779B97F4A7C15
    for _ in range(p):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x | 1) % _MERSENNE
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % _MERSENNE
        params.append((a, b))
    return params


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (single-column
    form — fine for small inputs; hot paths use `with_shingles`)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(word_ngrams(normalize_text(c), n))


def with_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out: str = "_sh"
) -> DataFrame:
    """(id, shingle-set) with the tokenization materialized as its own
    projection FIRST.

    Load-bearing performance shape: expressions referenced inside a
    higher-order-function lambda are not common-subexpression-eliminated
    across the lambda boundary, so a fused
    `transform(ngrams(split(normalize(text))), ...)` re-runs the
    regex-normalize+split once per produced n-gram (measured 17x slower at
    sf0.1). Splitting into token projection -> shingle projection keeps the
    per-element lambda work O(1) array reads.
    """
    from trino_spark.functions.arrays import ngrams

    return (
        fan_out(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t")))
        .select("_id", F.split(normalize_text(F.col("_t")), " ").alias("_toks"))
        .select(
            "_id",
            F.array_distinct(
                F.transform(ngrams(F.col("_toks"), n), lambda g: F.array_join(g, " "))
            ).alias(out),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "_id", shingle_col: str = "_sh", perms: int = MINHASH_PERMS
) -> DataFrame:
    """(id, s0..s{P-1}) — per-permutation minima over shingle hashes.

    Formulated the Spark-scalable way: explode shingles -> one xxhash64 per
    shingle row -> hash-aggregate with P plain `min` expressions (vectorized,
    partial-agg map-side, parallel across partitions). A per-row
    aggregate-lambda over a P-wide array accumulator compiles to megabytes of
    codegen and serializes on one partition — measured 16x slower.

    Hash is masked to 31 bits so a*h+b stays within signed-64 range
    (a, b < 2^31 after the param-gen modulo).
    """
    params = _perm_params(perms)
    exploded = df.select(F.col(id_col), F.explode(F.col(shingle_col)).alias("_s"))
    h = F.pmod(F.xxhash64(F.col("_s")), F.lit(1 << 31))
    aggs = [
        F.min((F.lit(a % (1 << 31)) * h + F.lit(b)) % F.lit(_MERSENNE)).alias(f"s{p}")
        for p, (a, b) in enumerate(params)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_bands_from_cols(
    bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> Column:
    """array<struct<band:int, bucket:long>> from signature columns s0..sN."""
    entries = [
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(*[F.col(f"s{i * rows + r}") for r in range(rows)]).alias("bucket"),
        )
        for i in range(bands)
    ]
    return F.array(*entries)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (set semantics)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact-jaccard verification.

    Plan: shingle+sign per row -> explode band buckets -> self-join on
    (band, bucket) -> distinct pairs -> verify jaccard >= threshold.
    """
    base = with_shingles(df, id_col, text_col, n)
    sigs = minhash_signatures(base)
    banded = sigs.select(
        "_id", F.explode(minhash_bands_from_cols()).alias("_b")
    ).select("_id", F.col("_b.band").alias("_band"), F.col("_b.bucket").alias("_bucket"))
    left = banded.select(F.col("_id").alias("id_a"), "_band", "_bucket")
    right = banded.select(F.col("_id").alias("id_b"), "_band", "_bucket")
    pairs = (
        left.join(right, ["_band", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # verification join: re-attach shingle sets only for candidate pairs
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Drop every document that near-duplicates an earlier (smaller-id) doc.

    Greedy earliest-wins semantics (single LSH pass, no connected
    components): a doc survives iff no neighbor with smaller id.
    """
    dup_ids = (
        minhash_candidate_pairs(df, id_col, text_col, n, threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dup_ids, on=id_col, how="left_anti")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the smallest-id row per exact (normalized) text.

    Single hash-aggregate on the text hash — the cheap first pass every
    pipeline runs before fuzzy dedup.
    """
    key = F.md5(normalize_text(F.col(text_col))).alias("_k")
    keep = df.select(key, F.col(id_col)).groupBy("_k").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


# --- SimHash ---------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """(id, simhash bigint) — 64-bit SimHash over word n-gram features
    (Charikar 2002).

    Spark-scalable formulation: explode features -> hash once per feature ->
    hash-aggregate with 64 plain `sum(±1 per bit)` expressions -> assemble
    the sign bits. (The per-row aggregate-lambda alternative compiles to
    ~9 MB task binaries and runs minutes instead of seconds — see
    minhash_signatures docstring.)
    """
    feats = with_shingles(df, id_col, text_col, n).select("_id", F.explode("_sh").alias("_f"))
    h = F.xxhash64(F.col("_f"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"c{i}")
        for i in range(64)
    ]
    counters = feats.groupBy("_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(64):
        # bit 63 is the sign bit: 1<<63 overflows signed long, so use its
        # two's-complement value directly.
        bit = F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
        sig = sig.bitwiseOR(F.when(F.col(f"c{i}") > 0, bit).otherwise(F.lit(0).cast("long")))
    return counters.select(F.col("_id"), sig.alias("_simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs within `max_hamming` bits, found by blocking on 16-bit chunks
    (a pair within 3 bits must agree exactly on >= 1 of 4 chunks)."""
    base = simhash_signatures(df, id_col, text_col).select(
        "_id", F.col("_simhash").alias("_sh")
    )
    chunks = F.array(*[
        F.struct(F.lit(i).alias("chunk"), F.shiftrightunsigned(F.col("_sh"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"))
        for i in range(4)
    ])
    blocked = base.select("_id", "_sh", F.explode(chunks).alias("_c")).select(
        "_id", "_sh", F.col("_c.chunk").alias("_chunk"), F.col("_c.val").alias("_val")
    )
    l = blocked.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"), "_chunk", "_val")
    r = blocked.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"), "_chunk", "_val")
    return (
        l.join(r, ["_chunk", "_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard for ALL pairs (quadratic — ground-truth/debug
    tool; production uses minhash_candidate_pairs)."""
    s = with_shingles(df, id_col, text_col, n)
    a = s.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = s.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, the fraction of its
    word-n-gram shingles that appear ANYWHERE in the benchmark set, with
    `contaminated` = fraction >= threshold.

    The training-data hygiene pass (cf. the n-gram decontamination
    procedure described in public LLM reports): evaluation text must not
    leak into the training corpus. Plan shape for 100 TB: the benchmark
    side is tiny by definition, so its distinct shingles build once and
    BROADCAST into a left-semi-style hash lookup — corpus shingles explode,
    probe the broadcast set (no shuffle of corpus data beyond the id-keyed
    count-agg), and re-aggregate to per-doc hit fractions."""
    from pyspark.sql import functions as F

    corp = with_shingles(corpus, id_col, text_col, n)
    bench_sh = (
        with_shingles(benchmark.select(F.col(bench_text_col).alias("_t"), F.monotonically_increasing_id().alias("_bid")), "_bid", "_t", n)
        .select(F.explode("_sh").alias("_s"))
        .distinct()
    )
    exploded = corp.select("_id", F.explode("_sh").alias("_s"), F.size("_sh").alias("_n_sh"))
    hits = (
        exploded.join(F.broadcast(bench_sh), "_s", "left_semi")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    totals = corp.select("_id", F.size("_sh").alias("_total"))
    out = (
        totals.join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.round(
                F.coalesce(F.col("_hits"), F.lit(0)) / F.greatest(F.col("_total"), F.lit(1)),
                9,
            ).alias("overlap_frac"),
        )
        .withColumn("contaminated", F.col("overlap_frac") >= threshold)
    )
    return out


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_dup: int = 2,
) -> DataFrame:
    """Substring-level exact duplicate detection — the span analog of the
    exact-substring dedup procedure described in public LLM training-data
    reports (duplicated >= k-token runs shared across documents get cut,
    not whole documents).

    Method: slide a k-token window over every document (pure codegen:
    split + transform(sequence) + concat_ws), count each k-gram's corpus
    frequency, keep positions whose gram occurs >= min_dup times, and
    merge runs of consecutive duplicated positions into maximal spans
    (the pos - row_number islands trick over a per-doc window).

    Output: one row per (doc, span): span_start / span_end are token
    indices (0-based, end exclusive of the last gram start + k).

    100 TB plan shape: grams are ROLLING HASHES over per-token hashes
    (transform + aggregate lambdas — pure arithmetic, no k-token string
    ever materializes), one explode (linear in token count), a gram-key
    HASH AGGREGATION for corpus frequency (map-side partial combine, so
    a boilerplate gram occurring 10^8 times contributes at most
    one partial row per map task — a window count over the gram key,
    the round-5 shape, had no partial agg and put every occurrence of a
    hot gram in one partition), an AQE-skew-splittable left-semi join
    back onto the gram stream, and a per-doc window — no all-pairs
    anywhere. The gram projection is evaluated on both sides of the
    semi-join, but it is pure xxhash64 arithmetic (the expensive
    string-gram materialization was eliminated in round 5).
    """
    from pyspark.sql import Window

    # The rolling-hash projection is the dominant CPU; a small local
    # input (one parquet file -> one partition) would run it
    # single-threaded, so spread it first (same guard as the boilerplate
    # detector, PERF.md r4). At scale inputs arrive in many partitions
    # and this is a no-op branch.
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(target, 16):
        df = df.repartition(min(target, 16))
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # per-token hashes once, then a chained-hash combine per window —
    # the gram key never exists as a string
    th = F.transform(toks, lambda t: F.xxhash64(t))
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(ngram_hashes(th, k)).alias("_pos", "_gh"),
    )
    dup_grams = (
        grams.groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_dup)
        .select("_gh")
    )
    dup_pos = grams.join(dup_grams, "_gh", "left_semi").select("_id", "_pos")
    w = Window.partitionBy("_id").orderBy("_pos")
    islands = dup_pos.withColumn(
        "_isl", F.col("_pos") - F.row_number().over(w)
    )
    return (
        islands.groupBy("_id", "_isl")
        .agg(F.min("_pos").alias("span_start"), F.max("_pos").alias("_last"))
        .select(
            F.col("_id").alias(id_col),
            F.col("span_start").cast("long").alias("span_start"),
            (F.col("_last") + F.lit(k)).cast("long").alias("span_end"),
            (F.col("_last") + F.lit(k) - F.col("span_start")).cast("long").alias("span_tokens"),
        )
    )
