"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Beyond the reference's surface (its payloads — documents + embeddings —
are exactly what a training-data pipeline dedups at 100 TB). Design
rules:

- every output is deterministic and reproducible on DuckDB (md5-based
  hashing, see :mod:`neo4j_arrow_spark.functions.hashing`) so the
  correctness gate can hash-match it;
- candidate generation is always a bounded equi-join (LSH bands,
  simhash chunks, df-capped inverted index) — never an O(n²) cross
  join, except the explicitly-named brute-force baselines;
- verification (exact jaccard / hamming / cosine) runs only on
  candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from neo4j_arrow_spark.functions.hashing import hash64, hash_bit
from neo4j_arrow_spark.functions.textfns import shingles, tokens  # noqa: F401 — shingles kept as the column-level API

# --------------------------------------------------------------------------
# persisted-intermediate bookkeeping
# --------------------------------------------------------------------------

def _with_intermediates(out: DataFrame, frames: list[DataFrame]) -> DataFrame:
    """Record the persisted intermediate frames on the result so callers
    can release them (``unpersist_intermediates``) once the result is
    consumed. The handles are plan-sized Python objects, not data."""
    out._persisted_intermediates = frames  # type: ignore[attr-defined]
    return out


def _intermediates_of(df: DataFrame) -> list[DataFrame]:
    """The persisted frames recorded on ``df`` (empty if none) — what a
    projection of ``df`` hands to :func:`_with_intermediates` so the
    release handle survives it."""
    return list(getattr(df, "_persisted_intermediates", ()))


def unpersist_intermediates(df: DataFrame, blocking: bool = False) -> None:
    """Release the cached partitions behind a result of
    ``minhash_lsh_pairs`` / ``simhash_pairs`` / ``ngram_jaccard_pairs``.

    Those operators persist() doc-sized subframes referenced by several
    plan branches; in a long-lived session the caller should release
    them after fully consuming (or writing out) the result — re-running
    the result's plan after release recomputes them silently. No-op for
    DataFrames without recorded intermediates."""
    for frame in _intermediates_of(df):
        frame.unpersist(blocking)


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact duplicate detection: every row annotated with the group's
    canonical (minimum) id and a duplicate flag.

    One shuffle, on the grouped columns' hash. ``xxhash64`` would be
    marginally faster but the hash never needs to leave the plan anyway
    — we window directly on the content columns and let Spark hash them
    for partitioning.
    """
    w = Window.partitionBy(*cols)
    return df.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("canonical_id"),
        (F.col(id_col) != F.min(id_col).over(w)).alias("is_duplicate"),
    )


def exact_dedup_keep(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row (the min-id one) per content group —
    the materializing variant."""
    w = Window.partitionBy(*cols).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# shingle table (shared by minhash / jaccard)
# --------------------------------------------------------------------------

def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) pairs. Docs with < n tokens vanish
    (empty shingle set) — callers treat them as non-duplicable.

    Implementation: posexplode tokens once, then n-gram via window
    ``lead`` — everything stays in whole-stage codegen. The equivalent
    array-expression form (``explode(array_distinct(shingles(text)))``)
    evaluates the interpreted higher-order transform/slice chain and
    re-tokenizes per reference; it benched ~6× slower. Output set is
    identical (tests + DuckDB oracle pin it)."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return (
        toks.select("doc", F.concat_ws(" ", *parts).alias("shingle"), parts[-1].alias("_last"))
        .filter(F.col("_last").isNotNull())
        .select("doc", "shingle")
        .dropDuplicates(["doc", "shingle"])
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    include_size: bool = False,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc minhash signature: column ``mh_i`` = min over shingles of
    hash_i(shingle). One explode + one partial-aggregated groupBy — at
    scale the shuffle carries only (doc, 16 longs). ``include_size``
    adds the shingle-set cardinality ``sz`` in the same pass (saves a
    second scan when jaccard needs set sizes).

    ``shingles`` lets a caller that ALSO needs the shingle table for
    exact verification (the LSH pair generators) pass its own persisted
    ``shingle_table`` output, so the tokenize + explode + n-gram window
    + dedup derivation runs once per query instead of once per
    consumer (guide §1.2 — don't compute things twice). When given, it
    TAKES PRECEDENCE: ``df``, ``id_col``, ``text_col`` and
    ``shingle_n`` are not read, so it must already be the
    ``(doc, shingle)`` table of the intended source and n; a frame
    without those columns raises ``ValueError``.

    Hash family: Kirsch-Mitzenmacher double hashing — h_i = h1 + i·h2
    from TWO 28-bit md5-derived bases (two md5 calls per shingle, not
    ``num_hashes``; 28-bit bases keep h1 + 15·h2 < 2³² so the oracle's
    BIGINT arithmetic can't overflow)."""
    if shingles is not None:
        missing = {"doc", "shingle"} - set(shingles.columns)
        if missing:
            raise ValueError(
                "minhash_signatures(shingles=...) expects a shingle_table "
                f"(doc, shingle) frame; missing column(s) {sorted(missing)} "
                f"in {shingles.columns}"
            )
    sh = (
        shingles
        if shingles is not None
        else shingle_table(df, id_col, text_col, shingle_n)
    )
    # project the two base hashes BEFORE aggregating: the 16 min-agg
    # expressions then reference plain long columns instead of each
    # re-deriving md5 (subexpression elimination across aggregate
    # buffers is not guaranteed)
    hashed = sh.select(
        "doc",
        hash64(F.col("shingle"), seed=0, hex_chars=7).alias("h1"),
        hash64(F.col("shingle"), seed=1, hex_chars=7).alias("h2"),
    )
    aggs = [
        F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    if include_size:
        aggs.append(F.count("*").alias("sz"))
    return hashed.groupBy("doc").agg(*aggs)


def _band_key(sig_cols: list[Column], band: int) -> Column:
    return hash64(F.concat_ws(",", *sig_cols), seed=1000 + band)


def minhash_band_buckets(
    sig: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc, band, band_key) rows — the LSH bucket assignment.

    One ``posexplode`` projection, NOT a union of per-band selects: a
    union would recompute the (expensive) signature aggregation once
    per band."""
    rows_per_band = num_hashes // bands
    band_keys = [
        _band_key(
            [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)], b
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc", F.posexplode(F.array(*band_keys)).alias("band", "band_key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with EXACT
    jaccard over the shingle sets.

    Plan shape: band bucket self-join (equi-join on (band, band_key) —
    skew-safe: a bucket of k docs yields k² candidates, and AQE splits
    hot buckets) → distinct candidate pairs → two semi-joins against
    the shingle table to count intersections → jaccard filter. The
    quadratic blow-up of naive all-pairs never appears.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to
    6 (cross-engine FP stability).

    The per-doc frames (signature+size, buckets) and the shingle table
    are persisted: each is referenced by 2+ plan branches and would be
    recomputed — including its explode and md5 work — once per branch
    otherwise. They are |docs|- and |shingles|-sized (MEMORY_AND_DISK,
    spillable), never output-sized. Release them with
    :func:`unpersist_intermediates` after consuming the result.
    """
    # ONE shingle derivation feeds both the signature aggregation and
    # the exact-jaccard verification joins (pre-r12 each derived its
    # own tokenize + explode + n-gram window + dedup subtree)
    sh = shingle_table(df, id_col, text_col, shingle_n).persist()
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n,
        include_size=True, shingles=sh,
    ).persist()
    buckets = minhash_band_buckets(sig, num_hashes, bands).persist()

    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )

    sizes = sig.select("doc", "sz")

    inter = (
        cands.join(sh.alias("sa"), F.col("id_a") == F.col("sa.doc"))
        .join(
            sh.alias("sb"),
            (F.col("id_b") == F.col("sb.doc"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )

    jac = (
        inter.join(sizes.alias("za"), F.col("id_a") == F.col("za.doc"))
        .join(sizes.alias("zb"), F.col("id_b") == F.col("zb.doc"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("za.sz") + F.col("zb.sz") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return _with_intermediates(
        jac.filter(F.col("jaccard") >= threshold), [sig, buckets, sh]
    )


def minhash_lsh_pairs_incremental(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_new: Column,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup detection — the daily-ingest shape: check a
    NEW batch (rows where ``is_new``) against the whole corpus WITHOUT
    re-comparing corpus-internal pairs. Candidate generation joins only
    the new batch's band buckets against all buckets, so per-ingest
    cost is ∝ |new| · bucket-density, not |corpus|² — at 100 TB this is
    the difference between a daily job and an impossible one.

    Output is identical in shape to :func:`minhash_lsh_pairs` and
    equals its all-pairs output filtered to pairs touching a new doc
    (the oracle states it exactly that way). Same persist contract
    (:func:`unpersist_intermediates`).
    """
    flagged = df.withColumn("_new", is_new)
    # shared shingle derivation, as in minhash_lsh_pairs
    sh = shingle_table(flagged, id_col, text_col, shingle_n).persist()
    sig = minhash_signatures(
        flagged, id_col, text_col, num_hashes, shingle_n,
        include_size=True, shingles=sh,
    ).persist()
    buckets = minhash_band_buckets(sig, num_hashes, bands).persist()
    new_ids = flagged.filter(F.col("_new")).select(
        F.col(id_col).alias("doc")
    )
    new_buckets = buckets.join(F.broadcast(new_ids), "doc", "left_semi")

    a, b = new_buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least("a.doc", "b.doc").alias("id_a"),
            F.greatest("a.doc", "b.doc").alias("id_b"),
        )
        .distinct()
    )

    sizes = sig.select("doc", "sz")
    inter = (
        cands.join(sh.alias("sa"), F.col("id_a") == F.col("sa.doc"))
        .join(
            sh.alias("sb"),
            (F.col("id_b") == F.col("sb.doc"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    jac = (
        inter.join(sizes.alias("za"), F.col("id_a") == F.col("za.doc"))
        .join(sizes.alias("zb"), F.col("id_b") == F.col("zb.doc"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("za.sz") + F.col("zb.sz") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )
    return _with_intermediates(
        jac.filter(F.col("jaccard") >= threshold), [sig, buckets, sh]
    )


def neardup_clusters(
    pairs: DataFrame, docs: DataFrame, id_col: str
) -> DataFrame:
    """Corpus-level dedup: turn a near-duplicate PAIR list (id_a, id_b —
    any of the pair generators above) into duplicate CLUSTERS and pick
    one canonical document per cluster. This is the step that actually
    shrinks a training corpus: transitive near-dups (a~b, b~c) collapse
    into one cluster even when a,c were never compared.

    Clusters = connected components over the pair graph (O(log n)
    star-contraction rounds — operators/components.py); canonical = the
    minimum doc id of the cluster (deterministic). Docs in no pair are
    their own canonical, via a left join — never materializing the
    (corpus-sized) singleton edge set.

    Returns ``(id_col, canonical_id, is_duplicate, cluster_size)``.
    """
    from neo4j_arrow_spark.operators.components import connected_components

    labels = connected_components(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    )
    canon = (
        docs.select(F.col(id_col))
        .join(labels.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("comp", F.col(id_col)).alias("canonical_id"),
        )
    )
    sizes = canon.groupBy("canonical_id").agg(
        F.count("*").alias("cluster_size")
    )
    return canon.join(sizes, "canonical_id").select(
        F.col(id_col),
        "canonical_id",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
        "cluster_size",
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc simhash fingerprint: bit i set iff the sum of ±1
    contributions of bit i across shingle hashes is >= 0 (ties set the
    bit — deterministic). 16 bits default keeps the oracle SQL sane;
    the construction is bit-width-agnostic."""
    sh = shingle_table(df, id_col, text_col, shingle_n)
    h = hash64(F.col("shingle"), seed=0)
    sums = sh.groupBy("doc").agg(
        *[F.sum(hash_bit(h, i)).alias(f"b{i}") for i in range(bits)]
    )
    fp = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select("doc", fp.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    shingle_n: int = 3,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidates via the pigeonhole chunk trick: with ``chunks`` >
    ``max_hamming`` equal-width chunks, any pair within the distance
    budget agrees on >= 1 whole chunk, so an equi-join per chunk finds
    all of them — no cross join. Verification = bit_count(xor).
    """
    assert chunks > max_hamming, "pigeonhole needs chunks > max_hamming"
    fps = simhash(df, id_col, text_col, bits, shingle_n)
    width = bits // chunks
    mask = (1 << width) - 1
    # persisted: referenced 2× per chunk join — 8 recomputations of the
    # shingle aggregation otherwise. |docs| rows only.
    chunked = fps.select(
        "doc",
        "simhash",
        *[
            F.shiftright("simhash", c * width).bitwiseAND(F.lit(mask)).alias(f"c{c}")
            for c in range(chunks)
        ],
    ).persist()
    pairs = None
    for c in range(chunks):
        a, b = chunked.alias("a"), chunked.alias("b")
        p = a.join(
            b,
            (F.col(f"a.c{c}") == F.col(f"b.c{c}")) & (F.col("a.doc") < F.col("b.doc")),
        ).select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return _with_intermediates(
        pairs.distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming"),
        [chunked],
    )


# --------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index join)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Jaccard-over-shingles pairs via an inverted-index self-join.

    ``max_df`` defines the vocabulary: shingles appearing in more than
    that many docs are dropped BEFORE anything else (the classic
    stop-shingle cap — a shingle in k docs contributes k² candidate
    rows, so ubiquitous shingles are what kills this join at scale).
    Jaccard is computed over the capped shingle sets; with
    ``max_df=None`` it is the exact full-set jaccard. Computing
    directly on the capped sets (rather than re-verifying candidates
    against full sets) keeps the plan at one self-join + one
    aggregation — the full-set verify would re-join every candidate
    pair against the corpus-sized shingle table.
    """
    sh = shingle_table(df, id_col, text_col, shingle_n)
    indexed = sh
    extra: list[DataFrame] = []
    if max_df is not None:
        # persisted: the df-count branch and the semi-join's left side
        # both read the shingle table — one derivation, not two
        sh = sh.persist()
        extra.append(sh)
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        indexed = sh.join(rare, "shingle", "left_semi")
    # persisted: feeds sizes + both sides of the candidate self-join
    indexed = indexed.persist()
    sizes = indexed.groupBy("doc").agg(F.count("*").alias("sz"))

    inter = (
        indexed.alias("a")
        .join(
            indexed.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return _with_intermediates(
        inter.join(sizes.alias("za"), F.col("id_a") == F.col("za.doc"))
        .join(sizes.alias("zb"), F.col("id_b") == F.col("zb.doc"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("za.sz") + F.col("zb.sz") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold),
        [indexed, *extra],
    )


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order —
    matters for cross-engine FP equality)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def norm(v: Column) -> Column:
    return F.sqrt(_dot(v, v))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine with the norms precomputed per row — identical doubles to
    :func:`cosine` (same expressions, evaluated once per row instead of
    once per pair), so oracle SQL that writes the full formula still
    hash-matches."""
    return _dot(a, b) / (na * nb)


QUANT_BITS = 20
QUANT_SCALE = 1 << QUANT_BITS


def quantized_cosine_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_blocks: int = 8,
) -> DataFrame:
    """All-pairs cosine >= threshold via block-matrix multiply.

    Vectors are quantized to 20-fractional-bit integers (element →
    round-half-away(x·2²⁰)), making the dot product EXACT integer
    arithmetic — summation-order-independent, hence reproducible by any
    engine including the DuckDB oracle, while freeing this side to use
    numpy int64 matmul instead of a per-pair interpreted fold.
    Quantization shifts cosine by O(2⁻²⁰/‖v‖) — noise for near-dup
    detection.

    Shape: each vector ships to ``n_blocks`` block-pair groups (not n
    copies — the classic blocked all-pairs layout); per group one
    (|blk|×d)·(d×|blk|) matmul. Raw cosine comes back unrounded; the
    caller applies Spark-side round(6) + threshold so the final filter
    matches the oracle bit-for-bit. Inside the kernel a conservative
    pre-filter (threshold − 1e-6) keeps the output sparse.

    Output: (id_a, id_b, cos_raw) with id_a < id_b.
    """
    import pandas as pd

    nb = n_blocks
    base = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).alias("blk"),
    )
    # left: block x replicated to every pair (x, y>=x); right: block y to
    # (x<=y, y). Non-key columns are named uniquely per side: with equal
    # names on both sides, Spark's cogroup-Arrow path has been observed
    # to deliver the right frame pruned to its grouping keys.
    left = base.withColumn(
        "bb", F.explode(F.sequence(F.col("blk"), F.lit(nb - 1)))
    ).select(F.col("blk").alias("ba"), "bb", F.col("vid").alias("lvid"), F.col("vec").alias("lvec"))
    right = base.withColumn(
        "ba", F.explode(F.sequence(F.lit(0), F.col("blk")))
    ).select("ba", F.col("blk").alias("bb"), F.col("vid").alias("rvid"), F.col("vec").alias("rvec"))

    pre_threshold = threshold - 1e-6

    def block_pairs(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_raw": []})
        A = np.stack(lpdf["lvec"].values).astype(np.float64)
        B = np.stack(rpdf["rvec"].values).astype(np.float64)
        # round half away from zero == DuckDB round()
        Aq = np.trunc(A * QUANT_SCALE + np.copysign(0.5, A)).astype(np.int64)
        Bq = np.trunc(B * QUANT_SCALE + np.copysign(0.5, B)).astype(np.int64)
        G = Aq @ Bq.T
        na = np.sqrt((Aq * Aq).sum(axis=1).astype(np.float64))
        nbn = np.sqrt((Bq * Bq).sum(axis=1).astype(np.float64))
        cos = G / (na[:, None] * nbn[None, :])
        ia = lpdf["lvid"].values[:, None]
        ib = rpdf["rvid"].values[None, :]
        # same-block groups hold identical row sets on both sides: the
        # id order dedups (i<j). Cross-block groups see each unordered
        # pair exactly once but with arbitrary id order — normalize.
        if key[0] == key[1]:
            mask = (cos >= pre_threshold) & (ia < ib)
        else:
            mask = cos >= pre_threshold
        ai, bi = np.nonzero(mask)
        left_ids = lpdf["lvid"].values[ai]
        right_ids = rpdf["rvid"].values[bi]
        return pd.DataFrame(
            {
                "id_a": np.minimum(left_ids, right_ids),
                "id_b": np.maximum(left_ids, right_ids),
                "cos_raw": cos[ai, bi],
            }
        )

    return (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(block_pairs, schema="id_a long, id_b long, cos_raw double")
    )


def duck_quantized_cos(a: str, b: str) -> str:
    """DuckDB twin of the quantized cosine (exact integer dot)."""

    def qdot(x: str, y: str) -> str:
        return (
            f"list_sum(list_transform(range(1, len({x}) + 1), "
            f"i -> round(({x})[i]::DOUBLE * {QUANT_SCALE})::BIGINT"
            f" * round(({y})[i]::DOUBLE * {QUANT_SCALE})::BIGINT))"
        )

    return (
        f"round({qdot(a, b)}::DOUBLE / "
        f"(sqrt({qdot(a, a)}::DOUBLE) * sqrt({qdot(b, b)}::DOUBLE)), 6)"
    )


def embedding_neardup_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.99,
    n_blocks: int = 8,
) -> DataFrame:
    """Scale-path cosine near-dup: blocked quantized kernel + exact
    Spark-side round/threshold (matches :func:`duck_quantized_cos`)."""
    raw = quantized_cosine_blocked(df, id_col, vec_col, threshold, n_blocks)
    return raw.select(
        "id_a", "id_b", F.round("cos_raw", 6).alias("cos")
    ).filter(F.col("cos") >= threshold)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.99,
) -> DataFrame:
    """Brute-force cosine near-dup pairs (the baseline; the LSH-bucketed
    scale path lives in operators.similarity and reuses ``cosine``).

    O(n²/2) pairs but only ONE dot product per pair: norms are
    computed per row before the join (n sqrt+dots instead of n²).
    """
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_prenormed(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def normalized_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Canonicalized exact dedup: normalize the text (lowercase,
    collapse every non-alphanumeric run to one space, trim) and group
    identical canonical forms. Catches whitespace/punctuation/case
    variants that byte-exact dedup misses, at exact-dedup cost — one
    hash shuffle on the canonical string (at 100 TB, shuffle a 64-bit
    hash of the canonical form instead of the text itself).

    Returns one row per input doc: ``(id_col, keeper, group_size)``
    where ``keeper`` is the smallest id with the same canonical form.
    """
    canon = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-zA-Z0-9]+", " ")
    )
    canonical = df.select(F.col(id_col), canon.alias("_canon"))
    groups = canonical.groupBy("_canon").agg(
        F.min(id_col).alias("keeper"), F.count("*").alias("group_size")
    )
    return (
        canonical.join(groups, "_canon")
        .select(F.col(id_col), "keeper", "group_size")
    )
