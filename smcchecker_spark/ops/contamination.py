"""Benchmark decontamination: flag training documents that share word
k-shingles with an evaluation/benchmark set.

The standard pre-training hygiene step (GPT-3 appendix C / PaLM §C:
n-gram overlap against eval sets): any training doc containing an
n-gram that also appears in a benchmark must be dropped or audited,
or eval numbers are contaminated.

Shape at 10^12 rows: the benchmark side is SMALL by nature (eval sets
are MBs, the corpus is TBs) — so its distinct shingle set is broadcast
and the corpus makes ONE pass: project shingles → explode → broadcast
left join → per-doc count. One scan, one broadcast hash join, one
groupBy on the doc id (map-side partial agg absorbs long docs). The
corpus is never shuffled by shingle. For a benchmark too big to
broadcast, ``broadcast_bench=False`` falls back to a shuffle join on
the shingle — still ids+shingles only, never payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smcchecker_spark.ops.dedup import (
    check_pigeonhole,
    combo_band_structs,
    shingles_udf,
)


def benchmark_shingles(
    bench: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Distinct word-k-shingles of the benchmark set, one per row
    (column ``s``). Empty-doc sentinel shingles ('') are dropped — an
    empty training doc does not "contaminate" against an empty eval row.
    Compute once, reuse across corpus partitions/waves.

    Tokenization MUST match the corpus side exactly, so this goes through
    the same Arrow shingler (``shingles_udf``, Python ``str.split`` =
    Unicode whitespace) rather than a Column-expression split (Java
    ``\\s+`` = ASCII whitespace): a benchmark doc containing a
    non-breaking space (ubiquitous in scraped HTML) would otherwise
    shingle differently on the two sides and its verbatim copy in the
    corpus would sail through undetected."""
    return (
        bench.select(F.explode(shingles_udf(k)(F.col(text_col))).alias("s"))
        .filter(F.col("s") != "")
        .distinct()
    )


def shingle_overlap(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    k: int = 3,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document contamination against a benchmark set.

    Returns (id, n_shingles, n_hits, overlap): distinct word-k-shingle
    count, how many of them appear in the benchmark, and the hit
    fraction in [0,1]. Every input doc appears in the output (docs with
    no shingles score 0), so callers can threshold (`overlap > 0` for
    strict decontamination) without re-joining the corpus.

    ``df`` ids must be unique. See module docstring for the plan shape.
    """
    bs = benchmark_shingles(bench, bench_text_col, k).withColumn(
        "hit", F.lit(1)
    )
    if broadcast_bench:
        bs = F.broadcast(bs)
    # corpus-side shingling through the Arrow UDF, not the Column
    # expression: the HOF form runs interpreted per row and measured
    # ~20x slower on the 2M-doc soak (same semantics, same outputs)
    sh = df.select(
        F.col(id_col).alias("id"),
        shingles_udf(k)(F.col(text_col)).alias("arr"),
    ).select(
        "id",
        F.size("arr").alias("n_shingles"),
        # explode_outer: a doc whose only shingle is the empty sentinel
        # must still reach the groupBy (with 0 hits), not vanish
        F.explode_outer("arr").alias("s"),
    )
    joined = sh.join(bs, "s", "left")
    return (
        joined.groupBy("id", "n_shingles")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("int").alias("n_hits"))
        .select(
            "id",
            "n_shingles",
            "n_hits",
            F.round(
                F.col("n_hits") / F.greatest("n_shingles", F.lit(1)), 6
            ).alias("overlap"),
        )
    )


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    k: int = 3,
    max_overlap: float = 0.0,
    broadcast_bench: bool = True,
    broadcast_flagged: bool = True,
) -> DataFrame:
    """Drop documents whose benchmark shingle overlap exceeds
    ``max_overlap`` (default: any hit). Two corpus scans — one to score
    (see :func:`shingle_overlap`), one for the keep-filter (broadcast
    anti-join on the contaminated-id sliver); kept rows keep their
    original columns.

    ``broadcast_flagged``: the default assumes decontamination flags a
    SLIVER of the corpus (the usual regime — eval sets are tiny). A
    benchmark holding very common shingles with ``max_overlap=0.0`` can
    flag a large corpus fraction; forcing a broadcast would then collect
    that whole set to the driver. Pass False in high-overlap regimes to
    let AQE plan the anti-join (shuffle, ids only)."""
    scores = shingle_overlap(
        df, bench, id_col, text_col, bench_text_col, k, broadcast_bench
    )
    bad = scores.filter(F.col("overlap") > max_overlap).select(
        F.col("id").alias("_bad_id")
    )
    if broadcast_flagged:
        bad = F.broadcast(bad)
    return df.join(bad, df[id_col] == F.col("_bad_id"), "left_anti")


# ---------------------------------------------------------------------------
# IMAGE decontamination — the perceptual analogue of n-gram overlap:
# training images whose phash is within Hamming distance of ANY
# benchmark/eval image leak eval content into training.
# ---------------------------------------------------------------------------


def phash_overlap(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    bench_phash_col: str | None = None,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Corpus ids whose phash is within ``max_hamming`` bits of any
    benchmark phash → (id, min_hamming).

    Shape at 10^12 corpus rows: the benchmark side is SMALL by nature,
    so its chunk bands are built once and BROADCAST; the corpus makes
    ONE map-only pass (explode ``chunks`` band structs per row →
    broadcast hash join → exact bit_count verify) — the corpus is never
    shuffled at all until the final tiny groupBy on flagged ids.
    Pigeonhole (max_hamming < chunks) keeps recall exact, same as
    :func:`~smcchecker_spark.ops.dedup.hamming_near_dups` — the banding
    projection is shared with it, including the COMPOUND upgrade
    (``dedup.combo_band_structs``) when chunks - max_hamming ≥ 2:
    single 16-bit chunk keys would flag a huge fraction of a 10^12
    corpus as candidates once the benchmark covers most chunk values;
    32-bit compound keys keep the candidate set ≈ the true match set.
    """
    check_pigeonhole(max_hamming, chunks)
    bench_ph = bench_phash_col or phash_col

    def bands(df: DataFrame, ph: str, keep: list) -> DataFrame:
        h = F.col(ph).cast("long")
        return df.select(
            *keep,
            h.alias("__h"),
            F.explode(
                combo_band_structs(h, chunks, chunks - max_hamming)
            ).alias("cc"),
        ).select(*keep, "__h", "cc.chunk", "cc.val")

    bench_bands = bands(bench, bench_ph, []).select(
        "chunk", "val", F.col("__h").alias("__bh")
    ).distinct()
    corpus_bands = bands(corpus, phash_col, [F.col(id_col)])
    hits = (
        corpus_bands.join(
            F.broadcast(bench_bands), on=["chunk", "val"], how="inner"
        )
        .select(
            id_col,
            F.bit_count(
                F.col("__h").bitwiseXOR(F.col("__bh"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return hits.groupBy(id_col).agg(F.min("hamming").alias("min_hamming"))


def decontaminate_images(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    bench_phash_col: str | None = None,
    max_hamming: int = 3,
    chunks: int = 4,
    broadcast_flagged: bool = True,
) -> DataFrame:
    """Drop corpus rows perceptually matching a benchmark image:
    anti-join of the corpus against the flagged-id set — broadcast by
    default (benchmark sets are tiny, so flagged ids are a sliver); pass
    ``broadcast_flagged=False`` when the benchmark perceptually matches
    a large corpus fraction (e.g. decontaminating against a dedup of the
    corpus itself) to let AQE plan the join instead of collecting the
    flagged set to the driver."""
    flagged = phash_overlap(
        corpus, bench, id_col, phash_col, bench_phash_col,
        max_hamming, chunks,
    ).select(id_col)
    if broadcast_flagged:
        flagged = F.broadcast(flagged)
    return corpus.join(flagged, on=id_col, how="left_anti")
