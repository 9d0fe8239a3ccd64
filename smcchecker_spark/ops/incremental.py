"""Incremental near-duplicate detection against a persisted MinHash index.

Reference parity: SCCWRP/smcchecker never re-validates its accepted
corpus — each new submission is checked against the production tables as
a stored artifact (duplicate core checks, `proj/core_checks.py`; the
engine's exact analogue is ``constraints.NotInExisting``). This module is
the NEAR-duplicate version of that contract at training-corpus scale:
the accepted corpus' MinHash band index is computed and stored ONCE
(:func:`save_minhash_index`); each ingest batch probes only the buckets
it actually hashes into (:func:`incremental_candidate_pairs`), so the
quadratic old x old pairing — the bulk of full-corpus dedup, already done
when the corpus was accepted — is never repeated. Accepted batches are
folded into the index with :func:`append_to_minhash_index`.

Scale story (the reason this exists at 10^12 docs): full re-dedup of
corpus+batch costs a corpus scan, a corpus-wide signature UDF pass, and a
corpus-wide bucket shuffle per ingest. The incremental probe touches the
batch (signature UDF) plus a MAP-SIDE-pruned scan of the stored band
index: the batch's distinct (band, bucket) keys are broadcast, so index
rows outside the batch's buckets are filtered at the scan — the index
never fully shuffles, and old docs' signatures are never recomputed
(est-scoring reads the stored signature table, pruned to candidates).
Hot buckets (boilerplate) are chunked on BOTH sides, so one bucket's
pairing spreads across tasks bounded by chunk^2 structs per row — the
same guard discipline as ``dedup.bucketed_pairs``. Both probes (MinHash
bands and phash chunk bands) run one new x old pairing,
:func:`_new_old_pairs`: ``dedup.group_members`` on each side, then the
one-sided shape of ``dedup._chunk_block_join`` — the same chunk-block
join whose self shape pairs buckets inside one corpus.

Regime: intended for new << old (the incremental premise). The batch's
per-bucket member arrays are broadcast to spread hot OLD buckets without
a bucket-keyed shuffle join; for a batch too large to broadcast
(~10M+ docs), split the ingest or fall back to
``dedup.minhash_candidate_pairs`` on the union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smcchecker_spark.ops.dedup import (
    _chunk_block_join,
    banded_rows,
    bucketed_pairs,
    check_pigeonhole,
    combo_band_structs,
    exact_jaccard_pairs,
    group_members,
    hamming_near_dups,
    minhash_signatures,
    pair_est_jaccard,
)
from smcchecker_spark.tables import write_labeled

_META_SCHEMA = "num_hashes int, bands int, shingle_k int"


def save_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    min_parallelism: int | None = None,
) -> None:
    """Build and persist the corpus' MinHash index at ``path``:

    - ``{path}/sigs``   — (id, sig: array<bigint>), the raw signatures
      (kept so incremental est-scoring never re-runs the signature UDF
      over old docs);
    - ``{path}/banded`` — (bucket, id) hive-partitioned BY BAND (a probe
      using fewer bands, or Iceberg metadata filtering on band, prunes
      whole partitions);
    - ``{path}/meta``   — the 1-row parameter record; probes and appends
      MUST band identically, so they read parameters from here rather
      than trusting the caller.

    ONE signature-UDF pass: signatures are written first and band rows
    derive from the stored table (second pass reads parquet, not the
    UDF). Ids must be unique across the corpus AND every future batch —
    pair identity is (id_a, id_b).

    Layout: both tables carry an ``ingest`` hive-partition label
    ("base" here, one label per append). Appends with a label are
    IDEMPOTENT — dynamic partition overwrite replaces that label's
    partitions — which is what a streaming replay of a micro-batch
    needs for exactly-once index growth (Iceberg analogue:
    overwritePartitions on the ingest transform)."""
    assert num_hashes % bands == 0
    spark = df.sparkSession
    spark.createDataFrame(
        [(num_hashes, bands, shingle_k)], _META_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k, min_parallelism
    ).withColumn("ingest", F.lit("base")).write.mode("overwrite").partitionBy(
        "ingest"
    ).parquet(f"{path}/sigs")
    sig = _read_sigs(spark, path)
    banded_rows(sig, num_hashes, bands).withColumn(
        "ingest", F.lit("base")
    ).write.mode("overwrite").partitionBy("ingest", "band").parquet(
        f"{path}/banded"
    )


def _read_sigs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/sigs").select("id", "sig")


def _read_banded(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/banded").select("band", "bucket", "id")


def load_minhash_meta(spark: SparkSession, path: str) -> dict:
    r = spark.read.parquet(f"{path}/meta").first()
    return {k: r[k] for k in ("num_hashes", "bands", "shingle_k")}


def append_to_minhash_index(
    new_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str = "text",
    min_parallelism: int | None = None,
    ingest_label: str | None = None,
) -> None:
    """Fold an ACCEPTED batch into the index (sigs + banded appends,
    parameters from the stored meta). Caller contract: batch ids are not
    already present (run the probe + your dedup policy first).

    ``ingest_label`` names the batch's hive partition; with a label the
    write is dynamic-partition OVERWRITE — replaying the same batch
    (streaming recovery) replaces its own partitions instead of
    duplicating rows. Without a label, rows land under one
    ``ingest=append`` partition via plain append (non-idempotent; fine
    for one-shot batch use). Iceberg spelling: overwritePartitions in
    one transaction covering both tables."""
    spark = new_df.sparkSession
    meta = load_minhash_meta(spark, path)
    # batch-sized; materialize once so the sig write and the band write
    # share ONE UDF pass (the stored sigs table is never re-read — at
    # corpus scale it is as big as the corpus)
    sig_new = minhash_signatures(
        new_df,
        id_col,
        text_col,
        meta["num_hashes"],
        meta["shingle_k"],
        min_parallelism,
    ).localCheckpoint(eager=True)
    label, mode = _ingest(ingest_label)
    write_labeled(sig_new, f"{path}/sigs", "ingest", label, mode=mode)
    write_labeled(
        banded_rows(sig_new, meta["num_hashes"], meta["bands"]),
        f"{path}/banded", "ingest", label, ["band"], mode,
    )


def _ingest(ingest_label: str | None) -> tuple[str, str]:
    """(label, write mode) of an index append: a labeled, replay-safe
    overwrite, or a plain append under ``ingest=append``."""
    if ingest_label is None:
        return "append", "append"
    return ingest_label, "overwrite"


def _new_old_pairs(
    banded_new: DataFrame,
    old: DataFrame,
    key_cols: list[str],
    member: list[str],
    hot_bucket: int,
) -> DataFrame:
    """The new x old half of both probes: (a, b) pairs (a < b) of
    ``member`` structs, id first, for every batch row and every INDEXED
    row sharing a bucket. The batch's distinct bucket keys broadcast
    into a left-semi prune of the index scan (map-side — the index
    never shuffles in full); both sides group per bucket and meet in
    the one-sided ``dedup._chunk_block_join``, so a hot old bucket's
    pairing spreads across tasks at ≤ hot_bucket^2 structs per row."""
    keys = F.broadcast(banded_new.select(*key_cols).distinct())
    m = F.struct(*member).alias("m")
    old_groups = group_members(
        old.join(keys, key_cols, "left_semi").select(*key_cols, m), key_cols
    )
    new_groups = group_members(banded_new.select(*key_cols, m), key_cols)
    # every (old, new) pair counts; order it the way bucketed_pairs does
    pairs = F.flatten(
        F.transform(
            F.col("ca"),
            lambda o: F.transform(
                F.col("cb"),
                lambda n: F.struct(
                    F.least(o, n).alias("a"), F.greatest(o, n).alias("b")
                ),
            ),
        )
    )
    return (
        _chunk_block_join(old_groups, key_cols, hot_bucket, build=new_groups)
        .select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
    )


def incremental_candidate_pairs(
    new_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str = "text",
    hot_bucket: int = 256,
    min_parallelism: int | None = None,
    with_est: bool = False,
) -> DataFrame:
    """LSH candidate pairs (id_a, id_b[, est_jaccard]) touching the new
    batch: new x new (via the skew-guarded ``bucketed_pairs`` core) UNION
    new x old (batch bands probed against the stored index). Old x old is
    NEVER enumerated — that work happened when the corpus was indexed.

    new x old plan: :func:`_new_old_pairs` on (band, bucket) — the
    ``bucketed_pairs`` discipline, one-sided. Cross-band repeats
    collapse via dropDuplicates (ids only).

    ``with_est=True`` scores est_jaccard from SIGNATURES: the batch's
    (checkpointed) signatures plus the STORED old signatures pruned to
    candidate ids — zero old-doc text access, zero old-doc UDF work."""
    spark = new_df.sparkSession
    meta = load_minhash_meta(spark, path)
    sig_new = minhash_signatures(
        new_df,
        id_col,
        text_col,
        meta["num_hashes"],
        meta["shingle_k"],
        min_parallelism,
        # referenced by banding, new x new pairing, and est — materialize
        # the (batch-sized) signature table once instead of re-running
        # the UDF per consumer
    ).localCheckpoint(eager=True)
    banded_new = banded_rows(sig_new, meta["num_hashes"], meta["bands"])

    nn = bucketed_pairs(
        banded_new.select(F.struct(F.col("id")).alias("m"), "band", "bucket"),
        ["band", "bucket"],
        hot_bucket=hot_bucket,
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))

    no = _new_old_pairs(
        banded_new, _read_banded(spark, path), ["band", "bucket"], ["id"],
        hot_bucket,
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    pairs = nn.unionByName(no).dropDuplicates(["id_a", "id_b"])
    if not with_est:
        return pairs

    pairs = pairs.localCheckpoint(eager=True)
    cand = F.broadcast(
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    )
    old_sigs = _read_sigs(spark, path).join(cand, "id", "left_semi")
    new_ids = F.broadcast(sig_new.select("id"))
    sigs = old_sigs.join(new_ids, "id", "left_anti").unionByName(
        sig_new.join(cand, "id", "left_semi")
    )
    return pair_est_jaccard(pairs, sigs, meta["num_hashes"])


def incremental_ngram_dedup(
    new_df: DataFrame,
    old_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    hot_bucket: int = 256,
    min_parallelism: int | None = None,
) -> DataFrame:
    """Incremental blocking + EXACT shingle-Jaccard verify >= threshold:
    candidate pairs from the index probe, then
    ``dedup.exact_jaccard_pairs`` over old ∪ new pruned to candidate ids
    (broadcast semi-join — the old corpus is scanned once map-side-
    filtered, and the shingle UDF touches candidates only). ``old_df``
    must be the corpus the index at ``path`` was built from."""
    pairs = incremental_candidate_pairs(
        new_df,
        path,
        id_col,
        text_col,
        hot_bucket=hot_bucket,
        min_parallelism=min_parallelism,
    ).localCheckpoint(eager=True)
    corpus = old_df.select(
        F.col(id_col), F.col(text_col)
    ).unionByName(new_df.select(F.col(id_col), F.col(text_col)))
    scored = exact_jaccard_pairs(
        corpus,
        pairs,
        id_col,
        text_col,
        min_parallelism=min_parallelism,
    )
    return scored.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Image twin: persisted 64-bit fingerprint (phash/simhash) chunk-band index
# ---------------------------------------------------------------------------

_PHASH_META_SCHEMA = "chunks int, max_hamming int, band_chunks int"


def _meta_band_chunks(meta) -> int:
    """band_chunks from an index meta row; pre-round-3 indexes lack the
    column and were banded on single chunks."""
    try:
        bc = meta["band_chunks"]
    except (KeyError, ValueError):
        return 1
    return 1 if bc is None else int(bc)


def save_phash_index(
    df: DataFrame,
    path: str,
    id_col: str = "image_id",
    phash_col: str = "phash",
    chunks: int = 4,
    max_hamming: int = 3,
) -> None:
    """Persist the accepted image corpus' phash chunk-band index:
    ``{path}/banded`` holds (val, id, h) hive-partitioned BY CHUNK
    (0..chunks-1), ``{path}/meta`` the banding parameters. Pigeonhole
    contract: Hamming ≤ ``max_hamming`` pairs share ≥ 1 chunk value
    when chunks > max_hamming, so a probe that joins on (chunk, val)
    has EXACT recall (same guarantee as ``dedup.hamming_near_dups``,
    persisted). The fingerprint rides in the member rows, so probes
    compute Hamming at pair time with zero re-joins. No UDF anywhere —
    banding is a native Column projection (one scan, map-only write).
    Appends: same ``ingest`` partition-label idempotence as the MinHash
    index."""
    check_pigeonhole(max_hamming, chunks)
    spark = df.sparkSession
    # compound bands whenever the Hamming budget leaves >= 2 agreeing
    # chunks (same saturation argument as dedup.combo_band_structs: a
    # persisted 16-bit single-chunk index saturates around 10^7 images
    # and makes every probe quadratic); the combination size is part of
    # the index format and rides in meta
    band_chunks = max(1, chunks - max_hamming)
    spark.createDataFrame(
        [(chunks, max_hamming, band_chunks)], _PHASH_META_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    _banded_phash(df, id_col, phash_col, chunks, band_chunks).withColumn(
        "ingest", F.lit("base")
    ).write.mode("overwrite").partitionBy("ingest", "chunk").parquet(
        f"{path}/banded"
    )


def _banded_phash(
    df: DataFrame, id_col: str, phash_col: str, chunks: int,
    band_chunks: int = 1,
) -> DataFrame:
    h = F.col(phash_col).cast("long")
    bands = combo_band_structs(h, chunks, band_chunks)
    return df.select(
        F.col(id_col).alias("id"),
        h.alias("h"),
        F.explode(bands).alias("cc"),
    ).select(
        F.col("cc.chunk").alias("chunk"),
        F.col("cc.val").alias("val"),
        "id",
        "h",
    )


def append_to_phash_index(
    new_df: DataFrame,
    path: str,
    id_col: str = "image_id",
    phash_col: str = "phash",
    ingest_label: str | None = None,
) -> None:
    """Fold an accepted image batch into the index (see
    ``append_to_minhash_index`` for the idempotence contract)."""
    spark = new_df.sparkSession
    meta = spark.read.parquet(f"{path}/meta").first()
    label, mode = _ingest(ingest_label)
    write_labeled(
        _banded_phash(
            new_df, id_col, phash_col, meta["chunks"], _meta_band_chunks(meta)
        ),
        f"{path}/banded", "ingest", label, ["chunk"], mode,
    )


def incremental_phash_pairs(
    new_df: DataFrame,
    path: str,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int | None = None,
    hot_bucket: int = 256,
) -> DataFrame:
    """Near-duplicate IMAGE pairs touching the new batch:
    (id_a, id_b, hamming ≤ max_hamming) — new x new through the shared
    skew-guarded ``hamming_near_dups``, new x old against the STORED
    band index; old x old never re-pairs. Same plan discipline as the
    MinHash probe — :func:`_new_old_pairs` on (chunk, val), so hot
    flat-image buckets spread across tasks. Recall is EXACT by
    pigeonhole for max_hamming ≤ the indexed bound."""
    spark = new_df.sparkSession
    meta = spark.read.parquet(f"{path}/meta").first()
    band_chunks = _meta_band_chunks(meta)
    if max_hamming is None:
        max_hamming = meta["max_hamming"]
    check_pigeonhole(max_hamming, meta["chunks"])
    if max_hamming > meta["chunks"] - band_chunks:
        raise ValueError(
            f"index banded on {band_chunks}-chunk combinations only "
            f"guarantees recall for max_hamming <= "
            f"{meta['chunks'] - band_chunks}; got {max_hamming} — "
            "rebuild the index with the looser bound"
        )

    banded_new = _banded_phash(
        new_df, id_col, phash_col, meta["chunks"], band_chunks
    ).localCheckpoint(eager=True)

    nn = hamming_near_dups(
        new_df.select(F.col(id_col).alias("id"), F.col(phash_col).alias("h")),
        "id",
        "h",
        max_hamming,
        meta["chunks"],
        hot_bucket,
    )

    old = spark.read.parquet(f"{path}/banded").select(
        "chunk", "val", "id", "h"
    )
    no = _new_old_pairs(
        banded_new, old, ["chunk", "val"], ["id", "h"], hot_bucket
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
    return nn.unionByName(no).dropDuplicates(["id_a", "id_b"])
