"""Seeded workload inputs and the goldens their outputs are checked against.

Encoding real image payloads costs ~1 ms per row, far too slow to redo
for every seed inside a run, so the image workload draws its input from
a pool generated once per checkout by the package's own fixture
generator (``fixtures.generate_images``, fixed generator seed). ``--seed``
picks which blocks of the pool make up the input. A block is a run of consecutive generator indices as long as
the fixture's duplicate-id modulus, so a planted duplicate pair (row i
reuses the id of row i-1) never straddles two blocks.

Goldens are computed, never stored: the planted violations from
``fixtures.expected_flags`` over the selected indices.
"""

from __future__ import annotations

import os
import re
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42  # the fixture generator's seed
BLOCK = 101  # block length: the fixture's duplicate-id modulus
POOL_ROWS = BLOCK * 400
POOL_PARTS = 64  # part_id = i % 64 in the pool


def pool_dir(work: str) -> str:
    return os.path.join(work, "pools", f"synthetic-{POOL_ROWS}-{GEN_SEED}")


def generate_pool(spark, work: str) -> None:
    """Run inside a Spark worker: write the pool parquet (atomic rename)."""
    from smcchecker_spark import fixtures

    out = pool_dir(work)
    tmp = out + ".tmp"
    fixtures.generate_images(
        spark, n_rows=POOL_ROWS, n_parts=POOL_PARTS, seed=GEN_SEED
    ).write.mode("overwrite").parquet(tmp)
    os.replace(tmp, out)


def prune(inputs_dir: str, keep: int = 12) -> None:
    """Delete all but the ``keep`` most recently used cached inputs."""
    entries = sorted(
        (os.path.getmtime(p), p)
        for p in (os.path.join(inputs_dir, n) for n in os.listdir(inputs_dir))
    )
    for _, p in entries[:-keep]:
        shutil.rmtree(p, ignore_errors=True)


def _index_of(ids: pa.Array) -> np.ndarray:
    """Generator index encoded in image_id (a duplicate row carries its
    predecessor's index, which lies in the same block)."""
    return np.array([int(re.sub(r"^\D+", "", s)) for s in ids.to_pylist()])


def select(work: str, seed: int, n_blocks: int, n_parts: int) -> dict:
    """Write the seed's input, hive-partitioned by ``part_id`` (cached per
    workload shape and seed), and return its path, row count and
    generator indices."""
    key = f"synthetic-{n_blocks}x{BLOCK}-p{n_parts}-hive-s{seed}"
    out = os.path.join(work, "inputs", key)
    rng = np.random.default_rng(seed)
    blocks = np.sort(rng.choice(POOL_ROWS // BLOCK, n_blocks, replace=False))
    if not os.path.isdir(out):
        tb = pq.read_table(pool_dir(work))
        keep = np.isin(_index_of(tb["image_id"]) // BLOCK, blocks)
        tb = tb.filter(pa.array(keep))
        tb = tb.set_column(
            tb.schema.get_field_index("part_id"), "part_id",
            pa.array(tb["part_id"].to_numpy() % n_parts, pa.int32()),
        )
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)  # left by an interrupted run
        pq.write_to_dataset(tb, tmp, partition_cols=["part_id"])
        os.replace(tmp, out)
    os.utime(out)
    idx = (blocks[:, None] * BLOCK + np.arange(BLOCK)).ravel()
    return dict(path=out, rows=int(len(idx)), indices=idx.tolist(), n_parts=n_parts)


def goldens(inp: dict) -> dict:
    """Per-check violation counts and per-partition (n_rows, n_errors,
    n_warnings) the outputs of the deployed suite
    (configs/images_suite.json) must equal."""
    from smcchecker_spark import fixtures

    P = inp["n_parts"]
    checks: Counter = Counter()
    rows = Counter()
    errors = Counter()

    def hit(check, part):
        checks[check] += 1
        errors[part] += 1

    # a bad fmt also breaks decoded == stored
    bad = ("truncated", "bitflip", "w_off", "phash_off", "w_null", "fmt_bad")
    for i in inp["indices"]:
        fl = fixtures.expected_flags(i)
        part = (i % POOL_PARTS) % P
        rows[part] += 1
        if fl["caption_empty"]:
            hit("notnull_caption", part)
        if fl["caption_long"]:
            hit("maxlength_caption", part)
        if fl["dup"]:  # both members of the pair; i-1 is in the same block
            hit("unique_image_id", part)
            hit("unique_image_id", ((i - 1) % POOL_PARTS) % P)
        if fl["fmt_bad"]:
            hit("inlookup_fmt_lu_fmt", part)
        if any(fl[k] for k in bad):
            hit("imageconsistent_bytes", part)
    verdicts = {str(pt): [rows[pt], errors[pt], 0] for pt in range(P) if rows[pt]}
    return dict(checks=dict(checks), verdicts=verdicts)
