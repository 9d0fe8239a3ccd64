"""The near-duplicate pair ops are pinned by digest: banding, bucket
grouping, the chunk-block join (self and one-sided), the candidate-pair
attach and the batch-labeled writer are shared between these ops, so a
refactor of any of them must not move a pair, a score or a written row.

Each digest is a SHA-256 prefix over the op's collected rows, sorted by
their repr, on small seeded inputs. ``hot_bucket=2`` forces every bucket
with three or more members through the chunked path."""

import hashlib
import random

import numpy as np
import pytest

from smcchecker_spark.ops import contamination, dedup, similarity
from smcchecker_spark.ops import incremental as inc

PINNED = {
    "hamming_single": "c95f31335b889ae5",
    "hamming_single_hot": "c95f31335b889ae5",
    "hamming_compound": "7576275db97e5426",
    "hamming_compound_hot": "7576275db97e5426",
    "minhash_probe": "8d607d31eae93b4b",
    "minhash_probe_hot": "8d607d31eae93b4b",
    "minhash_probe_est": "1dfbda8a60192224",
    "minhash_probe_est_hot": "1dfbda8a60192224",
    "phash_probe": "f7166af0197933de",
    "phash_probe_hot": "f7166af0197933de",
    "minhash_est": "349f1ade2e05e27f",
    "minhash_est_hot": "349f1ade2e05e27f",
    "exact_jaccard": "0e72b9d83aa8fd4b",
    "embedding_bands2": "8154c14a3a03181a",
    "embedding_bands2_hot": "8154c14a3a03181a",
    "semantic_pairs": "8154c14a3a03181a",
    "semantic_pairs_hot": "8154c14a3a03181a",
    "phash_overlap": "4df3f25a831f0361",
    "phash_overlap_compound": "bfac803177fe3492",
    "phash_gate": "b6bf860d36327b43",
}


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


def _phashes(seed: int, n: int, first_id: int = 0):
    """n fingerprints: random ones, 1-3-bit neighbours of earlier ones,
    and one repeated value (about a tenth of the rows: a hot bucket at
    hot_bucket=2)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        r = rng.random()
        if rows and r < 0.3:
            h = rng.choice(rows)[1]
            for _ in range(rng.randint(1, 3)):
                h ^= 1 << rng.randrange(63)
        elif r < 0.4:
            h = 0x0F0F00FF00F0F0F0
        else:
            h = rng.getrandbits(63) - (1 << 62)
        rows.append((first_id + i, h))
    return rows


_VOCAB = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
          "mu nu xi omicron pi rho sigma tau upsilon").split()


def _docs(seed: int, n: int, first_id: int = 0):
    """n texts: random ones, one-word edits of earlier ones, and one
    boilerplate text repeated (a hot bucket in every band)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        r = rng.random()
        if rows and r < 0.35:
            toks = rng.choice(rows)[1].split()
            toks[rng.randrange(len(toks))] = rng.choice(_VOCAB)
            text = " ".join(toks)
        elif r < 0.5:
            text = "the same boilerplate line shows up in many documents here"
        else:
            text = " ".join(rng.choice(_VOCAB) for _ in range(12))
        rows.append((first_id + i, text))
    return rows


def _vectors(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal((30, 8))
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    for j in range(12):
        src = base[j % 4]
        rows.append(
            (100 + j, [float(x) for x in src + rng.normal(0, 0.02, 8)])
        )
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ph(spark, rows):
    return spark.createDataFrame(rows, "image_id long, phash long")


def _txt(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _hamming(spark, tmp, max_hamming, hot):
    sigs = spark.createDataFrame(_phashes(1, 80), "id long, hash long")
    return dedup.hamming_near_dups(
        sigs, max_hamming=max_hamming, chunks=4, hot_bucket=hot
    ).collect()


def _minhash_probe(spark, tmp, with_est, hot):
    path = str(tmp / "mh")
    inc.save_minhash_index(
        _txt(spark, _docs(2, 40)), path, "doc_id",
        num_hashes=16, bands=8, shingle_k=2,
    )
    return inc.incremental_candidate_pairs(
        _txt(spark, _docs(3, 12, first_id=1000)), path, "doc_id",
        with_est=with_est, hot_bucket=hot,
    ).collect()


def _phash_probe(spark, tmp, hot):
    path = str(tmp / "ph")
    inc.save_phash_index(_ph(spark, _phashes(4, 60)), path, max_hamming=2)
    new = _phashes(4, 60)[::5]
    new = [(1000 + i, h ^ (1 << i)) for i, (_, h) in enumerate(new)]
    return inc.incremental_phash_pairs(
        _ph(spark, new + _phashes(5, 8, first_id=2000)), path, hot_bucket=hot
    ).collect()


def _minhash_est(spark, tmp, hot):
    return dedup.minhash_candidate_pairs(
        _txt(spark, _docs(6, 50)), "doc_id", num_hashes=16, bands=8,
        shingle_k=2, with_est=True, hot_bucket=hot,
    ).collect()


def _exact_jaccard(spark, tmp):
    docs = _txt(spark, _docs(7, 40))
    rng = random.Random(7)
    pairs = spark.createDataFrame(
        sorted({tuple(sorted(rng.sample(range(42), 2))) for _ in range(60)}),
        "id_a long, id_b long",
    )
    return dedup.exact_jaccard_pairs(docs, pairs, "doc_id", shingle_k=2).collect()


def _embedding(spark, tmp, hot):
    return similarity.embedding_near_dups(
        _vectors(spark), threshold=0.9, dim=8, n_planes=4, n_bands=2,
        hot_bucket=hot,
    ).collect()


def _semantic(spark, tmp, hot):
    vecs = _vectors(spark)
    cents = similarity.train_centroids(vecs, k=3)
    return similarity.semantic_dup_pairs(
        vecs, cents, threshold=0.9, hot_bucket=hot
    ).collect()


def _overlap(spark, tmp, max_hamming):
    corpus = _ph(spark, _phashes(8, 80))
    bench = _ph(spark, [(9000 + i, h ^ 3) for i, h in _phashes(8, 80)[::7]])
    return contamination.phash_overlap(
        corpus, bench, max_hamming=max_hamming
    ).collect()


def _gate(spark, tmp):
    from smcchecker_spark.streaming import StreamingPhashDupGate

    idx = str(tmp / "gidx")
    inc.save_phash_index(_ph(spark, _phashes(9, 40)), idx)
    gate = StreamingPhashDupGate(
        index_path=idx, clean_path=str(tmp / "clean"),
        dup_path=str(tmp / "dups"), hot_bucket=2,
    )
    old = _phashes(9, 40)
    batch = [(500 + i, h ^ 1) for i, (_, h) in enumerate(old[::6])]
    batch += _phashes(10, 6, first_id=600)
    gate.process_batch(_ph(spark, batch), 3)
    rows = []
    for name, path in (
        ("clean", gate.clean_path),
        ("dups", gate.dup_path),
        ("banded", idx + "/banded"),
    ):
        rows += [(name,) + tuple(r) for r in spark.read.parquet(path).collect()]
    return rows


CASES = {
    "hamming_single": lambda s, t: _hamming(s, t, 3, 256),
    "hamming_single_hot": lambda s, t: _hamming(s, t, 3, 2),
    "hamming_compound": lambda s, t: _hamming(s, t, 2, 256),
    "hamming_compound_hot": lambda s, t: _hamming(s, t, 2, 2),
    "minhash_probe": lambda s, t: _minhash_probe(s, t, False, 256),
    "minhash_probe_hot": lambda s, t: _minhash_probe(s, t, False, 2),
    "minhash_probe_est": lambda s, t: _minhash_probe(s, t, True, 256),
    "minhash_probe_est_hot": lambda s, t: _minhash_probe(s, t, True, 2),
    "phash_probe": lambda s, t: _phash_probe(s, t, 256),
    "phash_probe_hot": lambda s, t: _phash_probe(s, t, 2),
    "minhash_est": lambda s, t: _minhash_est(s, t, 256),
    "minhash_est_hot": lambda s, t: _minhash_est(s, t, 2),
    "exact_jaccard": _exact_jaccard,
    "embedding_bands2": lambda s, t: _embedding(s, t, 256),
    "embedding_bands2_hot": lambda s, t: _embedding(s, t, 2),
    "semantic_pairs": lambda s, t: _semantic(s, t, 256),
    "semantic_pairs_hot": lambda s, t: _semantic(s, t, 2),
    "phash_overlap": lambda s, t: _overlap(s, t, 3),
    "phash_overlap_compound": lambda s, t: _overlap(s, t, 2),
    "phash_gate": _gate,
}


@pytest.mark.parametrize("name", sorted(PINNED))
def test_pair_op_output_pinned(spark, tmp_path, name):
    rows = CASES[name](spark, tmp_path)
    assert rows, f"{name}: the seeded input must produce rows"
    assert _digest(rows) == PINNED[name]
