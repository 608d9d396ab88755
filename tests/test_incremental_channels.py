"""Round-11 (cont.): incremental EMBEDDING + FINGERPRINT dedup channels.

Completes the daily-production incremental loop across the near-dup
families (text exact/ngram landed first — test_round11_ops.py). The
fences mirror that file's protocol per channel:

- fold(N, delta) == build(N+1) as TABLE equality (roll-forward proof);
- probe-on-rolled == probe-on-scratch for the NEXT delta (the fold is
  consumable, not just equal);
- incremental probe == the INLINE channel restricted to delta-touching
  pairs (the statement the registered oracle makes, pinned here against
  the package's own from-scratch plan instead of DuckDB);
- planted semantics: old-old pairs are EXCLUDED (version N was already
  deduplicated against itself), old-delta pairs inherit, delta-delta
  (new-new) pairs surface;
- a randomized-corpus fence against a pure-python brute-force mirror
  (the round-9/11 randomized-fence discipline).
"""

from __future__ import annotations

import math
import os
import random
import tempfile

import numpy as np
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def _rows(df) -> set:
    out = set()
    for r in df.collect():
        out.add(
            tuple(tuple(x) if isinstance(x, list) else x for x in r)
        )
    return out


def _write_embeddings(td: str, spark, rows) -> None:
    """rows: (vec_id, label, vector). Only the embeddings table — the
    embedding channel reads nothing else."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    spark.createDataFrame(
        [(int(v), [float(x) for x in vec], int(lb)) for v, lb, vec in rows],
        schema,
    ).write.parquet(os.path.join(td, "embeddings.parquet"))


# ------------------------------------------------- embedding roll-forward
def test_roll_forward_embedding_norms_equals_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.embedding_incremental import (
        ensure_embedding_norms,
        roll_forward_embedding_norms,
    )

    rolled = roll_forward_embedding_norms(spark, sf_dir, 400, 450)
    scratch = ensure_embedding_norms(spark, sf_dir, 450)
    assert rolled != scratch  # a fold can never shadow a from-scratch build
    assert roll_forward_embedding_norms(spark, sf_dir, 400, 450) == rolled
    assert _rows(spark.table(rolled)) == _rows(spark.table(scratch))


def test_probe_on_rolled_embedding_norms_matches_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.embedding_incremental import (
        incremental_embedding_pairs,
        roll_forward_embedding_norms,
    )

    rolled = roll_forward_embedding_norms(spark, sf_dir, 400, 450)
    got = _rows(incremental_embedding_pairs(spark, sf_dir, 450, norms_tbl=rolled))
    want = _rows(incremental_embedding_pairs(spark, sf_dir, 450))
    assert got == want


def test_incremental_embedding_matches_inline_restricted(spark, sf_dir):
    """The registered oracle's statement, package-internal: the probe ==
    the inline channel's output restricted to vec2 >= boundary, bitwise
    (same exact-fold verify on identical inputs)."""
    from broadway_kinesis_spark.operators.embedding_incremental import (
        BOUNDARY,
        incremental_embedding_pairs,
    )

    got = _rows(incremental_embedding_pairs(spark, sf_dir))
    want = _rows(
        QUERIES["dedup_embedding_cosine"](spark, sf_dir).filter(
            F.col("vec2") >= BOUNDARY
        )
    )
    assert got == want


def test_incremental_embedding_planted_semantics(spark):
    """Old-old near-dups are EXCLUDED, old-delta and delta-delta pairs
    surface, and blocking by label still gates candidates."""
    from broadway_kinesis_spark.operators.embedding_incremental import (
        incremental_embedding_pairs,
    )

    dim, b = 8, 1000
    e = np.eye(dim)
    rows = [
        # label 0: two identical OLD vectors (their pair must not appear)
        (0, 0, e[0]),
        (1, 0, e[0]),
        # label 0: delta copy of the old direction -> (0,1000), (1,1000)
        (1000, 0, e[0]),
        # label 0: delta-delta near-identical pair, orthogonal to e0
        (1001, 0, e[1]),
        (1002, 0, 0.9 * e[1] + 0.1 * e[2]),
        # label 1: old + delta same direction -> (2, 1003); e0-direction
        # vectors in label 0 never pair with it (blocking)
        (2, 1, e[3]),
        (1003, 1, e[3]),
        # label 1: orthogonal delta singleton -> no pairs
        (1004, 1, e[4]),
    ]
    with tempfile.TemporaryDirectory() as td:
        _write_embeddings(td, spark, rows)
        got = {
            (r.vec1, r.vec2)
            for r in incremental_embedding_pairs(spark, td, boundary=b).collect()
        }
    assert got == {(0, 1000), (1, 1000), (1001, 1002), (2, 1003)}


def test_incremental_embedding_randomized_mirror(spark):
    """Randomized corpus vs a pure-python brute-force mirror (same
    sequential-fold arithmetic): pair sets equal, cosines agree."""
    from broadway_kinesis_spark.operators.dedup import COS_T
    from broadway_kinesis_spark.operators.embedding_incremental import (
        incremental_embedding_pairs,
    )

    rng = random.Random(1106)
    dim, n, b = 6, 120, 60
    rows = []
    for i in range(n):
        vec = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, rng.randrange(3), vec))
    # float32 round-trip first: the parquet column is FLOAT[], so the
    # mirror must fold the same float32-quantized values the plan reads.
    vecs = {i: [float(np.float32(x)) for x in vec] for i, _, vec in rows}
    labels = {i: lb for i, lb, _ in rows}

    def fold_dot(a, bv):
        acc = 0.0
        for x, y in zip(a, bv):
            acc += x * y
        return acc

    expected = {}
    for i in range(n):
        for j in range(i + 1, n):
            if j < b or labels[i] != labels[j]:
                continue
            c = fold_dot(vecs[i], vecs[j]) / (
                math.sqrt(fold_dot(vecs[i], vecs[i]))
                * math.sqrt(fold_dot(vecs[j], vecs[j]))
            )
            if c >= COS_T:
                expected[(i, j)] = c
    with tempfile.TemporaryDirectory() as td:
        _write_embeddings(td, spark, rows)
        got = {
            (r.vec1, r.vec2): r.cos_sim
            for r in incremental_embedding_pairs(spark, td, boundary=b).collect()
        }
    assert set(got) == set(expected)
    assert len(expected) >= 3  # non-vacuous at this seed
    for k, v in expected.items():
        assert got[k] == v  # bitwise: same fold order on both sides


def test_cosine_kernel_across_chunk_boundaries_matches_triu(monkeypatch):
    """The embedding near-dup family's one candidate kernel, chunked at 3
    delta rows, emits each pair exactly once and exactly the brute-force
    upper triangle: every pair at or above the slack whose larger id is a
    delta row (with every row a delta: the whole triangle, the inline
    queries; with stored ids below delta ids: every delta-touching pair,
    the incremental ones). Blocks below 2 rows or without a delta row emit
    an empty int64 frame."""
    import pandas as pd

    from broadway_kinesis_spark.operators import dedup

    monkeypatch.setattr(dedup, "_KERNEL_CHUNK", 3)
    slack = 0.9 - 1e-9
    kernel = dedup.cosine_kernel(slack)
    rng = np.random.default_rng(1207)

    def block(n):
        m = rng.normal(size=(n, 8))
        half = n // 2
        m[half:] = m[: n - half] + 0.05 * rng.normal(size=(n - half, 8))
        return pd.DataFrame(
            {
                "vec_id": rng.choice(10_000, size=n, replace=False).astype("int64"),
                "v": list(m),
                "nrm": np.linalg.norm(m, axis=1),
            }
        )

    def triu_pairs(pdf):
        pdf = pdf.sort_values("vec_id")
        u = np.stack(pdf["v"].to_numpy()) / pdf["nrm"].to_numpy()[:, None]
        ids, delta = pdf["vec_id"].to_numpy(), pdf["is_delta"].to_numpy()
        i, j = np.triu_indices(len(pdf), k=1)
        keep = ((u @ u.T)[i, j] >= slack) & delta[j]
        return sorted(zip(ids[i[keep]].tolist(), ids[j[keep]].tolist()))

    n_pairs = 0
    for n in (2, 3, 4, 5, 7, 10, 16):
        pdf = block(n)
        masks = (
            np.ones(n, bool),  # inline: every row a delta
            pdf["vec_id"].to_numpy() >= np.median(pdf["vec_id"]),  # stored below delta
            rng.random(n) < 0.5,
        )
        for mask in masks:
            pdf["is_delta"] = mask
            out = kernel(pdf)
            assert list(out.columns) == ["d1", "d2"]
            assert (out.dtypes == "int64").all()
            got = sorted(zip(out["d1"].tolist(), out["d2"].tolist()))
            assert got == triu_pairs(pdf)
            n_pairs += len(got)
    assert n_pairs >= 50  # planted near-dups make the check non-vacuous

    one = block(1).assign(is_delta=True)
    no_delta = block(6).assign(is_delta=False)
    for pdf in (one, no_delta):
        out = kernel(pdf)
        assert out.empty and list(out.columns) == ["d1", "d2"]
        assert (out.dtypes == "int64").all()


# ----------------------------------------------- fingerprint roll-forward
def test_roll_forward_phash_bands_equals_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.fingerprint_incremental import (
        ensure_phash_bands,
        roll_forward_phash_bands,
    )

    rolled = roll_forward_phash_bands(spark, sf_dir, 400, 450)
    scratch = ensure_phash_bands(spark, sf_dir, 450)
    assert rolled != scratch
    assert roll_forward_phash_bands(spark, sf_dir, 400, 450) == rolled
    assert _rows(spark.table(rolled)) == _rows(spark.table(scratch))


def test_probe_on_rolled_phash_bands_matches_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.fingerprint_incremental import (
        incremental_phash_pairs,
        roll_forward_phash_bands,
    )

    rolled = roll_forward_phash_bands(spark, sf_dir, 400, 450)
    got = _rows(incremental_phash_pairs(spark, sf_dir, 450, bands_tbl=rolled))
    want = _rows(incremental_phash_pairs(spark, sf_dir, 450))
    assert got == want


def test_incremental_phash_matches_inline_restricted(spark, sf_dir):
    from broadway_kinesis_spark.operators.fingerprint_incremental import (
        BOUNDARY,
        incremental_phash_pairs,
    )

    got = _rows(incremental_phash_pairs(spark, sf_dir))
    want = _rows(
        QUERIES["dedup_image_phash"](spark, sf_dir).filter(
            F.col("m2") >= BOUNDARY
        )
    )
    assert got == want


def _phash_mirror(text: str) -> list[int]:
    """Pure-python mirror of the pixel-plane fingerprint: utf-8 bytes
    zero-padded to a whole IMG_W-wide RGB pixel grid (as_ppm_media's
    construction), then the package's own phash_words over the plane."""
    from broadway_kinesis_spark.operators.imagehash import phash_words
    from broadway_kinesis_spark.operators.multimodal import IMG_W

    body = text.encode("utf-8")
    row = IMG_W * 3
    h = max(-(-len(body) // row), 1)
    plane = np.frombuffer(body.ljust(h * row, b"\x00"), dtype=np.uint8)
    return phash_words(plane.astype(np.int64))


def _expected_phash_pairs(texts: dict[int, str], boundary: int) -> set:
    """Brute-force delta-touching pairs: total Hamming <= HAM_T, m2 in
    the delta — the pigeonhole recall guarantee makes banding exhaustive,
    so the banded probe must equal this exactly."""
    from broadway_kinesis_spark.operators.imagehash import HAM_T

    fps = {d: _phash_mirror(t) for d, t in texts.items()}
    out = set()
    ids = sorted(texts)
    for i, m1 in enumerate(ids):
        for m2 in ids[i + 1 :]:
            if m2 < boundary:
                continue
            ham = sum(
                bin(a ^ b).count("1") for a, b in zip(fps[m1], fps[m2])
            )
            if ham <= HAM_T:
                out.add((m1, m2, ham))
    return out


def test_incremental_phash_planted_semantics(spark):
    """Old-old exact dups are EXCLUDED; a delta re-encode of an old image
    pairs with BOTH old copies (hamming 0); a block-local perturbation
    still pairs (hamming <= HAM_T); an unrelated delta doc does not."""
    from tests.test_round7_ops import _write_docs

    from broadway_kinesis_spark.operators.fingerprint_incremental import (
        incremental_phash_pairs,
    )

    b = 1000
    base = "the fast key order sort table scan merge part window " * 8
    perturbed = "THE" + base[3:]  # one-block byte change
    unrelated = "".join(chr(33 + (i * 7) % 90) for i in range(400))
    texts = {
        0: base,
        1: base,  # old exact dup of 0 — pair (0,1) must NOT appear
        1000: base,  # delta re-encode -> (0,1000,0), (1,1000,0)
        1001: perturbed,
        1002: unrelated,
    }
    expected = _expected_phash_pairs(texts, b)
    assert (0, 1000, 0) in expected and (1, 1000, 0) in expected
    assert not any(p[:2] == (0, 1) for p in expected)
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = _rows(incremental_phash_pairs(spark, td, boundary=b))
    assert got == expected
    # the perturbed delta doc found its old original within the budget
    assert any(p[0] == 0 and p[1] == 1001 for p in got)
    # the unrelated doc paired with nothing
    assert not any(1002 in p[:2] for p in got)


def test_incremental_phash_randomized_mirror(spark):
    """Randomized corpus (Zipf-ish vocab draws + planted near-dups) vs the
    brute-force mirror — the banded probe's recall/precision is exact."""
    from tests.test_round7_ops import _write_docs

    from broadway_kinesis_spark.operators.fingerprint_incremental import (
        incremental_phash_pairs,
    )

    rng = random.Random(1107)
    vocab = [f"tok{i}" for i in range(40)]
    b = 1000

    def doc() -> str:
        return " ".join(
            vocab[min(rng.randrange(1, 41), rng.randrange(1, 41)) - 1]
            for _ in range(rng.randrange(30, 90))
        )

    texts: dict[int, str] = {}
    for i in range(30):
        texts[i] = doc()
    for i in range(1000, 1025):
        texts[i] = doc()
    # planted cross-boundary + within-delta near-dups
    texts[1025] = texts[3]
    texts[1026] = "XX" + texts[7][2:]
    texts[1027] = texts[1001]
    expected = _expected_phash_pairs(texts, b)
    assert len(expected) >= 3  # the plants are in
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = _rows(incremental_phash_pairs(spark, td, boundary=b))
    assert got == expected


# ------------------------------------------------------ IVF roll-forward
def test_roll_forward_ivf_frozen_centroids_full_postings(spark, sf_dir):
    """The FAISS-add contract as a fence: the rolled index's centroids are
    BITWISE version N's (frozen quantizer), its postings are exactly
    version N ∪ delta, and the fold is idempotent per (corpus,
    boundaries)."""
    import os

    from broadway_kinesis_spark.operators.ann_incremental import (
        ensure_version_index,
        roll_forward_ivf_index,
    )

    rolled = roll_forward_ivf_index(spark, sf_dir, 400, 450)
    v_n = ensure_version_index(spark, sf_dir, 400)
    assert rolled != v_n
    assert roll_forward_ivf_index(spark, sf_dir, 400, 450) == rolled
    cent = lambda d: {  # noqa: E731
        (r.label, tuple(r.cv))
        for r in spark.read.parquet(os.path.join(d, "centroids.parquet")).collect()
    }
    assert cent(rolled) == cent(v_n)
    post_ids = {
        r.vec_id
        for r in spark.read.parquet(
            os.path.join(rolled, "postings.parquet")
        ).collect()
    }
    from broadway_kinesis_spark.session import load

    want = {
        r.vec_id
        for r in load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 450)
        .collect()
    }
    assert post_ids == want


def test_ivf_rolled_index_serves_planted_delta_neighbor(spark):
    """A delta vector identical to a query's direction must be served
    from the rolled index through version-N geometry — the 'new vectors
    findable without retrain' claim, planted."""
    from broadway_kinesis_spark.operators.ann_incremental import (
        roll_forward_ivf_index,
    )
    from broadway_kinesis_spark.operators.ann_persist import probe_ivf_index
    from broadway_kinesis_spark.operators.similarity import N_QUERIES

    dim = 16
    e = np.eye(dim)
    # 5 tight label clusters (all members = the label's basis vector), 25
    # old vectors covering the N_QUERIES query ids
    rows = [(i, i % 5, e[i % 5]) for i in range(25)]
    assert len([r for r in rows if r[0] < N_QUERIES]) == N_QUERIES
    rows.append((1000, 0, e[0]))  # the delta: exactly query 0's direction
    with tempfile.TemporaryDirectory() as td:
        _write_embeddings(td, spark, rows)
        rolled = roll_forward_ivf_index(spark, td, 1000, None)
        got = {
            (r.query_id, r.cand_id)
            for r in probe_ivf_index(spark, td, rolled).collect()
        }
    assert (0, 1000) in got  # the delta vector is served for query 0


# -------------------------------------------------- minhash roll-forward
def test_roll_forward_minhash_bands_equals_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.minhash_incremental import (
        ensure_minhash_bands,
        roll_forward_minhash_bands,
    )

    rolled = roll_forward_minhash_bands(spark, sf_dir, 400, 450)
    scratch = ensure_minhash_bands(spark, sf_dir, 450)
    assert rolled != scratch
    assert roll_forward_minhash_bands(spark, sf_dir, 400, 450) == rolled
    assert _rows(spark.table(rolled)) == _rows(spark.table(scratch))


def test_probe_on_rolled_minhash_bands_matches_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.minhash_incremental import (
        incremental_minhash_pairs,
        roll_forward_minhash_bands,
    )

    rolled = roll_forward_minhash_bands(spark, sf_dir, 400, 450)
    got = _rows(incremental_minhash_pairs(spark, sf_dir, 450, bands_tbl=rolled))
    want = _rows(incremental_minhash_pairs(spark, sf_dir, 450))
    assert got == want


def test_incremental_minhash_matches_inline_restricted(spark, sf_dir):
    from broadway_kinesis_spark.operators.minhash_incremental import (
        BOUNDARY,
        incremental_minhash_pairs,
    )

    got = _rows(incremental_minhash_pairs(spark, sf_dir))
    want = _rows(
        QUERIES["dedup_minhash_lsh"](spark, sf_dir).filter(
            F.col("d2") >= BOUNDARY
        )
    )
    assert got == want


def _minhash_mirror_pairs(texts: dict[int, str], boundary: int) -> set:
    """Pure-python mirror of the banded-MinHash channel restricted to
    delta-touching pairs: salted-md5 signatures over 3-gram shingles
    (with repetition — min is duplicate-insensitive), md5 band keys,
    band-collision candidates, exact-Jaccard verify. Deterministic, so
    the Spark probe must equal it exactly (including LSH misses: a true
    pair that collides in no band is absent from BOTH)."""
    import hashlib as _h

    from broadway_kinesis_spark.operators.dedup import BAND_R, JACCARD_T, N_SIG

    def shingles(t: str) -> list[str]:
        toks = t.lower().split(" ")
        return [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]

    def bands(t: str) -> set:
        sh = shingles(t)
        if not sh:
            return set()
        sig = [
            min(_h.md5(f"{s}:{g}".encode()).hexdigest() for g in sh)
            for s in range(N_SIG)
        ]
        return {
            (b, _h.md5("".join(sig[b * BAND_R : (b + 1) * BAND_R]).encode()).hexdigest())
            for b in range(N_SIG // BAND_R)
        }

    bnd = {d: bands(t) for d, t in texts.items()}
    sets = {d: set(shingles(t)) for d, t in texts.items()}
    out = set()
    ids = sorted(texts)
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            if d2 < boundary or not (bnd[d1] & bnd[d2]):
                continue
            inter = len(sets[d1] & sets[d2])
            union = len(sets[d1]) + len(sets[d2]) - inter
            if union and inter / union >= JACCARD_T:
                out.add((d1, d2, inter / union))
    return out


def test_incremental_minhash_randomized_mirror(spark):
    """Randomized corpus with planted cross-boundary and within-delta
    near-dups vs the pure-python mirror; also pins the old-old exclusion
    (the planted old-old exact pair is absent)."""
    from tests.test_round7_ops import _write_docs

    from broadway_kinesis_spark.operators.minhash_incremental import (
        incremental_minhash_pairs,
    )

    rng = random.Random(1108)
    vocab = [f"w{i}" for i in range(60)]
    b = 1000

    def doc(n_lo=20, n_hi=60) -> str:
        return " ".join(
            vocab[rng.randrange(60)] for _ in range(rng.randrange(n_lo, n_hi))
        )

    texts: dict[int, str] = {i: doc() for i in range(30)}
    texts.update({i: doc() for i in range(1000, 1020)})
    texts[5] = texts[4]  # old-old exact pair: must NOT appear
    texts[1020] = texts[7]  # delta copy of an old doc
    toks = texts[9].split(" ")
    toks[3] = "zzz"
    texts[1021] = " ".join(toks)  # delta near-dup of an old doc
    texts[1022] = texts[1001]  # delta-delta exact pair
    expected = _minhash_mirror_pairs(texts, b)
    assert {(7, 1020), (1001, 1022)} <= {p[:2] for p in expected}
    assert not any(p[:2] == (4, 5) for p in expected)
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = {
            (r.d1, r.d2, r.jaccard)
            for r in incremental_minhash_pairs(spark, td, boundary=b).collect()
        }
    assert {p[:2] for p in got} == {p[:2] for p in expected}
    for d1, d2, j in expected:
        matching = [g for g in got if g[:2] == (d1, d2)]
        assert abs(matching[0][2] - j) < 1e-12


# ----------------------------------------- containment (directional) 
def test_incremental_containment_matches_inline_restricted(spark, sf_dir):
    """Directional delta-touching restriction: probe == the inline
    bottom-K channel filtered to pairs with EITHER side in the delta."""
    from broadway_kinesis_spark.operators.containment_incremental import (
        BOUNDARY,
        incremental_containment_pairs,
    )

    got = _rows(incremental_containment_pairs(spark, sf_dir))
    want = _rows(
        QUERIES["dedup_containment_bottomk"](spark, sf_dir).filter(
            (F.col("contained_id") >= BOUNDARY)
            | (F.col("container_id") >= BOUNDARY)
        )
    )
    assert got == want


def test_roll_forward_bottomk_probes_and_probe_on_rolled(spark, sf_dir):
    """fold == scratch for the probe-sketch table, and the NEXT delta
    probed against ALL THREE rolled artifacts (ngram idx + DF via the
    shared roll_forward_ngram_index, probes via this module's fold)
    equals the from-scratch probe."""
    from broadway_kinesis_spark.operators.containment_incremental import (
        ensure_bottomk_probes,
        incremental_containment_pairs,
        roll_forward_bottomk_probes,
    )
    from broadway_kinesis_spark.operators.incremental_batch import (
        roll_forward_ngram_index,
    )

    rolled = roll_forward_bottomk_probes(spark, sf_dir, 400, 450)
    scratch = ensure_bottomk_probes(spark, sf_dir, 450)
    assert rolled != scratch
    assert roll_forward_bottomk_probes(spark, sf_dir, 400, 450) == rolled
    assert _rows(spark.table(rolled)) == _rows(spark.table(scratch))
    r_idx, r_df = roll_forward_ngram_index(spark, sf_dir, 400, 450)
    got = _rows(
        incremental_containment_pairs(
            spark, sf_dir, 450, idx_tbl=r_idx, df_tbl=r_df, probes_tbl=rolled
        )
    )
    want = _rows(incremental_containment_pairs(spark, sf_dir, 450))
    assert got == want


def test_incremental_containment_planted_directions(spark):
    """Both directions surface: a delta EXCERPT of an old doc (delta
    contained in old) and a delta SUPERSET of an old doc (old contained
    in delta); an old-old excerpt pair is excluded."""
    from tests.test_round7_ops import _write_docs

    from broadway_kinesis_spark.operators.containment_incremental import (
        incremental_containment_pairs,
    )

    b = 1000
    base = " ".join(f"tk{i}" for i in range(40))
    other = " ".join(f"qq{i}" for i in range(40))
    texts = {
        0: base,                                     # old container
        1: " ".join(base.split(" ")[:12]),           # old excerpt of 0 (old-old: excluded)
        2: other,                                    # old doc, delta superset below
        1000: " ".join(base.split(" ")[8:24]),       # delta excerpt of 0
        1001: other + " extra tail tokens here now", # delta superset of 2
        1002: " ".join(f"zz{i}" for i in range(30)), # unrelated delta
    }
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = {
            (r.contained_id, r.container_id)
            for r in incremental_containment_pairs(
                spark, td, boundary=b
            ).collect()
        }
    assert (1000, 0) in got  # delta-as-contained
    assert (2, 1001) in got  # old-as-contained in a delta container
    assert (1, 0) not in got  # old-old excluded
    assert not any(1002 in p for p in got)


# ------------------------------------------------------ simhash channel
def test_roll_forward_simhash_counts_equals_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.simhash_incremental import (
        ensure_simhash_counts,
        roll_forward_simhash_counts,
    )

    from broadway_kinesis_spark.functions.versioned_fold import served_counts

    rolled = roll_forward_simhash_counts(spark, sf_dir, 400, 450)
    scratch = ensure_simhash_counts(spark, sf_dir, 450)
    assert rolled != scratch
    assert roll_forward_simhash_counts(spark, sf_dir, 400, 450) == rolled
    # the fold is merge-on-read segmented (round 12): compare SERVED
    # content — sum per fingerprint — against the one-row-per-key scratch
    assert _rows(served_counts(spark, rolled, "simhash", "n_old")) == _rows(
        spark.table(scratch)
    )


def test_incremental_simhash_matches_inline_restricted_and_rolled(spark, sf_dir):
    from broadway_kinesis_spark.operators.simhash_incremental import (
        BOUNDARY,
        incremental_simhash_rows,
        roll_forward_simhash_counts,
    )

    got = _rows(incremental_simhash_rows(spark, sf_dir))
    want = _rows(
        QUERIES["dedup_simhash"](spark, sf_dir).filter(
            F.col("doc_id") >= BOUNDARY
        )
    )
    assert got == want
    rolled = roll_forward_simhash_counts(spark, sf_dir, 400, 450)
    got450 = _rows(
        incremental_simhash_rows(spark, sf_dir, 450, counts_tbl=rolled)
    )
    assert got450 == _rows(incremental_simhash_rows(spark, sf_dir, 450))


def test_incremental_simhash_counts_cross_boundary_sharing(spark):
    """A delta doc identical to TWO old copies reports n_sharing 3 (the
    stored count contributes), a delta-only pair reports 2, a fresh delta
    singleton reports 1 — and old docs never appear in the output."""
    from tests.test_round7_ops import _write_docs

    from broadway_kinesis_spark.operators.simhash_incremental import (
        incremental_simhash_rows,
    )

    b = 1000
    base = " ".join(f"tk{i}" for i in range(30))
    pair = " ".join(f"pp{i}" for i in range(25))
    texts = {
        0: base,
        1: base,
        2: " ".join(f"aa{i}" for i in range(20)),
        1000: base,       # joins the old fingerprint: n_sharing 3
        1001: pair,       # delta-delta pair: 2
        1002: pair,
        1003: " ".join(f"ss{i}" for i in range(22)),  # singleton: 1
    }
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = {
            r.doc_id: r.n_sharing
            for r in incremental_simhash_rows(spark, td, boundary=b).collect()
        }
    assert got == {1000: 3, 1001: 2, 1002: 2, 1003: 1}
