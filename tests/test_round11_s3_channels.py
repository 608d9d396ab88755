"""Round-11 session 3: fuzzy / semantic / audio / video / substring-span
incremental dedup channels.

Completes the incremental matrix across EVERY near-dup family the engine
ships. The fences mirror test_incremental_channels.py's protocol per
channel:

- fold(N, delta) == build(N+1) as TABLE equality (roll-forward proof);
- probe-on-rolled == probe-on-scratch for the NEXT delta (the fold is
  consumable, not just equal);
- incremental probe == the INLINE channel restricted to delta rows (the
  statement the registered oracle makes, pinned here against the
  package's own from-scratch plan instead of DuckDB);
- planted semantics: old-old pairs are EXCLUDED (version N was already
  deduplicated against itself), old-delta pairs inherit, delta-delta
  (new-new) pairs surface;
- randomized-corpus fences against pure-python brute-force mirrors
  (the round-9/11 randomized-fence discipline).
"""

from __future__ import annotations

import math
import random
import tempfile

import numpy as np
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.test_incremental_channels import _rows, _write_embeddings
from tests.test_round7_ops import _write_docs

QUERIES = entrymod.queries()


# ---------------------------------------------------------------- fuzzy
def test_roll_forward_fuzzy_prefixes_equals_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.fuzzy_incremental import (
        ensure_fuzzy_prefixes,
        roll_forward_fuzzy_prefixes,
    )

    rolled = roll_forward_fuzzy_prefixes(spark, sf_dir, 400, 450)
    scratch = ensure_fuzzy_prefixes(spark, sf_dir, 450)
    assert rolled != scratch  # a fold can never shadow a from-scratch build
    assert roll_forward_fuzzy_prefixes(spark, sf_dir, 400, 450) == rolled
    assert _rows(spark.table(rolled)) == _rows(spark.table(scratch))


def test_probe_on_rolled_fuzzy_matches_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.fuzzy_incremental import (
        incremental_fuzzy_pairs,
        roll_forward_fuzzy_prefixes,
    )

    rolled = roll_forward_fuzzy_prefixes(spark, sf_dir, 400, 450)
    got = _rows(incremental_fuzzy_pairs(spark, sf_dir, 450, pfx_tbl=rolled))
    want = _rows(incremental_fuzzy_pairs(spark, sf_dir, 450))
    assert got == want


def test_incremental_fuzzy_matches_inline_restricted(spark, sf_dir):
    from broadway_kinesis_spark.operators.fuzzy_incremental import (
        BOUNDARY,
        incremental_fuzzy_pairs,
    )

    got = _rows(incremental_fuzzy_pairs(spark, sf_dir))
    want = _rows(
        QUERIES["dedup_fuzzy_prefix"](spark, sf_dir).filter(
            F.col("d2") >= BOUNDARY
        )
    )
    assert got == want


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _expected_fuzzy_pairs(texts: dict[int, str], b: int) -> set:
    """Pure-python mirror: same-(lang, size-bucket) pairs within EDIT_T
    prefix edits (full-DP distance — the banded plan must agree exactly
    inside the budget), restricted to d2 >= b. _write_docs fixes lang."""
    from broadway_kinesis_spark.operators.dedup import EDIT_T, PREFIX_N

    ids = sorted(texts)
    out = set()
    for x, i in enumerate(ids):
        for j in ids[x + 1 :]:
            if j < b:
                continue
            if len(texts[i]) // 50 != len(texts[j]) // 50:
                continue
            d = _levenshtein(
                texts[i].lower()[:PREFIX_N], texts[j].lower()[:PREFIX_N]
            )
            if d <= EDIT_T:
                out.add((i, j, d))
    return out


def test_incremental_fuzzy_planted_semantics(spark):
    """Old-old near-identical prefixes are EXCLUDED; old-delta and
    delta-delta pairs surface; the (lang, size-bucket) block still gates
    (a same-prefix doc in another size bucket never pairs)."""
    from broadway_kinesis_spark.operators.fuzzy_incremental import (
        incremental_fuzzy_pairs,
    )

    b = 1000
    base = "the quick brown fox jumps over the lazy dog again " * 2  # 102ch
    texts = {
        0: base,
        1: "The quick brown fox jumps over the lazy dog again " * 2,  # old dup of 0
        1000: base[:-1] + "!",  # delta, same bucket (101ch), prefix equal
        1001: "xhe quick brown fox jumps over the lazy dog again " * 2,  # 1 edit
        1002: base * 4,  # same prefix, DIFFERENT size bucket -> blocked
        1003: "completely unrelated text that shares no prefix at all " * 2,
    }
    expected = _expected_fuzzy_pairs(texts, b)
    assert (0, 1000, 0) in expected and (1, 1000, 0) in expected
    assert (1000, 1001, 1) in expected  # delta-delta
    assert not any(p[:2] == (0, 1) for p in expected)  # old-old
    assert not any(1002 in p[:2] for p in expected)  # blocked bucket
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = _rows(incremental_fuzzy_pairs(spark, td, boundary=b))
    assert got == expected


def test_incremental_fuzzy_randomized_mirror(spark):
    from broadway_kinesis_spark.operators.fuzzy_incremental import (
        incremental_fuzzy_pairs,
    )

    rng = random.Random(1108)
    vocab = ["alpha", "beta", "gamma", "delta", "omega", "sigma"]
    b = 1000

    def doc() -> str:
        words = [vocab[rng.randrange(len(vocab))] for _ in range(12)]
        return " ".join(words)

    texts: dict[int, str] = {i: doc() for i in range(25)}
    texts.update({i: doc() for i in range(1000, 1020)})
    # plants: cross-boundary edit, delta-delta copy
    texts[1020] = texts[4][:10] + "zz" + texts[4][12:]
    texts[1021] = texts[1003]
    expected = _expected_fuzzy_pairs(texts, b)
    assert len(expected) >= 2  # the plants are in
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = _rows(incremental_fuzzy_pairs(spark, td, boundary=b))
    assert got == expected


# ------------------------------------------------------------- semantic
def test_roll_forward_semantic_assignments_equals_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.semantic_incremental import (
        ensure_semantic_assignments,
        roll_forward_semantic_assignments,
    )

    rolled = roll_forward_semantic_assignments(spark, sf_dir, 400, 450)
    scratch = ensure_semantic_assignments(spark, sf_dir, 450)
    assert rolled != scratch
    assert roll_forward_semantic_assignments(spark, sf_dir, 400, 450) == rolled
    assert _rows(spark.table(rolled)) == _rows(spark.table(scratch))


def test_probe_on_rolled_semantic_matches_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.semantic_incremental import (
        incremental_semantic_rows,
        roll_forward_semantic_assignments,
    )

    rolled = roll_forward_semantic_assignments(spark, sf_dir, 400, 450)
    got = _rows(incremental_semantic_rows(spark, sf_dir, 450, asg_tbl=rolled))
    want = _rows(incremental_semantic_rows(spark, sf_dir, 450))
    assert got == want


def test_incremental_semantic_matches_inline_restricted(spark, sf_dir):
    from broadway_kinesis_spark.operators.semantic_incremental import (
        BOUNDARY,
        incremental_semantic_rows,
    )

    got = _rows(incremental_semantic_rows(spark, sf_dir))
    want = _rows(
        QUERIES["dedup_semantic"](spark, sf_dir).filter(
            F.col("vec_id") >= BOUNDARY
        )
    )
    assert got == want


def test_incremental_semantic_planted_semantics(spark):
    """A delta copy of an old direction is DROPPED (keep=False against
    version N), an orthogonal delta singleton KEEPS, a delta-delta
    near-dup drops its larger id only — all under FROZEN version-N seeds."""
    from broadway_kinesis_spark.operators.semantic_incremental import (
        incremental_semantic_rows,
    )

    dim, b = 16, 1000
    e = np.eye(dim)
    rows = [(i, 0, e[i]) for i in range(8)]  # seeds 0..7 (version N)
    rows += [
        (8, 0, e[0]),  # old dup of seed 0 — not the delta's concern
        (1000, 0, e[0]),  # delta copy of old direction -> keep=False
        (1001, 0, e[9]),  # orthogonal singleton -> keep=True
        (1002, 0, e[10]),  # delta-delta smaller side -> keep=True
        (1003, 0, (0.9 * e[10] + 0.1 * e[11])),  # larger side -> keep=False
    ]
    with tempfile.TemporaryDirectory() as td:
        _write_embeddings(td, spark, rows)
        got = {
            r.vec_id: (r.cluster, r.keep)
            for r in incremental_semantic_rows(spark, td, boundary=b).collect()
        }
    assert set(got) == {1000, 1001, 1002, 1003}
    assert got[1000] == (0, False)
    assert got[1001][1] is True
    assert got[1002][1] is True
    assert got[1003][1] is False
    # 1002/1003 landed in the same (tie-broken) cluster
    assert got[1002][0] == got[1003][0]


def test_incremental_semantic_randomized_mirror(spark):
    """Randomized corpus vs a pure-python SemDedup mirror (same fold-order
    assignment + cosine): per-delta-vector (cluster, keep) rows equal."""
    from broadway_kinesis_spark.operators.semantic import SEM_K, SEM_T
    from broadway_kinesis_spark.operators.semantic_incremental import (
        incremental_semantic_rows,
    )

    rng = random.Random(1109)
    dim, n, b = 6, 60, 40
    raw = [(i, 0, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    vecs = {i: [float(np.float32(x)) for x in v] for i, _, v in raw}

    def fold_dot(a, bv):
        acc = 0.0
        for x, y in zip(a, bv):
            acc += x * y
        return acc

    seeds = sorted(vecs)[:SEM_K]
    asg, nrm = {}, {}
    for i, v in vecs.items():
        nrm[i] = math.sqrt(fold_dot(v, v))
        best = min(
            seeds,
            key=lambda c: (
                sum((x - y) * (x - y) for x, y in zip(v, vecs[c])),
                c,
            ),
        )
        asg[i] = best
    dropped = set()
    ids = sorted(vecs)
    for x, i in enumerate(ids):
        for j in ids[x + 1 :]:
            if asg[i] != asg[j]:
                continue
            c = fold_dot(vecs[i], vecs[j]) / (nrm[i] * nrm[j])
            if c >= SEM_T:
                dropped.add(j)
    expected = {i: (asg[i], i not in dropped) for i in ids if i >= b}
    assert any(not keep for _, keep in expected.values())  # non-vacuous
    with tempfile.TemporaryDirectory() as td:
        _write_embeddings(td, spark, raw)
        got = {
            r.vec_id: (r.cluster, r.keep)
            for r in incremental_semantic_rows(spark, td, boundary=b).collect()
        }
    assert got == expected


# ---------------------------------------------------------------- audio
def test_roll_forward_audio_bands_equals_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.audiohash_incremental import (
        ensure_audio_bands,
        roll_forward_audio_bands,
    )

    rolled = roll_forward_audio_bands(spark, sf_dir, 400, 450)
    scratch = ensure_audio_bands(spark, sf_dir, 450)
    assert rolled != scratch
    assert roll_forward_audio_bands(spark, sf_dir, 400, 450) == rolled
    assert _rows(spark.table(rolled)) == _rows(spark.table(scratch))


def test_probe_on_rolled_audio_matches_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.audiohash_incremental import (
        incremental_audio_pairs,
        roll_forward_audio_bands,
    )

    rolled = roll_forward_audio_bands(spark, sf_dir, 400, 450)
    got = _rows(incremental_audio_pairs(spark, sf_dir, 450, bands_tbl=rolled))
    want = _rows(incremental_audio_pairs(spark, sf_dir, 450))
    assert got == want


def test_incremental_audio_matches_inline_restricted(spark, sf_dir):
    from broadway_kinesis_spark.operators.audiohash_incremental import (
        BOUNDARY,
        incremental_audio_pairs,
    )

    got = _rows(incremental_audio_pairs(spark, sf_dir))
    want = _rows(
        QUERIES["dedup_audio_fingerprint"](spark, sf_dir).filter(
            F.col("m2") >= BOUNDARY
        )
    )
    assert got == want


def _audio_words(text: str) -> list[int] | None:
    """Pure-python mirror of the acoustic fingerprint: int16-LE samples
    from the utf-8 bytes (even-truncated, exactly as_wav_media's body),
    then the three-envelope multi-stride words."""
    from broadway_kinesis_spark.operators.imagehash import phash_words

    bs = text[: (len(text) // 2) * 2].encode()
    if len(bs) < 2:
        return None
    s = np.frombuffer(bs, dtype="<i2").astype(np.int64)
    mag = np.abs(s)
    return (
        phash_words(mag)
        + phash_words(mag * mag)
        + phash_words(np.abs(np.diff(s)))
    )


def _expected_audio_pairs(texts: dict[int, str], b: int) -> set:
    """Brute-force expected pairs: total Hamming <= AUDIO_HAM_T with at
    least one delta side. Banded candidate generation is lossless inside
    the budget (pigeonhole: 24 bands > AUDIO_HAM_T), so the brute force
    needs no band logic."""
    from broadway_kinesis_spark.operators.audiohash import AUDIO_HAM_T

    words = {i: _audio_words(t) for i, t in texts.items()}
    ids = sorted(i for i, w in words.items() if w is not None)
    out = set()
    for x, i in enumerate(ids):
        for j in ids[x + 1 :]:
            if j < b:
                continue
            d = sum(bin(a ^ c).count("1") for a, c in zip(words[i], words[j]))
            if d <= AUDIO_HAM_T:
                out.add((i, j, d))
    return out


def test_incremental_audio_planted_semantics(spark):
    """Old-old identical clips are EXCLUDED; a delta re-encode pairs with
    both old copies at Hamming 0; delta-delta dups surface; an unrelated
    clip pairs with nothing."""
    from broadway_kinesis_spark.operators.audiohash_incremental import (
        incremental_audio_pairs,
    )

    b = 1000
    base = "steady tone rising fast then falling slow with a beat " * 6
    unrelated = "".join(chr(33 + (i * 11) % 90) for i in range(300))
    texts = {
        0: base,
        1: base,  # old exact dup — (0,1) must NOT appear
        1000: base,  # delta re-encode -> (0,1000,0), (1,1000,0)
        1001: unrelated,
        1002: unrelated,  # delta-delta dup -> (1001,1002,0)
    }
    expected = _expected_audio_pairs(texts, b)
    assert (0, 1000, 0) in expected and (1, 1000, 0) in expected
    assert (1001, 1002, 0) in expected
    assert not any(p[:2] == (0, 1) for p in expected)
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = _rows(incremental_audio_pairs(spark, td, boundary=b))
    assert got == expected


def test_incremental_audio_randomized_mirror(spark):
    from broadway_kinesis_spark.operators.audiohash_incremental import (
        incremental_audio_pairs,
    )

    rng = random.Random(1110)
    vocab = [f"tok{i}" for i in range(40)]
    b = 1000

    def doc() -> str:
        return " ".join(
            vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(30, 90))
        )

    texts: dict[int, str] = {i: doc() for i in range(25)}
    texts.update({i: doc() for i in range(1000, 1020)})
    texts[1020] = texts[5]  # cross-boundary plant
    texts[1021] = texts[1002]  # within-delta plant
    expected = _expected_audio_pairs(texts, b)
    assert len(expected) >= 2
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = _rows(incremental_audio_pairs(spark, td, boundary=b))
    assert got == expected


# ---------------------------------------------------------------- video
def test_roll_forward_video_index_equals_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.videohash_incremental import (
        ensure_video_index,
        roll_forward_video_index,
    )

    from broadway_kinesis_spark.functions.versioned_fold import served_counts

    ri, rd = roll_forward_video_index(spark, sf_dir, 400, 450)
    si, sd = ensure_video_index(spark, sf_dir, 450)
    assert ri != si and rd != sd
    assert roll_forward_video_index(spark, sf_dir, 400, 450) == (ri, rd)
    assert _rows(spark.table(ri)) == _rows(spark.table(si))
    # the DF fold is merge-on-read segmented (round 12): compare SERVED
    # content — sum per shingle — against the one-row-per-key scratch
    assert _rows(served_counts(spark, rd, "shingle", "df_old")) == _rows(
        spark.table(sd)
    )


def test_probe_on_rolled_video_matches_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.videohash_incremental import (
        incremental_video_pairs,
        roll_forward_video_index,
    )

    ri, rd = roll_forward_video_index(spark, sf_dir, 400, 450)
    got = _rows(
        incremental_video_pairs(spark, sf_dir, 450, idx_tbl=ri, df_tbl=rd)
    )
    want = _rows(incremental_video_pairs(spark, sf_dir, 450))
    assert got == want


def test_incremental_video_matches_inline_restricted(spark, sf_dir):
    from broadway_kinesis_spark.operators.videohash_incremental import (
        BOUNDARY,
        incremental_video_pairs,
    )

    got = _rows(incremental_video_pairs(spark, sf_dir))
    want = _rows(
        QUERIES["dedup_video_temporal"](spark, sf_dir).filter(
            F.col("m2") >= BOUNDARY
        )
    )
    assert got == want


def _expected_video_pairs(texts: dict[int, str], b: int) -> set:
    """Brute-force mirror incl. the stop-shingle cap: candidates share a
    shingle carried by <= DF_CAP clips (combined corpus), verify is exact
    Jaccard >= J_NUM/J_DEN over the full distinct-shingle sets."""
    from broadway_kinesis_spark.operators.dedup import DF_CAP
    from broadway_kinesis_spark.operators.videohash import (
        J_DEN,
        J_NUM,
        clip_shingles,
    )

    sh = {i: clip_shingles(t.encode()) for i, t in texts.items()}
    sh = {i: s for i, s in sh.items() if s}
    df: dict[str, int] = {}
    for s in sh.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    kept = {g for g, c in df.items() if c <= DF_CAP}
    ids = sorted(sh)
    out = set()
    for x, i in enumerate(ids):
        for j in ids[x + 1 :]:
            if j < b:
                continue
            if not (sh[i] & sh[j] & kept):
                continue
            inter = len(sh[i] & sh[j])
            union = len(sh[i]) + len(sh[j]) - inter
            if inter * J_DEN >= union * J_NUM:
                out.add((i, j, inter, union))
    return out


def test_incremental_video_planted_semantics(spark):
    """Old-old identical clips are EXCLUDED; a delta re-encode pairs with
    both old copies; a TRIMMED delta clip still pairs (interior shingles
    survive); delta-delta dups surface."""
    from broadway_kinesis_spark.operators.multimodal import FRAME_BYTES
    from broadway_kinesis_spark.operators.videohash_incremental import (
        incremental_video_pairs,
    )

    b = 1000
    # ~8 frames of distinct content so trimming keeps most shingles
    base = "".join(
        chr(65 + (i // FRAME_BYTES) % 26) * 1 for i in range(FRAME_BYTES * 8)
    )
    base = "".join(
        chr(65 + ((i * 7 + i // FRAME_BYTES) % 26)) for i in range(FRAME_BYTES * 8)
    )
    unrelated = "".join(chr(97 + (i * 13) % 26) for i in range(FRAME_BYTES * 8))
    texts = {
        0: base,
        1: base,  # old exact dup — (0,1) must NOT appear
        1000: base,  # delta re-encode
        1001: base[:-FRAME_BYTES],  # trimmed delta clip
        1002: unrelated,
        1003: unrelated,  # delta-delta dup
    }
    expected = _expected_video_pairs(texts, b)
    assert any(p[:2] == (0, 1000) for p in expected)
    assert any(p[:2] == (0, 1001) for p in expected)  # trim survives
    assert any(p[:2] == (1002, 1003) for p in expected)
    assert not any(p[:2] == (0, 1) for p in expected)
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = _rows(incremental_video_pairs(spark, td, boundary=b))
    assert got == expected


def test_incremental_video_randomized_mirror(spark):
    from broadway_kinesis_spark.operators.multimodal import FRAME_BYTES
    from broadway_kinesis_spark.operators.videohash_incremental import (
        incremental_video_pairs,
    )

    rng = random.Random(1111)
    b = 1000

    def clip() -> str:
        n_frames = rng.randrange(3, 9)
        return "".join(
            chr(48 + rng.randrange(75)) for _ in range(FRAME_BYTES * n_frames)
        )

    texts: dict[int, str] = {i: clip() for i in range(20)}
    texts.update({i: clip() for i in range(1000, 1015)})
    texts[1015] = texts[6]  # cross-boundary plant
    texts[1016] = texts[1004][:-FRAME_BYTES]  # trimmed within-delta plant
    expected = _expected_video_pairs(texts, b)
    assert len(expected) >= 2
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = _rows(incremental_video_pairs(spark, td, boundary=b))
    assert got == expected


# ------------------------------------------------------------ substring
def test_roll_forward_span_counts_equals_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.substring_incremental import (
        ensure_span_counts,
        roll_forward_span_counts,
    )

    from broadway_kinesis_spark.functions.versioned_fold import served_counts

    rolled = roll_forward_span_counts(spark, sf_dir, 400, 450)
    scratch = ensure_span_counts(spark, sf_dir, 450)
    assert rolled != scratch
    assert roll_forward_span_counts(spark, sf_dir, 400, 450) == rolled
    # the fold is merge-on-read segmented (round 12): compare SERVED
    # content — sum per span — against the one-row-per-key scratch
    assert _rows(served_counts(spark, rolled, "span", "n_old")) == _rows(
        spark.table(scratch)
    )


def test_probe_on_rolled_substring_matches_scratch(spark, sf_dir):
    from broadway_kinesis_spark.operators.substring_incremental import (
        incremental_substring_rows,
        roll_forward_span_counts,
    )

    rolled = roll_forward_span_counts(spark, sf_dir, 400, 450)
    got = _rows(
        incremental_substring_rows(spark, sf_dir, 450, counts_tbl=rolled)
    )
    want = _rows(incremental_substring_rows(spark, sf_dir, 450))
    assert got == want


def test_incremental_substring_matches_inline_restricted(spark, sf_dir):
    from broadway_kinesis_spark.operators.substring_incremental import (
        BOUNDARY,
        incremental_substring_rows,
    )

    got = _rows(incremental_substring_rows(spark, sf_dir))
    want = _rows(
        QUERIES["dedup_substring_spans"](spark, sf_dir).filter(
            F.col("doc_id") >= BOUNDARY
        )
    )
    assert got == want


def test_incremental_substring_planted_semantics(spark):
    """A delta doc sharing one 8-token span with ONE old doc masks exactly
    those 8 positions (old count 1 + delta count 1 >= MIN_DOCS); a span
    repeated WITHIN one old doc still counts that doc once (distinctness);
    a unique delta doc masks nothing."""
    from broadway_kinesis_spark.operators.substring_incremental import (
        incremental_substring_rows,
    )

    b = 1000
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    texts = {
        0: f"{shared} tail0 tail1 tail2",
        # span repeated twice within ONE old doc; no other doc has it
        1: "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8",
        1000: f"head0 {shared}",  # inherits doc 0's span -> 8 masked
        1001: "u1 u2 u3 u4 u5 u6 u7 u8 u9",  # unique -> 0 masked
        # delta copy of old doc 1's repeated span -> shared via old count 1
        1002: "r1 r2 r3 r4 r5 r6 r7 r8 z9",
    }
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, list(texts.items()))
        got = {
            r.doc_id: r
            for r in incremental_substring_rows(spark, td, boundary=b).collect()
        }
        # cross-check the whole output against the inline channel
        want = _rows(
            QUERIES["dedup_substring_spans"](spark, td).filter(
                F.col("doc_id") >= b
            )
        )
        assert _rows(
            incremental_substring_rows(spark, td, boundary=b)
        ) == want
    assert set(got) == {1000, 1001, 1002}
    assert got[1000].n_masked_tokens == 8 and got[1000].n_shared_spans == 1
    assert got[1001].n_masked_tokens == 0
    # doc 1's within-doc repetition counts ONCE; +1 delta occurrence -> shared
    assert got[1002].n_masked_tokens == 8


# ----------------------------------------------------- daily ingest gate
def test_daily_gate_matches_composed_oracle_statement(spark, sf_dir):
    """The registered composite == its three stages joined, package-
    internal: exact flag = complement of the digest-dedup keep set, near
    count = minhash-incremental pairs per d2, split = the incremental
    assignment — on the same corpus and boundary."""
    from broadway_kinesis_spark.operators.daily_increment import (
        BOUNDARY,
        daily_increment_rows,
    )
    from broadway_kinesis_spark.operators.incremental_batch import (
        incremental_digest_dedup,
    )
    from broadway_kinesis_spark.operators.minhash_incremental import (
        incremental_minhash_pairs,
    )
    from broadway_kinesis_spark.operators.split_incremental import (
        incremental_split_assignment,
    )

    got = {
        r.doc_id: (r.is_exact_dup, r.n_near_dups, r.split, r.accepted)
        for r in daily_increment_rows(spark, sf_dir).collect()
    }
    kept = {
        r.doc_id for r in incremental_digest_dedup(spark, sf_dir).collect()
    }
    near: dict[int, int] = {}
    for r in incremental_minhash_pairs(spark, sf_dir).collect():
        near[r.d2] = near.get(r.d2, 0) + 1
    splits = {
        r.doc_id: r.split
        for r in incremental_split_assignment(spark, sf_dir).collect()
    }
    assert set(got) == set(splits)
    for doc_id, (is_exact, n_near, split, accepted) in got.items():
        assert is_exact == (doc_id not in kept)
        assert n_near == near.get(doc_id, 0)
        assert split == splits[doc_id]
        assert accepted == ((not is_exact) and n_near == 0)
    assert doc_id >= BOUNDARY  # sanity: only delta rows came back


def test_daily_gate_on_rolled_artifacts_matches_scratch(spark, sf_dir):
    """Day D+1's gate on day D's THREE folds (digests, minhash bands,
    split labels) == the gate on fresh boundary builds — the composite's
    production loop is consumable end-to-end, not just per channel."""
    from broadway_kinesis_spark.operators.daily_increment import (
        daily_increment_rows,
    )
    from broadway_kinesis_spark.operators.incremental_batch import (
        roll_forward_digests,
    )
    from broadway_kinesis_spark.operators.minhash_incremental import (
        roll_forward_minhash_bands,
    )
    from broadway_kinesis_spark.operators.split_incremental import (
        roll_forward_split_labels,
    )

    dg = roll_forward_digests(spark, sf_dir, 400, 450)
    mb = roll_forward_minhash_bands(spark, sf_dir, 400, 450)
    lb = roll_forward_split_labels(spark, sf_dir, 400, 450)
    got = _rows(
        daily_increment_rows(
            spark, sf_dir, 450, digests_tbl=dg, bands_tbl=mb, labels_tbl=lb
        )
    )
    want = _rows(daily_increment_rows(spark, sf_dir, 450))
    assert got == want


def test_vacuum_retention_covers_session3_families(spark, sf_dir):
    """The daily-loop retention idiom applies unchanged to a session-3
    artifact family: roll the fuzzy prefix table N -> N+1, family-scoped
    vacuum with exact-name pins drops N-1, the survivors still serve."""
    from broadway_kinesis_spark.functions.table_build import vacuum_warehouse
    from broadway_kinesis_spark.operators.fuzzy_incremental import (
        ensure_fuzzy_prefixes,
        incremental_fuzzy_pairs,
        roll_forward_fuzzy_prefixes,
    )

    v_prev = ensure_fuzzy_prefixes(spark, sf_dir, 350)  # version N-1
    v_n = ensure_fuzzy_prefixes(spark, sf_dir, 400)
    v_n1 = roll_forward_fuzzy_prefixes(spark, sf_dir, 400, 450)
    dropped = vacuum_warehouse(
        spark,
        prefix="_bks_fzpfx_",
        retain_tokens=set(),
        retain_names=(v_n, v_n1),
    )
    assert v_prev in dropped and v_n not in dropped and v_n1 not in dropped
    assert not spark.catalog.tableExists(v_prev)
    got = _rows(incremental_fuzzy_pairs(spark, sf_dir, 450, pfx_tbl=v_n1))
    assert got == _rows(incremental_fuzzy_pairs(spark, sf_dir, 450))


# ---------------------------------------------- corpus-version orchestrator
def test_roll_forward_registry_covers_every_exported_fold():
    """Coverage fence: every ``VersionedArtifact`` spec defined under
    ``operators/`` and every ``roll_forward_*`` there (a spec's alias or a
    hand-written fold) belongs to a registered family — adding a channel
    without registering it is a CI failure, not a silent skip in the daily
    job. Specs are matched by identity and folds by the registered
    callable, because every spec alias shares one ``__name__``."""
    import importlib
    import pkgutil

    import broadway_kinesis_spark.operators as ops
    from broadway_kinesis_spark.functions.versioned_fold import VersionedArtifact
    from broadway_kinesis_spark.operators.corpus_versioning import _families

    families = _families()
    spec_ids = {id(f) for f in families if isinstance(f, VersionedArtifact)}
    folds = [f.roll_forward for f in families]
    missing = set()
    for m in pkgutil.iter_modules(ops.__path__):
        if m.name == "corpus_versioning":
            continue
        mod = importlib.import_module(f"broadway_kinesis_spark.operators.{m.name}")
        for attr, val in vars(mod).items():
            if isinstance(val, VersionedArtifact):
                if id(val) not in spec_ids:
                    missing.add(f"{m.name}.{attr}")
            elif attr.startswith("roll_forward_") and callable(val):
                if val not in folds:
                    missing.add(f"{m.name}.{attr}")
    assert not missing, f"folds not in the corpus_versioning registry: {sorted(missing)}"


def test_roll_forward_corpus_one_call_and_retention(spark, sf_dir):
    """The daily maintenance step, end-to-end in one call: every family
    folds 400 -> 450 (artifact map complete, every table exists), and the
    one-pass vacuum drops a planted N-1 version per table family while
    the rolled artifacts and their pinned inputs survive."""
    from broadway_kinesis_spark.operators.corpus_versioning import (
        family_names,
        roll_forward_corpus,
        vacuum_superseded,
    )
    from broadway_kinesis_spark.operators.fuzzy_incremental import (
        ensure_fuzzy_prefixes,
        incremental_fuzzy_pairs,
    )
    from broadway_kinesis_spark.operators.simhash_incremental import (
        ensure_simhash_counts,
    )

    # plant superseded versions in two table families
    prev_fz = ensure_fuzzy_prefixes(spark, sf_dir, 350)
    prev_sh = ensure_simhash_counts(spark, sf_dir, 350)
    rolled = roll_forward_corpus(spark, sf_dir, 400, 450)
    assert set(rolled) == set(family_names())
    for fam, artifacts in rolled.items():
        for a in artifacts:
            if fam == "ivf_index":
                import os

                assert os.path.isdir(a)
            else:
                assert spark.catalog.tableExists(a), (fam, a)
    dropped = vacuum_superseded(spark, rolled, dry_run=False)
    assert prev_fz in dropped and prev_sh in dropped
    for artifacts in rolled.values():
        for a in artifacts:
            assert a not in dropped
    # the rolled artifacts still serve (spot probe on the fuzzy family)
    got = _rows(
        incremental_fuzzy_pairs(
            spark, sf_dir, 450, pfx_tbl=rolled["fuzzy_prefixes"][0]
        )
    )
    assert got == _rows(incremental_fuzzy_pairs(spark, sf_dir, 450))
    # unknown family names fail loudly
    import pytest as _pytest

    with _pytest.raises(KeyError):
        vacuum_superseded(spark, {"not_a_family": ("x",)})


def test_vacuum_ivf_versions_drops_only_named_superseded(spark, sf_dir):
    """The IVF directory retention: only this corpus's explicitly
    superseded tags drop; the live fold and a from-scratch version-N
    index survive, and the survivor still serves the probe."""
    import os

    from broadway_kinesis_spark.operators.ann_incremental import (
        _dir,
        ensure_version_index,
        roll_forward_ivf_index,
        vacuum_ivf_versions,
    )
    from broadway_kinesis_spark.operators.ann_persist import probe_ivf_index

    v_prev = ensure_version_index(spark, sf_dir, 350)
    v_n = ensure_version_index(spark, sf_dir, 400)
    rolled = roll_forward_ivf_index(spark, sf_dir, 400, 450)
    # dry run names the superseded dir without touching it
    assert vacuum_ivf_versions(sf_dir, ("v350",), dry_run=True) == [v_prev]
    assert os.path.isdir(v_prev)
    dropped = vacuum_ivf_versions(sf_dir, ("v350",))
    assert dropped == [v_prev] and not os.path.isdir(v_prev)
    assert os.path.isdir(v_n) and os.path.isdir(rolled)
    # an unknown tag (or a sibling corpus's digest) is never a candidate
    assert vacuum_ivf_versions(sf_dir, ("v999",)) == []
    assert probe_ivf_index(spark, sf_dir, rolled).count() > 0
    assert _dir(sf_dir, "v350") == v_prev  # the derivation is the contract
