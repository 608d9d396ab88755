"""Round-11 operators: index roll-forward (fold version N's persisted
dedup artifacts + the accepted delta into version N+1's — VERDICT r10 #3)
and incremental leakage-safe split assignment (a delta probes the
persisted evidence edges and inherits existing clusters' split sides —
VERDICT r10 #4).

The fences here are the ones the oracle harness can't state directly:
fold(N, delta) == build(N+1) as TABLE equality (the roll-forward proof),
probe-on-rolled == probe-on-scratch for the NEXT delta (the artifacts are
actually consumable), per-doc equality of the incremental assignment with
the full recompute, and the planted zero-straddle fence (a delta doc
near-dup to a train-side version-N cluster must land in train, where the
per-doc hash split would have straddled it).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def _tbl_rows(spark, name):
    return {tuple(r) for r in spark.table(name).collect()}


# ------------------------------------------------------ index roll-forward
def test_roll_forward_digests_equals_scratch(spark, sf_dir):
    """fold(v400, delta [400,450)) must equal build(v450) from scratch —
    set equality of the digest tables — key a DIFFERENT table name than
    the from-scratch build (a fold can never shadow it), and be
    idempotent."""
    from broadway_kinesis_spark.operators.incremental_batch import (
        ensure_corpus_digests,
        roll_forward_digests,
    )

    rolled = roll_forward_digests(spark, sf_dir, 400, 450)
    scratch = ensure_corpus_digests(spark, sf_dir, 450)
    assert rolled != scratch
    assert roll_forward_digests(spark, sf_dir, 400, 450) == rolled
    assert _tbl_rows(spark, rolled) == _tbl_rows(spark, scratch)
    # distinctness survived the fold (the append side anti-joined)
    n = spark.table(rolled).count()
    assert n == spark.table(rolled).distinct().count()


def test_roll_forward_ngram_index_equals_scratch(spark, sf_dir):
    """fold(v400, delta [400,450)) of the inverted index + DF statistic
    must equal the from-scratch v450 build: (doc_id, shingle) rows are
    unique per construction (_shingled is array_distinct), so set
    equality pins the idx; the df table must agree per shingle."""
    from broadway_kinesis_spark.operators.incremental_batch import (
        ensure_ngram_index,
        roll_forward_ngram_index,
    )

    from broadway_kinesis_spark.functions.versioned_fold import served_counts

    r_idx, r_df = roll_forward_ngram_index(spark, sf_dir, 400, 450)
    s_idx, s_df = ensure_ngram_index(spark, sf_dir, 450)
    assert (r_idx, r_df) != (s_idx, s_df)
    assert _tbl_rows(spark, r_idx) == _tbl_rows(spark, s_idx)
    # the DF fold is merge-on-read segmented (round 12): compare SERVED
    # content — sum per shingle — against the one-row-per-key scratch
    assert {
        tuple(r) for r in served_counts(spark, r_df, "shingle", "df_old").collect()
    } == _tbl_rows(spark, s_df)


def test_probe_on_rolled_artifacts_matches_scratch(spark, sf_dir):
    """Day D+1's delta (docs >= 450) probed against the ROLLED v450
    artifacts must produce exactly the pairs/survivors the from-scratch
    v450 artifacts produce — the roll-forward output is consumable by the
    probe bodies, not just equal as tables."""
    from broadway_kinesis_spark.operators.incremental_batch import (
        incremental_digest_dedup,
        incremental_ngram_pairs,
        roll_forward_digests,
        roll_forward_ngram_index,
    )

    rolled_digests = roll_forward_digests(spark, sf_dir, 400, 450)
    r_idx, r_df = roll_forward_ngram_index(spark, sf_dir, 400, 450)
    exact_rolled = {
        tuple(r)
        for r in incremental_digest_dedup(
            spark, sf_dir, 450, digests_tbl=rolled_digests
        ).collect()
    }
    exact_scratch = {
        tuple(r) for r in incremental_digest_dedup(spark, sf_dir, 450).collect()
    }
    assert exact_rolled == exact_scratch
    ng_rolled = {
        tuple(r)
        for r in incremental_ngram_pairs(
            spark, sf_dir, 450, idx_tbl=r_idx, df_tbl=r_df
        ).collect()
    }
    ng_scratch = {
        tuple(r) for r in incremental_ngram_pairs(spark, sf_dir, 450).collect()
    }
    assert ng_rolled == ng_scratch


# ------------------------------------- incremental split assignment (#4)
def test_incremental_split_assignment_matches_full_recompute(spark, sf_dir):
    """Per-document equality with the from-scratch tiered split restricted
    to the delta — the same statement the registered oracle makes, pinned
    here against the package's own full recompute (leakage_safe_assignment
    over the tiered evidence union) instead of DuckDB."""
    from broadway_kinesis_spark.operators.split_incremental import (
        incremental_split_assignment,
    )
    from broadway_kinesis_spark.operators.splits import (
        _evidence_edges,
        leakage_safe_assignment,
    )

    incr = {
        tuple(r) for r in incremental_split_assignment(spark, sf_dir).collect()
    }
    full = {
        tuple(r)
        for r in leakage_safe_assignment(
            spark, sf_dir, edges=_evidence_edges(spark, sf_dir, tiered=True)
        )
        .filter(F.col("doc_id") >= 400)
        .select("doc_id", "grp", "clustered", "split")
        .collect()
    }
    assert incr == full and len(incr) == 100


def test_incremental_split_zero_straddle_planted(spark):
    """The fence VERDICT r10 #4 asks for: plant a delta doc that is a
    near-dup of a TRAIN-side version-N cluster and assert it is assigned
    train (inherits the cluster's side) even though its OWN md5 bucket
    says test (the per-doc hash split would have straddled it). Also: a
    fresh delta-only pair co-assigns on a fresh hash, and a singleton
    delta doc hashes fresh as unclustered."""
    from tests.test_round7_ops import _cluster_text, _md5_bucket, _write_docs

    from broadway_kinesis_spark.operators.split_incremental import (
        incremental_split_assignment,
    )

    boundary = 1000
    # version-N cluster: two exact copies, group key = min id, train side
    old_pair = [i for i in range(boundary) if _md5_bucket(i) < 80][:2]
    assert _md5_bucket(min(old_pair)) < 80
    # delta doc: own bucket lands in TEST — the straddle the per-doc
    # split would produce
    joiner = next(
        i for i in range(boundary, boundary + 200) if _md5_bucket(i) >= 90
    )
    fresh_pair = [
        i
        for i in range(boundary, boundary + 400)
        if i != joiner and _md5_bucket(i) < 80
    ][:2]
    singleton = next(
        i
        for i in range(boundary, boundary + 400)
        if i != joiner and i not in fresh_pair
    )
    cluster_text = _cluster_text("r11-train-cluster")
    rows = [
        (old_pair[0], cluster_text),
        (old_pair[1], cluster_text),
        (joiner, cluster_text),  # near-dup of the old cluster
        (fresh_pair[0], _cluster_text("r11-fresh")),
        (fresh_pair[1], _cluster_text("r11-fresh")),
        (singleton, _cluster_text("r11-singleton")),
    ]
    # filler old singletons so version N is non-trivial
    rows += [
        (i, _cluster_text(f"r11-old-filler{i}"))
        for i in range(10, 30)
        if i not in old_pair
    ]
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, rows)
        got = {
            r["doc_id"]: (r["grp"], r["clustered"], r["split"])
            for r in incremental_split_assignment(
                spark, td, boundary=boundary
            ).collect()
        }
    # the joiner inherits the old cluster: group = old min id, train side
    assert got[joiner] == (min(old_pair), True, "train")
    # non-vacuous: its own per-doc bucket would have put it in test
    assert _md5_bucket(joiner) >= 90
    # the fresh delta pair co-assigns under min(fresh_pair)'s hash
    fa, fb = sorted(fresh_pair)
    side = "train" if _md5_bucket(fa) < 80 else (
        "val" if _md5_bucket(fa) < 90 else "test"
    )
    assert got[fa] == (fa, True, side)
    assert got[fb] == (fa, True, side)
    # the singleton hashes fresh, unclustered
    sb = _md5_bucket(singleton)
    sside = "train" if sb < 80 else ("val" if sb < 90 else "test")
    assert got[singleton] == (singleton, False, sside)
    # every delta doc is assigned exactly once
    assert set(got) == {joiner, fa, fb, singleton}


def test_roll_forward_split_labels_equals_scratch(spark, sf_dir):
    """fold(v400, delta [400,450)) and fold(v400, [400,500)) of the split
    LABEL table must equal the from-scratch builds — and the rolled
    labels must be consumable: the NEXT delta's assignment on the rolled
    table equals the assignment on the scratch table."""
    from broadway_kinesis_spark.operators.split_incremental import (
        ensure_split_labels,
        incremental_split_assignment,
        roll_forward_split_labels,
    )

    for bn1 in (450, 500):
        rolled = roll_forward_split_labels(spark, sf_dir, 400, bn1)
        scratch = ensure_split_labels(spark, sf_dir, bn1)
        assert rolled != scratch
        assert _tbl_rows(spark, rolled) == _tbl_rows(spark, scratch)
    rolled_450 = roll_forward_split_labels(spark, sf_dir, 400, 450)
    on_rolled = {
        tuple(r)
        for r in incremental_split_assignment(
            spark, sf_dir, boundary=450, labels_tbl=rolled_450
        ).collect()
    }
    on_scratch = {
        tuple(r)
        for r in incremental_split_assignment(spark, sf_dir, boundary=450).collect()
    }
    assert on_rolled == on_scratch and len(on_rolled) == 50


def test_roll_forward_split_labels_handles_cluster_merge(spark):
    """The one tricky fold path: a delta doc that is containment-evidence
    near-dup of TWO distinct version-N clusters MERGES them — the fold
    must remap BOTH old clusters' docs (and the delta doc) to the merged
    minimum, exactly matching the from-scratch build."""
    from tests.test_round7_ops import _cluster_text, _write_docs

    from broadway_kinesis_spark.operators.split_incremental import (
        ensure_split_labels,
        roll_forward_split_labels,
    )

    boundary = 1000
    xa, xb, ya, yb = 3, 7, 11, 19  # two old exact-dup clusters
    joiner = 1005  # delta doc containing BOTH texts (containment edges)
    x_text = _cluster_text("r11-merge-x")
    y_text = _cluster_text("r11-merge-y")
    rows = [
        (xa, x_text),
        (xb, x_text),
        (ya, y_text),
        (yb, y_text),
        (joiner, x_text + " " + y_text),
    ]
    rows += [
        (i, _cluster_text(f"r11-merge-filler{i}")) for i in range(30, 45)
    ]
    with tempfile.TemporaryDirectory() as td:
        _write_docs(td, spark, rows)
        rolled = roll_forward_split_labels(spark, td, boundary, 2000)
        scratch = ensure_split_labels(spark, td, 2000)
        got = _tbl_rows(spark, rolled)
        assert got == _tbl_rows(spark, scratch)
        labels = dict(got)
        merged = min(xa, xb, ya, yb)
        assert labels[xa] == labels[xb] == labels[ya] == labels[yb] == merged
        assert labels[joiner] == merged


def test_incremental_split_matches_full_on_random_corpora(spark):
    """Randomized fence for the quotient-min proof: on corpora with RANDOM
    duplicate structure (fresh texts, exact copies, and 1-token near-dups,
    each drawn across or within a random boundary), the incremental
    assignment must equal the full tiered recompute restricted to the
    delta, per document — the same random-mirror discipline the round-9
    composites carry, here with the package's own full path as the
    mirror (an independent code path: full-graph CC vs quotient CC)."""
    import random

    from tests.test_round7_ops import _cluster_text, _write_docs

    from broadway_kinesis_spark.operators.split_incremental import (
        incremental_split_assignment,
    )
    from broadway_kinesis_spark.operators.splits import (
        _evidence_edges,
        leakage_safe_assignment,
    )

    for seed in (11, 23):
        rng = random.Random(seed)
        boundary = 500
        n_old, n_delta = 40, 14
        old_ids = rng.sample(range(boundary), n_old)
        delta_ids = rng.sample(range(boundary, 2 * boundary), n_delta)
        rows, texts = [], []
        for i, d in enumerate(old_ids + delta_ids):
            roll = rng.random()
            if texts and roll < 0.35:
                t = rng.choice(texts)  # exact copy (maybe cross-boundary)
            elif texts and roll < 0.55:
                toks = rng.choice(texts).split(" ")
                toks[rng.randrange(len(toks))] = f"edit{i}"
                t = " ".join(toks)  # near-dup: 1-token edit, Jaccard high
            else:
                t = _cluster_text(f"rnd{seed}-{i}")
            texts.append(t)
            rows.append((d, t))
        with tempfile.TemporaryDirectory() as td:
            _write_docs(td, spark, rows)
            incr = {
                tuple(r)
                for r in incremental_split_assignment(
                    spark, td, boundary=boundary
                ).collect()
            }
            full = {
                tuple(r)
                for r in leakage_safe_assignment(
                    spark, td, edges=_evidence_edges(spark, td, tiered=True)
                )
                .filter(F.col("doc_id") >= boundary)
                .select("doc_id", "grp", "clustered", "split")
                .collect()
            }
            assert incr == full and len(incr) == n_delta, f"seed {seed}"


def test_split_labels_and_rollforward_policy_tokens():
    """Roll-forward and label table names must key on both boundaries /
    the boundary, so a fold or a version-N label set can never shadow a
    different version's artifact (the table_build policy-token
    discipline)."""
    import inspect

    from broadway_kinesis_spark.operators import split_incremental as si

    # round 13: the ":rf:v{n}-v{n1}" token moved into the shared
    # versioned_fold.fold_policy helper (which also folds the chained
    # fold's src identity in); the table families' names are pinned
    # behaviourally by test_versioned_artifact_names_are_golden
    from broadway_kinesis_spark.functions.versioned_fold import fold_policy

    pol_src = inspect.getsource(fold_policy)
    assert ":rf:v{boundary_n}-v{boundary_n1}" in pol_src
    assert "src=" in pol_src or "src is not None" in pol_src
    src = inspect.getsource(si.ensure_split_labels)
    assert "labels:v{boundary}" in src


#: (module, ensure, roll_forward, source table) -> the ``_bks_<prefix>_<token>_``
#: stems of ensure(400), roll_forward(400, 450) and the chained
#: roll_forward(450, 500, src=<fixed-name tables>), as the hand-written
#: folds named them before the VersionedArtifact spec: every stored table,
#: fold==scratch, inode and vacuum fence depends on these staying
#: byte-identical.
_GOLDEN_NAMES = {
    (
        "incremental_batch",
        "ensure_corpus_digests",
        "roll_forward_digests",
        "documents",
    ): (
        ("_bks_digests_de0c4a30_",),
        ("_bks_digests_22499e1a_",),
        ("_bks_digests_a4d8d612_",),
    ),
    (
        "incremental_batch",
        "ensure_ngram_index",
        "roll_forward_ngram_index",
        "documents",
    ): (
        ("_bks_ngidx_f3570fe5_", "_bks_ngdf_f3570fe5_"),
        ("_bks_ngidx_766a1d17_", "_bks_ngdf_766a1d17_"),
        ("_bks_ngidx_802dc1ab_", "_bks_ngdf_802dc1ab_"),
    ),
    (
        "minhash_incremental",
        "ensure_minhash_bands",
        "roll_forward_minhash_bands",
        "documents",
    ): (
        ("_bks_mhbands_f665309a_",),
        ("_bks_mhbands_550de58f_",),
        ("_bks_mhbands_b8c00dd0_",),
    ),
    (
        "simhash_incremental",
        "ensure_simhash_counts",
        "roll_forward_simhash_counts",
        "documents",
    ): (
        ("_bks_shcounts_9260dcdc_",),
        ("_bks_shcounts_8fd0649a_",),
        ("_bks_shcounts_1c3b48b6_",),
    ),
    (
        "containment_incremental",
        "ensure_bottomk_probes",
        "roll_forward_bottomk_probes",
        "documents",
    ): (
        ("_bks_bkprobes_8d71665a_",),
        ("_bks_bkprobes_495bfba6_",),
        ("_bks_bkprobes_428629b0_",),
    ),
    (
        "embedding_incremental",
        "ensure_embedding_norms",
        "roll_forward_embedding_norms",
        "embeddings",
    ): (
        ("_bks_embnorms_aead60c3_",),
        ("_bks_embnorms_6eee649d_",),
        ("_bks_embnorms_6a1d3ca0_",),
    ),
    (
        "fingerprint_incremental",
        "ensure_phash_bands",
        "roll_forward_phash_bands",
        "documents",
    ): (
        ("_bks_phbands_5dc76f67_",),
        ("_bks_phbands_d6890ba5_",),
        ("_bks_phbands_8d879f80_",),
    ),
    (
        "audiohash_incremental",
        "ensure_audio_bands",
        "roll_forward_audio_bands",
        "documents",
    ): (
        ("_bks_aubands_2da57bf7_",),
        ("_bks_aubands_9020407b_",),
        ("_bks_aubands_b0d3d92b_",),
    ),
    (
        "videohash_incremental",
        "ensure_video_index",
        "roll_forward_video_index",
        "documents",
    ): (
        ("_bks_vidx_6aa9ebc2_", "_bks_vdf_6aa9ebc2_"),
        ("_bks_vidx_2c557b75_", "_bks_vdf_2c557b75_"),
        ("_bks_vidx_c2e77663_", "_bks_vdf_c2e77663_"),
    ),
    (
        "fuzzy_incremental",
        "ensure_fuzzy_prefixes",
        "roll_forward_fuzzy_prefixes",
        "documents",
    ): (
        ("_bks_fzpfx_7189056a_",),
        ("_bks_fzpfx_20a7982d_",),
        ("_bks_fzpfx_19e19ee5_",),
    ),
    (
        "substring_incremental",
        "ensure_span_counts",
        "roll_forward_span_counts",
        "documents",
    ): (
        ("_bks_sscounts_e945afa4_",),
        ("_bks_sscounts_faed46c1_",),
        ("_bks_sscounts_1ca9d81d_",),
    ),
    (
        "semantic_incremental",
        "ensure_semantic_assignments",
        "roll_forward_semantic_assignments",
        "embeddings",
    ): (
        ("_bks_semasg_6bcb233f_",),
        ("_bks_semasg_3b8598be_",),
        ("_bks_semasg_ad1bf64e_",),
    ),
}


def test_versioned_artifact_names_are_golden(spark, sf_dir):
    """Behavioural name pin for all 12 table families: the prefix + policy
    token of the build, the fold and a chained fold equal the golden
    strings, the suffix is the corpus signature of the family's source
    table, and the three versions never share a name. The chained fold's
    src is renamed to fixed table names first, so its src identity (which
    enters the token) does not depend on the fixture path's signature."""
    import importlib
    import shutil

    from broadway_kinesis_spark.functions.table_build import corpus_sig

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def tup(x):
        return x if isinstance(x, tuple) else (x,)

    def split(name):
        stem, sig = name.rsplit("_", 1)
        return stem + "_", sig

    for (mod, ens, rf, source), golden in _GOLDEN_NAMES.items():
        m = importlib.import_module(f"broadway_kinesis_spark.operators.{mod}")
        built = tup(getattr(m, ens)(spark, sf_dir, 400))
        rolled = tup(getattr(m, rf)(spark, sf_dir, 400, 450))
        fixed = tuple(f"golden_src_{i}_{rf}" for i in range(len(rolled)))
        for a, b in zip(rolled, fixed):
            spark.sql(f"DROP TABLE IF EXISTS {b}")
            shutil.rmtree(os.path.join(wh, b), ignore_errors=True)
            spark.sql(f"ALTER TABLE {a} RENAME TO {b}")
        try:
            chained = tup(
                getattr(m, rf)(
                    spark, sf_dir, 450, 500, src=fixed if len(fixed) > 1 else fixed[0]
                )
            )
        finally:
            for a, b in zip(rolled, fixed):
                spark.sql(f"ALTER TABLE {b} RENAME TO {a}")
        sig = corpus_sig(sf_dir, (source,))
        versions = (built, rolled, chained)
        for names, stems in zip(versions, golden, strict=True):
            assert tuple(split(n)[0] for n in names) == stems, (rf, names)
            assert all(split(n)[1] == sig for n in names), (rf, names)
        flat = [n for names in versions for n in names]
        assert len(set(flat)) == len(flat), (rf, flat)
