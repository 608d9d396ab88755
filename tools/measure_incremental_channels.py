#!/usr/bin/env python
"""Scale rows for the round-11 embedding/fingerprint incremental channels.

Usage: python tools/measure_incremental_channels.py <corpus_dir> <label> [sections]
       (e.g. /tmp/sf_fresh_x10 x10 emb,ph,ivf — default all)

Per channel, at a 90/10 old/delta boundary on the fresh corpus
(tools/make_fresh_corpus.py — replication-free, sparse planted dups):

- one-time version-N artifact build (the cost a daily loop pays once);
- the delta probe (the steady-state serving cost);
- the full from-scratch comparator: the same kernel at boundary=0
  (everything is delta, stored side empty — exactly the inline channel's
  work, which for embeddings is the one shared chunked cosine kernel,
  ``dedup.cosine_candidates``, with every row a delta: block²; full
  decode + banded self-join for fingerprints);
- the roll-forward fold (N-1 -> N, delta-bounded) vs the from-scratch
  version-N build already timed.

The embedding channel measures at threshold 0.99 — the per-corpus ridge
discipline (BASELINE.md round-7 split lesson: on clustered embeddings the
fixture's 0.35 reports topic MEMBERSHIP; the fresh corpus plants ~0.5%
near-identical pairs that sit above 0.99 while the topic background sits
far below it). The fingerprint channel keeps HAM_T (Hamming budgets are
structural, not density-tuned).

Prints one JSON line; rows land in BASELINE.md §round-11.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from broadway_kinesis_spark.operators.embedding_incremental import (  # noqa: E402
    ensure_embedding_norms,
    incremental_embedding_pairs,
    roll_forward_embedding_norms,
)
from broadway_kinesis_spark.operators.fingerprint_incremental import (  # noqa: E402
    ensure_phash_bands,
    incremental_phash_pairs,
    roll_forward_phash_bands,
)
from broadway_kinesis_spark.session import build_session  # noqa: E402

EMB_T = 0.99  # per-corpus near-identical ridge for the fresh corpus


def emit(out) -> None:
    """Crash-safe running emit: one JSON line per completed section —
    the LAST line is the current total, so a later section's failure
    (e.g. disk exhaustion in the gate's evidence build) cannot lose
    the earlier sections' timings (learned the hard way at x100)."""
    print(json.dumps(out), flush=True)


def timed(fn):
    t0 = time.monotonic()
    out = fn()
    return round(time.monotonic() - t0, 1), out


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf_fresh_x10"
    label = sys.argv[2] if len(sys.argv) > 2 else "x?"
    sections = (sys.argv[3] if len(sys.argv) > 3 else "emb,ph,ivf").split(",")
    spark = build_session(app_name="incr-channels-measure")
    out: dict = {"corpus": corpus, "label": label, "loadavg1": os.getloadavg()[0]}

    n_vecs = spark.read.parquet(os.path.join(corpus, "embeddings.parquet")).count()
    b90, b80 = int(n_vecs * 0.9), int(n_vecs * 0.8)

    if "ivf" in sections:
        # frozen-quantizer fold vs FULL retrain (build_ivf_index over the
        # whole corpus into a fresh dir)
        import shutil
        import tempfile

        from broadway_kinesis_spark.operators.ann_incremental import (
            _dir,
            ensure_version_index,
            roll_forward_ivf_index,
        )
        from broadway_kinesis_spark.operators.ann_persist import (
            build_ivf_index,
            probe_ivf_index,
        )

        # fresh timings: the index dirs are deterministic and idempotent,
        # so a prior run's artifacts would zero the build/fold numbers
        shutil.rmtree(_dir(corpus, f"v{b90}"), ignore_errors=True)
        shutil.rmtree(_dir(corpus, f"rf-v{b90}-vNone"), ignore_errors=True)
        out["ivf_n"] = n_vecs
        out["ivf_vn_build_s"], _ = timed(
            lambda: ensure_version_index(spark, corpus, b90)
        )
        out["ivf_fold_s"], rolled = timed(
            lambda: roll_forward_ivf_index(spark, corpus, b90, None)
        )
        retrain_dir = os.path.join(tempfile.gettempdir(), f"bks_ivf_retrain_{label}")
        shutil.rmtree(retrain_dir, ignore_errors=True)
        out["ivf_retrain_s"], _ = timed(
            lambda: build_ivf_index(spark, corpus, retrain_dir)
        )
        out["ivf_probe_rolled_s"], out["ivf_probe_rows"] = timed(
            lambda: probe_ivf_index(spark, corpus, rolled).count()
        )

    emit(out)
    if "emb" in sections:
        out["emb_n"] = n_vecs
        out["emb_build_s"], _ = timed(
            lambda: ensure_embedding_norms(spark, corpus, b90)
        )
        out["emb_probe_s"], out["emb_probe_pairs"] = timed(
            lambda: incremental_embedding_pairs(
                spark, corpus, b90, threshold=EMB_T
            ).count()
        )
        out["emb_full_s"], out["emb_full_pairs"] = timed(
            lambda: incremental_embedding_pairs(
                spark, corpus, 0, threshold=EMB_T
            ).count()
        )
        ensure_embedding_norms(spark, corpus, b80)  # version N-1, untimed
        out["emb_fold_s"], _ = timed(
            lambda: roll_forward_embedding_norms(spark, corpus, b80, b90)
        )

    emit(out)
    if "mh" in sections:
        from broadway_kinesis_spark.operators.minhash_incremental import (
            ensure_minhash_bands,
            incremental_minhash_pairs,
            roll_forward_minhash_bands,
        )

        n_docs = spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).count()
        d90, d80 = int(n_docs * 0.9), int(n_docs * 0.8)
        out["mh_n"] = n_docs
        out["mh_build_s"], _ = timed(
            lambda: ensure_minhash_bands(spark, corpus, d90)
        )
        out["mh_probe_s"], out["mh_probe_pairs"] = timed(
            lambda: incremental_minhash_pairs(spark, corpus, d90).count()
        )
        out["mh_full_s"], out["mh_full_pairs"] = timed(
            lambda: incremental_minhash_pairs(spark, corpus, 0).count()
        )
        ensure_minhash_bands(spark, corpus, d80)  # version N-1, untimed
        out["mh_fold_s"], _ = timed(
            lambda: roll_forward_minhash_bands(spark, corpus, d80, d90)
        )

    emit(out)
    if "ct" in sections:
        from broadway_kinesis_spark.operators.containment_incremental import (
            ensure_bottomk_probes,
            incremental_containment_pairs,
            roll_forward_bottomk_probes,
        )
        from broadway_kinesis_spark.operators.incremental_batch import (
            ensure_ngram_index,
        )

        n_docs = spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).count()
        d90, d80 = int(n_docs * 0.9), int(n_docs * 0.8)
        out["ct_n"] = n_docs
        # idx/DF are the ngram channel's artifacts, shared — timed here as
        # the channel's one-time cost even though a pipeline running both
        # channels pays it once total
        out["ct_idx_build_s"], _ = timed(
            lambda: ensure_ngram_index(spark, corpus, d90)
        )
        out["ct_probes_build_s"], _ = timed(
            lambda: ensure_bottomk_probes(spark, corpus, d90)
        )
        out["ct_probe_s"], out["ct_probe_pairs"] = timed(
            lambda: incremental_containment_pairs(spark, corpus, d90).count()
        )
        out["ct_full_s"], out["ct_full_pairs"] = timed(
            lambda: incremental_containment_pairs(spark, corpus, 0).count()
        )
        ensure_bottomk_probes(spark, corpus, d80)  # version N-1, untimed
        out["ct_fold_s"], _ = timed(
            lambda: roll_forward_bottomk_probes(spark, corpus, d80, d90)
        )

    emit(out)
    if "sim" in sections:
        from broadway_kinesis_spark.operators.simhash_incremental import (
            ensure_simhash_counts,
            incremental_simhash_rows,
            roll_forward_simhash_counts,
        )

        n_docs = spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).count()
        d90, d80 = int(n_docs * 0.9), int(n_docs * 0.8)
        out["sim_n"] = n_docs
        out["sim_build_s"], _ = timed(
            lambda: ensure_simhash_counts(spark, corpus, d90)
        )
        out["sim_probe_s"], out["sim_probe_rows"] = timed(
            lambda: incremental_simhash_rows(spark, corpus, d90).count()
        )
        out["sim_full_s"], out["sim_full_rows"] = timed(
            lambda: incremental_simhash_rows(spark, corpus, 0).count()
        )
        ensure_simhash_counts(spark, corpus, d80)  # version N-1, untimed
        out["sim_fold_s"], _ = timed(
            lambda: roll_forward_simhash_counts(spark, corpus, d80, d90)
        )

    emit(out)
    if "ph" in sections:
        n_docs = spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).count()
        d90, d80 = int(n_docs * 0.9), int(n_docs * 0.8)
        out["ph_n"] = n_docs
        out["ph_build_s"], _ = timed(lambda: ensure_phash_bands(spark, corpus, d90))
        out["ph_probe_s"], out["ph_probe_pairs"] = timed(
            lambda: incremental_phash_pairs(spark, corpus, d90).count()
        )
        out["ph_full_s"], out["ph_full_pairs"] = timed(
            lambda: incremental_phash_pairs(spark, corpus, 0).count()
        )
        ensure_phash_bands(spark, corpus, d80)  # version N-1, untimed
        out["ph_fold_s"], _ = timed(
            lambda: roll_forward_phash_bands(spark, corpus, d80, d90)
        )

    emit(out)
    if "fz" in sections or "fzp" in sections:
        # "fzp" = probe-only: at x100 the exhaustive full comparator is the
        # channel's documented blocking-key wall (~3.4 h extrapolated,
        # BASELINE.md round-8) — running the probe against that documented
        # number beats silently burning hours re-measuring it.
        from broadway_kinesis_spark.operators.fuzzy_incremental import (
            ensure_fuzzy_prefixes,
            incremental_fuzzy_pairs,
            roll_forward_fuzzy_prefixes,
        )

        n_docs = spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).count()
        d90, d80 = int(n_docs * 0.9), int(n_docs * 0.8)
        out["fz_n"] = n_docs
        out["fz_build_s"], _ = timed(
            lambda: ensure_fuzzy_prefixes(spark, corpus, d90)
        )
        out["fz_probe_s"], out["fz_probe_pairs"] = timed(
            lambda: incremental_fuzzy_pairs(spark, corpus, d90).count()
        )
        # round-12: the TIGHT first-token blocking tier wired into the
        # probe (VERDICT r11 #2) — same artifact, (blk, tok0) join key;
        # recall priced by composite_fuzzy_blocking_recall
        out["fz_probe_tight_s"], out["fz_probe_tight_pairs"] = timed(
            lambda: incremental_fuzzy_pairs(spark, corpus, d90, tight=True).count()
        )
        if "fz" in sections:
            out["fz_full_s"], out["fz_full_pairs"] = timed(
                lambda: incremental_fuzzy_pairs(spark, corpus, 0).count()
            )
        else:
            out["fz_full_s"] = "skipped: exhaustive block-quadratic wall (BASELINE.md r8)"
        ensure_fuzzy_prefixes(spark, corpus, d80)  # version N-1, untimed
        out["fz_fold_s"], _ = timed(
            lambda: roll_forward_fuzzy_prefixes(spark, corpus, d80, d90)
        )

    emit(out)
    if "sem" in sections:
        from broadway_kinesis_spark.operators.semantic import SEM_K
        from broadway_kinesis_spark.operators.semantic_incremental import (
            ensure_semantic_assignments,
            incremental_semantic_rows,
            roll_forward_semantic_assignments,
        )

        b90v, b80v = int(n_vecs * 0.9), int(n_vecs * 0.8)
        out["sem_n"] = n_vecs
        out["sem_build_s"], _ = timed(
            lambda: ensure_semantic_assignments(spark, corpus, b90v)
        )
        out["sem_probe_s"], out["sem_probe_rows"] = timed(
            lambda: incremental_semantic_rows(
                spark, corpus, b90v, threshold=EMB_T
            ).count()
        )
        # full comparator: boundary = SEM_K (version N = the seed rows
        # alone), so 99.99% of the corpus is delta — boundary 0 would
        # leave the frozen quantizer with no seeds to freeze.
        out["sem_full_s"], out["sem_full_rows"] = timed(
            lambda: incremental_semantic_rows(
                spark, corpus, SEM_K, threshold=EMB_T
            ).count()
        )
        ensure_semantic_assignments(spark, corpus, b80v)  # N-1, untimed
        out["sem_fold_s"], _ = timed(
            lambda: roll_forward_semantic_assignments(spark, corpus, b80v, b90v)
        )

    emit(out)
    if "au" in sections:
        from broadway_kinesis_spark.operators.audiohash_incremental import (
            ensure_audio_bands,
            incremental_audio_pairs,
            roll_forward_audio_bands,
        )

        n_docs = spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).count()
        d90, d80 = int(n_docs * 0.9), int(n_docs * 0.8)
        out["au_n"] = n_docs
        out["au_build_s"], _ = timed(
            lambda: ensure_audio_bands(spark, corpus, d90)
        )
        out["au_probe_s"], out["au_probe_pairs"] = timed(
            lambda: incremental_audio_pairs(spark, corpus, d90).count()
        )
        out["au_full_s"], out["au_full_pairs"] = timed(
            lambda: incremental_audio_pairs(spark, corpus, 0).count()
        )
        ensure_audio_bands(spark, corpus, d80)  # version N-1, untimed
        out["au_fold_s"], _ = timed(
            lambda: roll_forward_audio_bands(spark, corpus, d80, d90)
        )

    emit(out)
    if "vid" in sections:
        from broadway_kinesis_spark.operators.videohash_incremental import (
            ensure_video_index,
            incremental_video_pairs,
            roll_forward_video_index,
        )

        n_docs = spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).count()
        d90, d80 = int(n_docs * 0.9), int(n_docs * 0.8)
        out["vid_n"] = n_docs
        out["vid_build_s"], _ = timed(
            lambda: ensure_video_index(spark, corpus, d90)
        )
        out["vid_probe_s"], out["vid_probe_pairs"] = timed(
            lambda: incremental_video_pairs(spark, corpus, d90).count()
        )
        out["vid_full_s"], out["vid_full_pairs"] = timed(
            lambda: incremental_video_pairs(spark, corpus, 0).count()
        )
        ensure_video_index(spark, corpus, d80)  # version N-1, untimed
        out["vid_fold_s"], _ = timed(
            lambda: roll_forward_video_index(spark, corpus, d80, d90)
        )

    emit(out)
    if "ss" in sections:
        from broadway_kinesis_spark.operators.substring_incremental import (
            ensure_span_counts,
            incremental_substring_rows,
            roll_forward_span_counts,
        )

        n_docs = spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).count()
        d90, d80 = int(n_docs * 0.9), int(n_docs * 0.8)
        out["ss_n"] = n_docs
        out["ss_build_s"], _ = timed(
            lambda: ensure_span_counts(spark, corpus, d90)
        )
        out["ss_probe_s"], out["ss_probe_rows"] = timed(
            lambda: incremental_substring_rows(spark, corpus, d90).count()
        )
        out["ss_full_s"], out["ss_full_rows"] = timed(
            lambda: incremental_substring_rows(spark, corpus, 0).count()
        )
        ensure_span_counts(spark, corpus, d80)  # version N-1, untimed
        out["ss_fold_s"], _ = timed(
            lambda: roll_forward_span_counts(spark, corpus, d80, d90)
        )

    emit(out)
    if "gate" in sections:
        # the composed daily ingest gate: one-time artifacts = digest
        # table + minhash band table + split evidence/labels (the heavy
        # third is the tiered evidence build, measured per-channel in the
        # round-11 split rows); serving = the chained delta disposition.
        from broadway_kinesis_spark.operators.daily_increment import (
            daily_increment_rows,
        )
        from broadway_kinesis_spark.operators.incremental_batch import (
            ensure_corpus_digests,
        )
        from broadway_kinesis_spark.operators.minhash_incremental import (
            ensure_minhash_bands,
        )
        from broadway_kinesis_spark.operators.split_incremental import (
            ensure_split_labels,
        )

        n_docs = spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).count()
        d90 = int(n_docs * 0.9)
        out["gate_n"] = n_docs
        out["gate_artifacts_s"], _ = timed(
            lambda: (
                ensure_corpus_digests(spark, corpus, d90),
                ensure_minhash_bands(spark, corpus, d90),
                ensure_split_labels(spark, corpus, d90),
            )
        )
        out["gate_serve_s"], out["gate_rows"] = timed(
            lambda: daily_increment_rows(spark, corpus, d90).count()
        )

    emit(out)
    if "ivfdrift" in sections:
        # round-12 (VERDICT r11 #3): recall of a k-times-ROLLED index vs
        # exact search over the indexed population, after each fold — the
        # drift measurement + should_retrain trigger on the fresh
        # clustered corpus (5 folds of 2% each over the last decile).
        import shutil

        from broadway_kinesis_spark.operators.ann_incremental import (
            _dir,
            ensure_version_index,
            fold_ivf_index,
            rolled_recall,
            should_retrain,
        )

        b90 = int(n_vecs * 0.9)
        steps = [b90 + int(n_vecs * 0.02) * i for i in range(1, 5)] + [n_vecs]
        for i in range(1, len(steps) + 1):
            shutil.rmtree(_dir(corpus, f"drift-step{i}"), ignore_errors=True)
        cur = ensure_version_index(spark, corpus, b90)
        out["ivfdrift_recall_v0"] = round(rolled_recall(spark, corpus, cur, b90), 4)
        lo = b90
        for i, hi in enumerate(steps, start=1):
            cur = fold_ivf_index(
                spark, corpus, cur, lo, hi, tag=f"drift-step{i}"
            )
            r = rolled_recall(spark, corpus, cur, hi)
            out[f"ivfdrift_recall_fold{i}"] = round(r, 4)
            out[f"ivfdrift_retrain_fold{i}"] = should_retrain(r, 0.9)
            lo = hi

    print(json.dumps(out))


if __name__ == "__main__":
    main()
