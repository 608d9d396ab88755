"""One-call corpus version roll-forward — the daily loop's maintenance
step across EVERY persisted artifact family (round 11, session 3).

After the ingest gate accepts a delta, a production loop must advance
every channel's version-N artifact to version N+1 before the next delta
arrives. The per-family folds exist (each channel module ships its
``roll_forward_*``, every one pinned by a fold==scratch table-equality
fence and a probe-on-rolled fence); this module is the orchestration
that a daily job actually calls:

- :func:`roll_forward_corpus` folds the accepted delta
  ``[boundary_n, boundary_n1)`` into ALL families (or a named subset)
  and returns the full version-N+1 artifact map; with ``prior`` it
  CHAINS — each family folds onto its own previous artifact instead of
  a from-scratch version-N build (round 13: the loop no longer pays a
  daily rebuild); with ``compact=True`` each rolled table passes the
  fragmentation trigger (the streaming stores' compaction discipline
  applied to the warehouse — see ``versioned_fold.compact_table``);
  with ``recall_floor`` the IVF drift gate runs INSIDE the loop
  (measure → retrain → swap → vacuum, zero by-hand steps);
- :func:`vacuum_superseded` then applies the retention idiom per family
  — family-scoped ``vacuum_warehouse`` with the rolled names (and their
  still-serving version-N inputs) as exact pins — dropping every older
  table-backed version in one pass.

Families are REGISTERED from their specs: each table family is one
``versioned_fold.VersionedArtifact``, which already states its
name-prefixes, id space and compaction spec, so :func:`_families` only
lists the specs — plus the two folds with their own protocol: the split
labels (a fold REWRITES touched components instead of appending) and the
IVF directory index. Adding a channel is one entry, and the orchestrator
can never silently skip a family: the e2e fence
(tests/test_round11_s3_channels.py) asserts every spec and every
hand-written ``roll_forward_*`` under ``operators/`` is registered. The
IVF family is the one non-table artifact (a directory index under a
deterministic per-corpus location with its own staging-rename atomicity
and idempotence); it folds with everything else but is vacuumed by its
own NAME-derived retention (`ann_incremental.vacuum_ivf_versions` —
digest-named dirs cannot be safely prefix-listed), not the warehouse
protocol.

Correctness burden stays with the per-family fences (equality proofs
live next to each fold); the orchestrator's own fences prove COVERAGE
(no exported fold missing from the registry), the artifact map's
existence, and the one-pass retention behavior.

Reference parity: [TGT] — engine extension (SURVEY §2.B infra family).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import SparkSession

from broadway_kinesis_spark.functions.table_build import vacuum_warehouse
from broadway_kinesis_spark.functions.versioned_fold import VersionedArtifact


@dataclass(frozen=True)
class _HandWrittenFold:
    """A family outside the ``VersionedArtifact`` spec, with the spec's
    registry interface. The split labels REWRITE touched components on
    every fold (so compaction is inherent); the IVF family is a directory
    index (module docstring), bounded by the drift-triggered retrain."""

    name: str
    roll_forward: Callable
    prefixes: tuple[str, ...]
    vec_keyed: bool = False

    def compact(
        self,
        spark: SparkSession,
        tables: tuple[str, ...],
        max_data_files: int | None = None,
    ) -> tuple[str, ...]:
        return tables


def _families() -> list[VersionedArtifact | _HandWrittenFold]:
    # imports are local so loading this module never drags every channel
    # module (and its inline-twin registration) into an unrelated session
    from broadway_kinesis_spark.operators import (
        ann_incremental,
        audiohash_incremental,
        containment_incremental,
        embedding_incremental,
        fingerprint_incremental,
        fuzzy_incremental,
        incremental_batch,
        minhash_incremental,
        semantic_incremental,
        simhash_incremental,
        split_incremental,
        substring_incremental,
        videohash_incremental,
    )

    return [
        incremental_batch.DIGESTS,
        incremental_batch.NGRAM_INDEX,
        minhash_incremental.MINHASH_BANDS,
        simhash_incremental.SIMHASH_COUNTS,
        containment_incremental.BOTTOMK_PROBES,
        embedding_incremental.EMBEDDING_NORMS,
        fingerprint_incremental.PHASH_BANDS,
        audiohash_incremental.AUDIO_BANDS,
        videohash_incremental.VIDEO_INDEX,
        fuzzy_incremental.FUZZY_PREFIXES,
        substring_incremental.SPAN_COUNTS,
        semantic_incremental.SEMANTIC_ASSIGNMENTS,
        _HandWrittenFold(
            "split_labels",
            split_incremental.roll_forward_split_labels,
            ("_bks_split_labels_",),
        ),
        _HandWrittenFold(
            "ivf_index", ann_incremental.roll_forward_ivf_index, (), vec_keyed=True
        ),
    ]


def family_names() -> list[str]:
    return [f.name for f in _families()]


def roll_forward_corpus(
    spark: SparkSession,
    sf_dir: str,
    boundary_n: int,
    boundary_n1: int,
    families: set[str] | None = None,
    vec_boundary_n: int | None = None,
    vec_boundary_n1: int | None = None,
    prior: dict[str, tuple[str, ...]] | None = None,
    compact: bool = False,
    max_data_files: int | None = None,
    recall_floor: float | None = None,
    drift_report: dict | None = None,
) -> dict[str, tuple[str, ...]]:
    """Fold the accepted delta into version N's artifacts for every
    registered family (or the named subset) and return
    ``{family: (artifact name(s)/dir,)}`` — the complete version-N+1
    warehouse map a daily job records. Each fold is idempotent and
    version-keyed by its own module (a fold can never shadow a
    from-scratch build), so re-running after a partial failure resumes
    where it stopped. Vec-keyed families (embeddings-table boundaries)
    take the ``vec_boundary_*`` pair when given — a deployment's vector
    and document id spaces advance independently; the fixture's shared id
    range is why the defaults fall back to the document boundaries.

    **Chaining (round 13)**: ``prior`` is yesterday's returned map — each
    family folds onto ITS OWN previous artifact (fold-on-fold) instead of
    a from-scratch version-N build, which is what makes this a daily loop
    rather than a daily rebuild. Families absent from ``prior`` fall back
    to the from-scratch base (a new channel joining an existing loop).

    **Compaction (round 13, VERDICT r12 weak #1)**: with ``compact=True``
    each family's rolled tables pass through
    ``versioned_fold.compact_if_fragmented_table`` — once a K-times-folded
    table exceeds ``max_data_files`` data files (each fold appends exactly
    one file set, and for merge-on-read families at most one segment per
    key), it is rewritten as a from-scratch-SHAPED table and the
    COMPACTED name lands in the returned map, so tomorrow's fold chains
    onto the compacted base. Per-fold read cost over an unbounded chain
    is therefore bounded by the trigger, and the rewrite amortizes over
    the folds between triggers — ``streaming/maintenance.py``'s discipline
    applied to the warehouse.

    **Drift gate (round 13, VERDICT r12 #2)**: with ``recall_floor`` set
    and the IVF family in scope, the loop measures the ROLLED index's
    recall (``ann_incremental.rolled_recall`` against exact search over
    the indexed population) and, when ``should_retrain`` fires, executes
    the retrain inside the loop: fresh quantizer over the accumulated
    corpus (``ensure_version_index`` at the new boundary), the RETRAINED
    directory replaces the fold in the returned map, and the superseded
    fold is vacuumed. ``drift_report`` (a caller-supplied dict) receives
    ``{"recall": float, "retrained": bool, "index_dir": str}`` for the
    job's telemetry."""
    vb_n = boundary_n if vec_boundary_n is None else vec_boundary_n
    vb_n1 = boundary_n1 if vec_boundary_n1 is None else vec_boundary_n1
    out: dict[str, tuple[str, ...]] = {}
    for fam in _families():
        if families is not None and fam.name not in families:
            continue
        b_n, b_n1 = (vb_n, vb_n1) if fam.vec_keyed else (boundary_n, boundary_n1)
        src = None
        if prior is not None and fam.name in prior:
            arts = prior[fam.name]
            src = arts if len(arts) > 1 else arts[0]
        rolled = fam.roll_forward(spark, sf_dir, b_n, b_n1, src=src)
        arts_out = rolled if isinstance(rolled, tuple) else (rolled,)
        if compact:
            arts_out = fam.compact(spark, arts_out, max_data_files)
        out[fam.name] = arts_out
    if recall_floor is not None and "ivf_index" in out:
        from broadway_kinesis_spark.operators.ann_incremental import (
            ensure_version_index,
            rolled_recall,
            should_retrain,
            vacuum_ivf_paths,
        )

        rolled_dir = out["ivf_index"][0]
        recall = rolled_recall(spark, sf_dir, rolled_dir, vb_n1)
        retrained = should_retrain(recall, recall_floor)
        if retrained:
            fresh = ensure_version_index(spark, sf_dir, vb_n1)
            vacuum_ivf_paths((rolled_dir,))
            out["ivf_index"] = (fresh,)
        if drift_report is not None:
            drift_report.update(
                recall=recall,
                retrained=retrained,
                index_dir=out["ivf_index"][0],
            )
    return out


def day_close(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str,
    boundary_n: int,
    families: set[str] | None = None,
    vec_boundary_n: int | None = None,
    vec_boundary_n1: int | None = None,
    prior: dict[str, tuple[str, ...]] | None = None,
    compact: bool = False,
    max_data_files: int | None = None,
    recall_floor: float | None = None,
    drift_report: dict | None = None,
) -> tuple[int, dict[str, tuple[str, ...]]]:
    """Close a streaming day into the batch warehouse (round 12, VERDICT
    r11 #4): the streaming ingest gate (streaming/ingest_gate.py) has
    been gating micro-batches all day against its own state stores; at
    day close, the day's ingested documents must fold into the warehouse
    version-N artifacts so tomorrow's batch loop — and tomorrow's gate
    restart — serve version N+1.

    The bridge's contract: the gate's DISPOSITIONS log is the day's
    ledger (one row per ingested doc, accepted or not — the gate keeps
    every arrival's disposition), and the warehouse folds the CANONICAL
    document rows for exactly that id range. Ids are globally unique and
    arrival-ordered (the gate's own streaming contract), so the day's
    ingest is the contiguous range ``[boundary_n, max_ingested + 1)`` —
    asserted, not assumed: a dispositions id below ``boundary_n`` means
    the gate and the warehouse disagree about what version N already
    holds, and folding would double-count it.

    Returns ``(boundary_n1, rolled_map)`` — the advanced boundary and the
    full version-N+1 artifact map of :func:`roll_forward_corpus`. The
    from-scratch equivalence fence (stream N micro-batches → day_close →
    ``pipeline_daily_increment`` on day D+1 over the folds == over
    scratch builds) lives in tests/test_round12_ops.py.

    The chained-loop knobs pass straight through to
    :func:`roll_forward_corpus` (round 13): ``prior`` chains this day's
    folds onto yesterday's map, ``compact`` applies the fragmentation
    trigger to each rolled table, and ``recall_floor`` runs the IVF drift
    gate (measure → retrain → swap → vacuum) inside the close — the full
    daily loop with zero by-hand steps."""
    import os

    disp_path = os.path.join(state_dir, "dispositions.parquet")
    if not os.path.exists(disp_path):
        raise FileNotFoundError(
            f"no dispositions log under {state_dir} — nothing was ingested"
        )
    from pyspark.sql import functions as F

    bounds = (
        spark.read.parquet(disp_path)
        .agg(
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )  # one-row collect: the day's id range IS driver-side control data
    if bounds.n == 0:
        return boundary_n, {}
    if bounds.lo < boundary_n:
        raise ValueError(
            f"dispositions contain doc_id {bounds.lo} below the warehouse "
            f"version-N boundary {boundary_n} — gate state and warehouse "
            "version disagree; refusing to double-fold"
        )
    boundary_n1 = int(bounds.hi) + 1
    rolled = roll_forward_corpus(
        spark,
        sf_dir,
        boundary_n,
        boundary_n1,
        families=families,
        vec_boundary_n=vec_boundary_n,
        vec_boundary_n1=vec_boundary_n1,
        prior=prior,
        compact=compact,
        max_data_files=max_data_files,
        recall_floor=recall_floor,
        drift_report=drift_report,
    )
    return boundary_n1, rolled


def vacuum_superseded(
    spark: SparkSession,
    rolled: dict[str, tuple[str, ...]],
    also_retain: tuple[str, ...] = (),
    dry_run: bool = False,
) -> list[str]:
    """The retention idiom over a :func:`roll_forward_corpus` result:
    for every family WITH warehouse prefixes, drop all table versions
    except the rolled artifacts (+ ``also_retain`` — typically the
    version-N inputs still serving until N+1 is blessed). Families in
    ``rolled`` that the registry does not know are an error, not a skip
    (a typo must not silently retain-nothing a family). The IVF
    directory index is never touched here (module docstring)."""
    by_name = {f.name: f for f in _families()}
    unknown = sorted(set(rolled) - set(by_name))
    if unknown:
        raise KeyError(f"unknown artifact families: {unknown}")
    dropped: list[str] = []
    for name, artifacts in rolled.items():
        fam = by_name[name]
        if not fam.prefixes:
            continue
        keep = tuple(artifacts) + tuple(also_retain)
        for prefix in fam.prefixes:
            dropped.extend(
                vacuum_warehouse(
                    spark,
                    prefix=prefix,
                    retain_tokens=set(),
                    retain_names=keep,
                    dry_run=dry_run,
                )
            )
    return dropped
