"""Streaming ingest into a persisted IVF index (SURVEY §2.K2 x H-family
— the live half of the ``ann_index`` build/add/search production
split).

``ivf_build`` runs off the hot path; ``ivf_add`` batch-appends.  This
sink keeps the index CURRENT as vectors stream in, with the engine's
exactly-once discipline — but an append-shaped store cannot reuse the
sibling monitors' idempotent-merge trick (their distinct/max folds
no-op on re-delivery; an append duplicates).  Exactly-once here comes
from the LAYOUT instead:

  * stream adds land in their own area ``vectors_stream/`` partitioned
    by ``(cell_id, _epoch)``, where ``_epoch`` is
    ``{generation}-{micro-batch epoch}``;
  * each micro-batch writes mode("overwrite") under dynamic
    partition-overwrite, touching ONLY its own (cell, epoch)
    partitions — a replayed epoch (crash between data write and the
    epoch-guard sidecar update, or a Structured Streaming retry)
    REWRITES byte-identical partitions instead of appending beside
    them.  The epoch guard then makes the common replay a cheap no-op;
    the overwrite makes the crash-window replay harmless;
  * cell_id stays the LEADING partition level, so the probe's dynamic
    partition pruning prunes the stream area exactly like the build
    area — search reads union both transparently.

Fresh-checkpoint contract (differs from the state monitors, on
purpose): a NEW checkpoint means Structured Streaming re-delivers the
source from scratch, and re-folding into an append-shaped store would
double every vector — so :meth:`IvfStreamIngest.start` RESETS the
stream area (build area untouched) and bumps ``generation``; the new
lineage rebuilds it.  The monitors instead keep state and no-op the
refold — their merges are idempotent by content; an append is not.

Centroids stay FROZEN during ingest (assignment is ``ivf_add``'s);
drift is watched by ``ivf_cell_stats`` (which also sees the stream
area) and resolved by an off-hot-path ``ivf_build`` rebuild — after
which the stream area is part of the rebuilt base and is cleared by
the next fresh-checkpoint start.  Reference parity: the same
continuous-ingest + periodic-compaction contract as the dedup band
indexes (`streaming/corpus_dedup.py`); reference models ingest state
only (`sql/init-db.sql`), the ANN layer is specified, not implemented,
there.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index_fs import get_index_fs
from ..operators.ann_index import (
    _STREAM_SUBDIR,
    _assign,
    _centroids,
    _load_meta,
)
from .state_backend import LocalFSBackend, StateBackend

class IvfStreamIngest:
    """foreachBatch sink appending assigned vectors into an existing
    IVF index's stream area, exactly-once by layout (module docstring).
    NULL / dimension-mismatched vectors are dropped — the index-wide
    dirty-input guard shared with build/add/search."""

    def __init__(self, index_dir: str, backend: StateBackend | None = None,
                 id_col: str = "vec_id", emb_col: str = "embedding"):
        self.index_dir = index_dir
        self.stream_dir = os.path.join(index_dir, _STREAM_SUBDIR)
        self.checkpoint_dir = os.path.join(index_dir, "_stream_checkpoints")
        self.backend = backend or LocalFSBackend()
        self.id_col = id_col
        self.emb_col = emb_col
        # reports from the most recent completion-hook maintenance run
        self.last_maintenance: dict | None = None

    # -- epoch-guard sidecar -------------------------------------------
    def _sidecar_path(self) -> str:
        return os.path.join(self.index_dir, "_stream_epoch.json")

    def _sidecar(self) -> dict:
        rec = get_index_fs().read_json(self._sidecar_path())
        return rec if rec is not None \
            else {"generation": 0, "last_epoch": -1}

    def _write_sidecar(self, rec: dict) -> None:
        get_index_fs().write_json_atomic(self._sidecar_path(), rec)

    def last_epoch(self) -> int:
        return self._sidecar()["last_epoch"]

    def generation(self) -> int:
        return self._sidecar()["generation"]

    # -- writes --------------------------------------------------------
    def process_batch(self, spark: SparkSession, vectors: DataFrame,
                      epoch_id: int | None = None) -> None:
        # LAZY checkpoint (the _monitor_base discipline, r16): the batch
        # is consumed at most twice — the emptiness probe's limit-1 scan,
        # then the assignment write, which materializes the cache as it
        # goes — so the eager form's dedicated materialization job per
        # micro-batch bought nothing
        vectors = vectors.localCheckpoint(eager=False)
        if vectors.isEmpty():
            return
        side = self._sidecar()
        epoch = side["last_epoch"] + 1 if epoch_id is None else int(epoch_id)
        if epoch <= side["last_epoch"]:
            return  # replayed micro-batch: its partitions are already live
        meta = _load_meta(self.index_dir)
        from ..operators.ann_index import _area_typed, _guarded

        v = _guarded(vectors, self.id_col,
                     _area_typed(F.col(self.emb_col), meta), meta["dim"])
        assigned = (
            _assign(v, _centroids(spark, self.index_dir))
            .withColumn("_epoch",
                        F.lit(f"{side['generation']}-{epoch}"))
        )
        # the write plans against the BATCH frame's session — inside
        # foreachBatch that is the micro-batch clone, not `spark`, and
        # a conf set on the outer session never reaches the clone's
        # writer (epoch N would then static-overwrite the whole area,
        # silently dropping every earlier epoch — caught by the E2E
        # test): always flip the conf on the owning session
        from ..operators.ann_index import _overwrite_mode

        with _overwrite_mode(vectors.sparkSession, "dynamic"):
            (
                assigned.repartition("cell_id")
                .write.mode("overwrite").partitionBy("cell_id", "_epoch")
                .parquet(self.stream_dir)
            )
        self._write_sidecar({"generation": side["generation"],
                             "last_epoch": epoch})

    def reset_stream_area(self) -> None:
        """Fresh-lineage reset: clear the stream area, bump generation
        (so any orphan partitions from a torn past lineage can never
        collide), restart the epoch guard."""
        side = self._sidecar()
        shutil.rmtree(self.stream_dir, ignore_errors=True)
        self._write_sidecar({"generation": side["generation"] + 1,
                             "last_epoch": -1})

    def run_maintenance(self, spark: SparkSession,
                        files_per_cell: float = 50.0,
                        max_balance_ratio: float = 3.0,
                        refresh_pq: bool = False) -> dict:
        """Run both OPERATIONS.md §11 policy triggers against this
        index — compaction first (folding the stream area shrinks what
        a subsequent rebalance must rewrite), then the skew check.
        Callable on its own, but the intended entry is the
        ``start(..., maintenance=...)`` completion hook, which
        guarantees the ops' ingest-stopped-cleanly contract.  Both
        triggers skip (never queue) under a held ``_rebalance.lock``
        and report honestly either way.

        ``refresh_pq=True`` closes the derived-store loop: when a PQ
        attachment exists and NO swap ran this cycle, the ingested
        epochs are re-synced incrementally (``ivf_refresh_pq`` —
        touched cells only), so quantized reads come back fresh the
        moment the drain completes.  After a swap (compact/rebalance)
        the attachment was dropped wholesale, so the refresh is
        skipped with that reason — re-attach (``ivf_attach_pq``,
        reusing the quantizer via ``pq_model_of`` captured BEFORE
        maintenance) is the operator's move there."""
        from ..operators.ann_index import maybe_compact, maybe_rebalance

        report = {
            "compact": maybe_compact(spark, self.index_dir,
                                     files_per_cell=files_per_cell),
            "rebalance": maybe_rebalance(
                spark, self.index_dir,
                max_balance_ratio=max_balance_ratio),
        }
        if refresh_pq:
            from ..operators.ann_index import _REBALANCE_MARKER
            from ..operators.ann_pq import _pq_dir, ivf_refresh_pq

            fs = get_index_fs()
            model_p = os.path.join(_pq_dir(self.index_dir), "model.json")
            if report["compact"]["ran"] or report["rebalance"]["ran"]:
                report["pq_refresh"] = {
                    "skipped": "swap-maintenance-dropped-attachment"}
            elif fs.exists(os.path.join(self.index_dir,
                                        _REBALANCE_MARKER)):
                # skip-never-raise, like the two pollers above — a
                # held claim (concurrent/crashed rebalance) must not
                # blow up the completion hook and lose the report
                report["pq_refresh"] = {"skipped": "rebalance-lock-held"}
            elif not fs.exists(model_p):
                report["pq_refresh"] = {"skipped": "no-attachment"}
            else:
                try:
                    report["pq_refresh"] = ivf_refresh_pq(
                        spark, self.index_dir)
                except Exception as e:  # noqa: BLE001 — contract below
                    # ANY refresh failure — a ValueError refusal
                    # (centroids rewritten in place by an ivf_build,
                    # format mismatch, racing mutation) or a
                    # Spark-side error (AnalysisException /
                    # Py4JJavaError from e.g. a corrupt codes
                    # partition) — is REPORTED, not raised: the hook's
                    # skip-never-raise contract must not lose the
                    # compact/rebalance report above (ADVICE r14); the
                    # attachment keeps refusing reads either way, so
                    # nothing is silently wrong
                    report["pq_refresh"] = {"skipped": str(e)}
        self.last_maintenance = report
        return report

    def start(self, spark: SparkSession, stream: DataFrame,
              available_now: bool = True,
              maintenance: dict | None = None):
        """Start the ingest query.  ``maintenance`` (VERDICT r13 task
        5) wires the tested policy triggers into the availableNow
        completion hook: pass ``{}`` for the documented defaults or
        ``{"files_per_cell": x, "max_balance_ratio": y}`` to tune.
        Requires ``available_now=True`` — the maintenance ops' contract
        is ingest STOPPED CLEANLY (sidecar committed), which an
        availableNow drain gives us by awaiting termination
        (foreachBatch is synchronous, so the last epoch's sidecar is
        committed when the query ends); a continuous trigger never
        stops on its own, so the hook refuses it rather than racing
        the swap.  Reports land in ``self.last_maintenance``."""
        if maintenance is not None and not available_now:
            raise ValueError(
                "IvfStreamIngest.start: maintenance hook requires "
                "available_now=True — compaction/rebalance must run "
                "with ingest stopped cleanly (the swap-vs-append "
                "contract); poll run_maintenance between restarts of "
                "a continuous ingest instead")
        if not self.backend.checkpoint_established(self.checkpoint_dir):
            self.reset_stream_area()  # new lineage re-delivers the source
        writer = (
            stream.writeStream.queryName("ivf-stream-ingest")
            .option("checkpointLocation", self.checkpoint_dir)
            .foreachBatch(lambda b, e: self.process_batch(spark, b, e))
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        if maintenance is not None:
            query.awaitTermination()
            self.run_maintenance(spark, **maintenance)
        return query
