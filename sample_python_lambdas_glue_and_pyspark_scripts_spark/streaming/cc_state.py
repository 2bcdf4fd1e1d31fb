"""Streaming connected-components label state — the incremental-CC
(`operators/clustering.py::extend_components`) daily-crawl maintenance
op wired into the per-epoch state-dir pattern of the streaming sketch
family (sketch_state.py precedent).

Layout (one dir per micro-batch epoch, every write an own-dir
overwrite — the replay-idempotent pattern):

- ``cc_edges/batch_id=N/`` — epoch N's new edge deltas (the new↔new and
  new↔corpus pairs an LSH/prefix index probe produced for that batch),
  kept so retraction and audits can replay history.
- ``cc_labels/batch_id=N/`` — the FULL labeling after epoch N:
  ``extend_components(labels[N-1], edges[N])``. Labels are DERIVED
  state: epoch N's snapshot is a deterministic function of snapshot N-1
  and delta N, so a replayed epoch rewrites byte-identical content
  (idempotent by determinism, not just by layout), and
  ``extend ≡ rebuild`` (the pinned law of extend_components) gives
  batch↔stream parity: the live labeling always equals a from-scratch
  ``connected_components`` over every edge the stream has seen.

Why snapshots rather than folding at read: the delta CC is
O(new edges + touched components) per epoch, and serving reads ONE
parquet dir — the read never grows with stream length. Old components
no delta touches never shuffle (extend_components contract), so the
per-epoch cost tracks the delta, not the corpus.

Retraction (``state_retraction.retract_from_cc_state``, routed through
``operators.retraction.retract_doc_ids(cc_state=...)``): retracted
VERTEX ids have their edges anti-joined out of every hit edge epoch,
then label snapshots rebuild forward from the earliest hit — forward
rebuild is required (not an anti-join on labels) because removing a
bridge vertex SPLITS components, and extend can only merge; the
rebuilt state equals the state of a history that never saw the vertex
(pinned by test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.clustering import extend_components

_CC_EDGES_SCHEMA = "a bigint, b bigint"
_CC_LABELS_SCHEMA = "id bigint, cluster_id bigint"


def _committed_epochs(spark: SparkSession, table_dir: str) -> list[int]:
    from .state_retraction import list_state_epochs

    return list_state_epochs(spark, table_dir)


def _labels_at(spark: SparkSession, work_dir: str, epoch: int) -> DataFrame:
    return spark.read.schema(_CC_LABELS_SCHEMA).parquet(
        f"{work_dir}/cc_labels/batch_id={epoch}"
    )


def _empty_labels(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], _CC_LABELS_SCHEMA)


def make_cc_batch_fn(work_dir: str, src: str = "a", dst: str = "b"):
    """Per-micro-batch callback over an edge-pair stream: write the
    epoch's edge delta, then the epoch's label snapshot = delta CC
    against the newest PRIOR snapshot (strictly below this batch_id, so
    a replay under a later head re-derives exactly what it derived the
    first time)."""

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        edges = (
            batch_df.select(
                F.col(src).cast("bigint").alias("a"),
                F.col(dst).cast("bigint").alias("b"),
            )
            .where(F.col("a").isNotNull() & F.col("b").isNotNull())
            .distinct()
        )
        edges.write.mode("overwrite").parquet(
            f"{work_dir}/cc_edges/batch_id={batch_id}"
        )
        prior = [
            e
            for e in _committed_epochs(spark, f"{work_dir}/cc_labels")
            if e < batch_id
        ]
        prev = (
            _labels_at(spark, work_dir, max(prior))
            if prior
            else _empty_labels(spark)
        )
        delta = spark.read.schema(_CC_EDGES_SCHEMA).parquet(
            f"{work_dir}/cc_edges/batch_id={batch_id}"
        )
        labels = extend_components(prev, delta, src="a", dst="b")
        labels.write.mode("overwrite").parquet(
            f"{work_dir}/cc_labels/batch_id={batch_id}"
        )

    return batch_fn


def read_cc_state(spark: SparkSession, work_dir: str) -> DataFrame:
    """The labeling after the newest committed epoch — equal, by the
    extend ≡ rebuild law, to ``connected_components`` over every edge
    the stream has seen (batch↔stream parity, pinned by test).
    Empty-but-valid before the first commit."""
    epochs = _committed_epochs(spark, f"{work_dir}/cc_labels")
    if not epochs:
        return _empty_labels(spark)
    return _labels_at(spark, work_dir, max(epochs))
