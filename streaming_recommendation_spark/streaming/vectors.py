"""Streaming vector-index maintenance: continuous embedding ingest
into an IVF-cell-partitioned ANN index, as a foreachBatch pipeline.

The IVF decomposition is naturally incremental ONCE THE CENTROIDS
ARE FIXED: cell assignment is a per-row pure function of the
broadcast landmark table, so indexing a batch never touches the
stored corpus — exactly the dedup-index shape (streaming/dedup.py),
with cells instead of LSH buckets:

  * the landmark table is captured ONCE from a seed corpus and
    persisted next to the index (a production system re-trains
    centroids offline and rebuilds — centroid drift is a rebuild
    decision, not a streaming concern; this module RAISES if the
    landmark file is missing rather than silently re-deriving
    different centroids, which would split the index across
    incompatible quantizers);
  * per batch: assign (one broadcast cross-join + per-vector argmin)
    and append under parquet partitions (batch_id=<b>/__lid=<cell>)
    — batch_id dynamic-overwrite keys redelivery idempotence,
    the __lid sub-partition lets probe reads prune whole cells
    off disk;
  * periodically: ``compact`` folds the delta partitions into a
    COMPACTED BASE generation (latest copy per vec_id, still
    cell-partitioned), managed through the shared versioned-state
    module (streaming/state.py) so the prune/redelivery guarantees
    the other streaming states enjoy hold here by construction
    (VERDICT r6 #3/#7);
  * queries run ``similarity.ivf_knn_from_index`` over
    base ∪ {deltas newer than the base}: n_probe cells per query are
    read, the rest pruned — on the base AND on every live delta.

Batch twins: q135 (two-batch build == q66 bit-for-bit) and q137
(stale re-ingested copies + compaction == q66 bit-for-bit); the disk
pipeline incl. compaction is pinned in tests/test_streaming_vectors.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    ivf_assign,
    ivf_knn_from_index,
    ivf_landmarks,
)
from . import store as vstore

_LANDMARK_SCHEMA = "__lid bigint, __lvec array<float>"


def _index_schema(id_type: str) -> str:
    return f"neighbor_id {id_type}, __cvec array<float>, batch_id bigint, __lid bigint"


def latest_per_vector(index: DataFrame) -> DataFrame:
    """Compaction as a pure operator: keep each neighbor_id's newest
    copy (max batch_id) with its cell. This is the whole semantic
    content of index compaction — the disk job is just this plus
    versioned-state bookkeeping — and it is what ``q137`` twins
    against q66's oracle. One shuffle on neighbor_id; at 100 TB the
    aggregate is map-side partial (max_by is associative)."""
    return (
        index.groupBy("neighbor_id")
        .agg(
            F.max_by(
                F.struct("__cvec", "__lid", "batch_id"), F.col("batch_id")
            ).alias("__s")
        )
        .select(
            "neighbor_id",
            F.col("__s.__cvec").alias("__cvec"),
            F.col("__s.batch_id").alias("batch_id"),
            F.col("__s.__lid").alias("__lid"),
        )
    )


class VectorIndexStream:
    """One continuously-maintained IVF vector index.

    On-disk layout:

        index_dir/batch_id=<b>/__lid=<cell>/   per-batch DELTAS
        base_dir/v=<gen>/__lid=<cell>/         compacted BASE
                                               generations (shared
                                               streaming/state.py
                                               contract; <gen> = the
                                               highest delta batch_id
                                               folded in)

    The logical index is ``base(latest committed gen G) ∪ deltas with
    batch_id > G``; deltas ≤ G are dead weight the compactor deletes
    as cleanup, and reads ignore them either way — so a crash at any
    point between base commit and delta deletion is harmless.
    """

    def __init__(
        self,
        index_dir: str,
        landmarks_dir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        id_type: str = "bigint",
        base_dir: str | None = None,
    ):
        self.index_dir = index_dir
        self.landmarks_dir = landmarks_dir
        self.id_col = id_col
        self.vec_col = vec_col
        self.id_type = id_type
        # NOT nested inside index_dir: the delta read's partition
        # discovery would misparse a foreign subdirectory
        self.base_dir = base_dir or index_dir.rstrip("/") + "__base"

    def init_landmarks(self, seed_corpus: DataFrame, num_landmarks: int = 16) -> None:
        """Capture and persist the quantizer. Call once before
        ingesting; idempotent only in the sense that re-running with
        the SAME seed rewrites the same table."""
        ivf_landmarks(
            seed_corpus, num_landmarks, self.id_col, self.vec_col
        ).write.mode("overwrite").parquet(self.landmarks_dir)

    def _landmarks(self, spark: SparkSession) -> DataFrame:
        if not os.path.isdir(self.landmarks_dir):
            raise RuntimeError(
                f"vector index landmarks missing at {self.landmarks_dir}; "
                "call init_landmarks(seed_corpus) first — deriving fresh "
                "centroids per batch would split the index across "
                "incompatible quantizers"
            )
        return spark.read.schema(_LANDMARK_SCHEMA).parquet(self.landmarks_dir)

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assigned = ivf_assign(
            batch_df.select(
                F.col(self.id_col).alias("neighbor_id"),
                F.col(self.vec_col).alias("__cvec"),
            ),
            self._landmarks(spark),
            "neighbor_id",
            "__cvec",
            1,
        )
        (
            assigned.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "__lid")
            .parquet(self.index_dir)
        )

    # ------------------------------------------------------------------
    # compaction (VERDICT r6 #3) — since round 11 a thin wrapper over
    # the SHARED generation machinery (streaming/store.py, VERDICT r10
    # #2): this module grew the base/delta/fold contract first and the
    # other five persisted stores now run the extracted copy, so the
    # crash-safety reasoning lives in one place.

    def _delta_ids(self) -> list[int]:
        return vstore.delta_batch_ids(self.index_dir)

    def _committed_base_gen(self) -> int | None:
        return vstore.committed_gen(self.base_dir)

    def compact(
        self,
        spark: SparkSession,
        upto_batch_id: int | None = None,
        tombstones: DataFrame | None = None,
    ) -> int | None:
        """Fold delta partitions into a new compacted base generation:
        latest copy per neighbor_id (``latest_per_vector``), written
        cell-partitioned so probe reads regain full partition pruning
        — the periodic job ``ann_query``'s ``latest_only`` fallback
        stands in for between runs. All generation bookkeeping
        (in-flight-delta exclusion, _SUCCESS-gated commit, prior-gen
        retention, folded-delta cleanup) is store.compact_store's;
        only the fold itself is this index's cheaper single-row
        ``latest_per_vector`` (one associative max_by aggregate
        instead of the generic window filter). ``tombstones`` (a
        1-column frame of forgotten ids named ``neighbor_id``)
        physically erases those vectors from the new base — the q223
        erasure story for the float ANN store. Returns the new
        committed generation (or the existing one if nothing folded)."""
        return vstore.compact_store(
            spark,
            self.index_dir,
            self.base_dir,
            _index_schema(self.id_type),
            key_cols=["neighbor_id"],
            upto_batch_id=upto_batch_id,
            partition_by=["__lid"],
            fold_fn=latest_per_vector,
            tombstones=tombstones,
            id_col="neighbor_id",
        )

    # ------------------------------------------------------------------

    def read_index(self, spark: SparkSession) -> DataFrame:
        """The logical index: committed compacted base (if any) plus
        every delta batch newer than it (store.read_store)."""
        return vstore.read_store(
            spark,
            self.index_dir,
            _index_schema(self.id_type),
            base_dir=self.base_dir,
        )

    def read_index_resolved(self, spark: SparkSession) -> DataFrame:
        """The snapshot-consistent index: upserts in the delta TAIL
        resolve latest-per-vector at read time
        (store.read_store_resolved keyed on neighbor_id). Unlike the
        old full-index ``latest_per_vector`` fallback, the window
        covers only the tail and the compacted base pays one
        broadcast anti-join against the tail's ids — so the probe
        filter's __lid partition pruning on the base scan SURVIVES
        (an updated vector may have moved cells, but its stale base
        copy is removed by id, not by cell, so pruning and
        correctness compose)."""
        return vstore.read_store_resolved(
            spark,
            self.index_dir,
            _index_schema(self.id_type),
            self.base_dir,
            ["neighbor_id"],
        )

    def ann_query(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 3,
        query_id_col: str = "query_id",
        latest_only: bool = False,
    ) -> DataFrame:
        """Approximate top-k against the stored index; the probe join
        filter on __lid prunes unprobed cell partitions off disk — on
        the compacted base and on each live delta partition.

        CONTRACT (ADVICE r5): ingest is APPEND-ONLY between
        compactions — each batch is expected to carry NEW vec_ids.
        Re-ingesting an existing id leaves both the stale and the new
        copy live until ``compact`` folds them, and the default query
        path can return duplicate/stale neighbor rows for that id in
        the interim. ``latest_only=True`` dedups by neighbor_id
        BEFORE scoring, so only the newest copy of each vector
        competes for the top-k. Since round 12 this is TAIL-SCOPED
        (read_index_resolved): the window covers only the unfolded
        delta tail and the base keeps full __lid partition pruning —
        the old full-index aggregate (which defeated pruning) is
        gone, so latest_only is safe as a standing setting, not just
        a between-compactions fallback. After ``compact`` both paths
        give the same answer (pinned by q137 and
        tests/test_streaming_vectors.py)."""
        if latest_only:
            index = self.read_index_resolved(spark).drop("batch_id")
        else:
            index = self.read_index(spark).drop("batch_id")
        return ivf_knn_from_index(
            index,
            self._landmarks(spark),
            queries,
            k,
            n_probe,
            self.vec_col,
            query_id_col,
        )


__all__ = ["VectorIndexStream", "latest_per_vector"]
