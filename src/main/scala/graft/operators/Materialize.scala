package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Explicit materialization policy for multi-consumer pipeline stages.
  *
  * Why materialize at all: Catalyst performs no common-subexpression
  * elimination across projections for interpreted collection expressions, so
  * a signature column referenced by k band slices recomputes its whole
  * expression tree k× unless the frame is pinned (the LSH pipelines in
  * TextQueries/SimilarityQueries are the canonical case).
  *
  * Why not bare `.cache()`: at 100 TB a memory-evicted block silently
  * recomputes the entire upstream fan-out per consumer — the failure mode is
  * invisible locally and catastrophic at scale. Policy here:
  * `persist(MEMORY_AND_DISK)` — evicted blocks SPILL, never recompute
  * (this is also Dataset.cache()'s level, but stated, not implied).
  */
object Materialize {

  /** Pin a frame consumed more than once downstream. */
  def pin[T](ds: Dataset[T]): Dataset[T] =
    ds.persist(StorageLevel.MEMORY_AND_DISK)
}
