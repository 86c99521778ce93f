package graft.operators

import org.apache.spark.sql.DataFrame

/** Recursive CTE semantics as an iterative union-until-fixpoint driver.
  *
  * The reference implements `WITH RECURSIVE` with dedicated pipeline
  * operators (`pkg/sql/colexec/mergerecursive/`, `mergecte/`, logical
  * RECURSIVE_CTE/SINK/SINK_SCAN nodes in `pkg/pb/plan/plan.pb.go:706-709`).
  * Spark has no recursive CTE, so we drive the fixpoint from the driver:
  * each iteration computes the next frontier from the previous one and
  * unions it into the accumulator (UNION ALL semantics, like the
  * reference/MySQL default).
  *
  * Spark 4.1's native WITH RECURSIVE (UnionLoop) covers the single
  * anchor + single UNION ALL branch shape — prefer it (the GraftSql shim
  * does). `UnionLoopExec` still runs one analysis/planning pass and
  * several jobs per level (rc1: 8 passes, 35 jobs); a row-local step
  * (Project/Filter chains over the recursive reference, optionally over
  * an inner equi-join with a broadcastable relation) instead runs as one
  * `graft.plans.RecursiveExpandExec` task. This driver remains for the
  * shapes the native engine rejects: multi-anchor, several recursive
  * branches, UNION DISTINCT fixpoints.
  *
  * Scale notes: one persist+count job materializes each level and
  * answers the emptiness probe; the accumulator lineage compacts through
  * a localCheckpoint every 8 levels so deep recursions never compile an
  * O(depth²) plan. On a real cluster with a checkpoint dir,
  * `checkpoint(true)` (reliable) is the right call for deep recursions.
  */
object RecursiveCte {

  def iterate(
      anchor: DataFrame,
      step: DataFrame => DataFrame,
      maxIterations: Int = 100): DataFrame = {
    // one job per level: persist + count materializes the frontier AND
    // answers the emptiness probe (an eager checkpoint + isEmpty pair
    // costs two scheduler round-trips per level); every 8 levels the
    // accumulator lineage compacts through a localCheckpoint so deep
    // recursions never compile an O(depth²) plan
    var acc = anchor.persist()
    var n = acc.count()
    var frontier = acc
    var i = 0
    // frontiers stay persisted only until the accumulator has been
    // localCheckpointed past them — then their blocks are dead weight
    // (a deep recursion would otherwise hold maxIterations cached
    // DataFrames for the application lifetime)
    val pinned = scala.collection.mutable.ArrayBuffer[DataFrame](acc)
    while (i < maxIterations && n > 0) {
      frontier = step(frontier).persist()
      pinned += frontier
      n = frontier.count()
      if (n > 0) acc = acc.union(frontier)
      i += 1
      if (i % 8 == 0) {
        acc = acc.localCheckpoint()
        // the checkpoint materialized every pinned level into acc's
        // blocks; the current frontier alone feeds the next step
        pinned.dropRight(1).foreach(_.unpersist(false))
        // keep only the still-persisted current frontier tracked so the
        // next checkpoint cycle unpersists it too
        pinned.dropInPlace(pinned.length - 1)
      }
    }
    // the ≤8-level tail stays pinned — the returned plan still reads
    // those blocks; they are bounded and die with the DataFrames
    acc
  }
}
