package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recursive hierarchy traversal (SURVEY §2.4 R13/R14).
  *
  * The reference walks group trees with recursive CTEs
  * (`reports/mssql/group-tree-parent-child.sql:4-9`, capped by
  * `option (maxrecursion 500)` in daily-cash-movement.sql:30). Spark has
  * no recursive CTE, so the closure is an iterative driver loop of
  * self-joins to fixpoint — each step joins the frontier (paths of
  * length k) to the edge set; real-world trees are shallow so the loop
  * runs O(depth) Spark jobs.
  *
  * Scale: the edge set is a dimension (small relative to facts) and is
  * broadcast on every step, so no shuffle of the growing closure.
  * Frontiers are localCheckpoint'ed to sever lineage — without it the
  * plan doubles per iteration and the driver chokes long before the
  * data does.
  */
object Hierarchy {

  /** Transitive closure of `edges(parent, child)` →
    * `(ancestor, descendant, depth)`, depth ≥ 1.
    *
    * @param maxDepth hard cap mirroring the reference's maxrecursion
    *                 guard — also the cycle protection.
    */
  def closure(edges: DataFrame, maxDepth: Int = 500): DataFrame = {
    // materialize the edge set ONCE: every level joins it, and its
    // lineage (often a join over the source tables) would otherwise
    // re-run per level — the loop then broadcasts cached blocks
    // instead of replanning the derivation each iteration (guide
    // §2.4: one exchange/scan for work keyed the same way every time)
    val e = edges.select(col("parent"), col("child"))
      .localCheckpoint(eager = true)
    val base = e.select(col("parent").as("ancestor"),
      col("child").as("descendant"), lit(1).as("depth"))
    // the base is depth 1, so maxDepth allows maxDepth - 1 extensions
    frontierWalk(base, maxDepth - 1)(_.alias("f")
      .join(broadcast(e.alias("e")), col("f.descendant") === col("e.parent"))
      .select(col("f.ancestor").as("ancestor"),
        col("e.child").as("descendant"),
        (col("f.depth") + 1).as("depth")))
  }

  /** Semi-naive frontier walk: `seed` plus every non-empty level
    * `step` derives from the previous level, for at most `maxSteps`
    * steps. Each level is localCheckpoint'ed (severing the lineage,
    * which would otherwise double per level) and probed for emptiness
    * ONCE on the materialized frontier; the walk stops at the first
    * empty level. */
  def frontierWalk(seed: DataFrame, maxSteps: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    var acc = seed
    var frontier = seed
    var steps = 0
    var drained = false
    while (steps < maxSteps && !drained) {
      val next = step(frontier).localCheckpoint(eager = true)
      drained = next.isEmpty
      if (!drained) { acc = acc.unionByName(next); frontier = next }
      steps += 1
    }
    acc
  }

  /** Descendants of one root (inclusive of depth-1 children), i.e. the
    * `$$IsLedOfGrp` subtree-membership set (R14). */
  def subtree(edges: DataFrame, root: String, maxDepth: Int = 500): DataFrame =
    closure(edges, maxDepth).filter(col("ancestor") === root)
      .select(col("descendant")).distinct()
}
