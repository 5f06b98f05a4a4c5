package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.operators.{HierarchyAgg, HierarchyDimension}

object DimBuild {
  val LayerKeys: Seq[String] = Seq("hierarchy.flags_ms", "hierarchy.reporting_ms",
    "hierarchy.closure_ms", "hierarchy.aggdim_ms", "hierarchy.move_ms",
    "hierarchy.diff_ms", "hierarchy_agg.mv_build_ms", "hierarchy_agg.mv_merge_ms",
    "hierarchy_agg.mv_repair_ms", "hierarchy_agg.finalize_ms")

  /** Nodes per level, root first. The total and the per-level counts are
    * fixed, so every seed derives the same number of closure rows; the
    * seed decides who hangs under whom. */
  val LevelSizes: Array[Int] = Array(1, 5, 25, 150, 819)
  val Facts = 10000
  val DeltaFacts = 1000
  val Customers = 500
  /** The edit moves the level-3 subtree whose size is closest to this. */
  val MoveTarget = 60
}

/** The `dim_build` workload: a seeded synthetic parent-child node table,
  * built with `spark.range`, derived into a fresh [[HierarchyDimension]]
  * in every cycle, edited by one subtree reparent, and used to maintain a
  * small rollup MV. Each of a cycle's ten steps is one request: it calls
  * one layer function on the previous steps' results.
  *
  * Shape (all from the seed): node `i` at level L > 1 hangs under the
  * level-(L-1) node at index floor(size(L-1) * u(i)^skew), where u(i) is
  * a salted multiplicative hash in [0, 1). With skew > 1 low-index
  * parents collect most children and many high-index nodes stay
  * childless, so leaves appear on several levels (a ragged tree). The
  * edit moves one level-3 node under a different level-2 parent: the one
  * whose subtree size is closest to `MoveTarget`, so that every seed's
  * edit, and with it the diff and the MV repair, does about the same work.
  * Facts and the delta batch key to bottom-level (always-leaf) nodes.
  */
final class DimBuild(seed: Long) {
  import DimBuild._

  // java.util.Random's first draws barely differ for nearby seeds, so
  // the seed is mixed first
  private val rnd = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
  val skew: Double = 1.8 + rnd.nextDouble() * 0.4
  val salt: Long = rnd.nextInt(1 << 30).toLong
  val factSalt: Long = rnd.nextInt(1 << 30).toLong
  val depth: Int = LevelSizes.length
  private val offs: Array[Long] = LevelSizes.scanLeft(0L)(_ + _)
  val nNodes: Long = offs.last

  private def u(id: Long): Double =
    java.lang.Math.floorMod(id * 2654435761L + salt, 1L << 32) / 4294967296.0
  private def parentIndex(id: Long, level: Int): Long =
    offs(level - 2) + math.floor(LevelSizes(level - 2) * StrictMath.pow(u(id), skew)).toLong

  private def levelOf(id: Long): Int = offs.indexWhere(id < _)

  /** Size of each level-3 node's subtree, itself included. */
  private def level3SubtreeSizes: Map[Long, Int] =
    (offs(2) until nNodes).groupBy { id =>
      var (p, l) = (id, levelOf(id))
      while (l > 3) { p = parentIndex(p, l); l -= 1 }
      p
    }.map { case (n, ids) => n -> ids.size }

  val moveNode: Long = level3SubtreeSizes.minBy { case (n, size) => (math.abs(size - MoveTarget), n) }._1
  val newParent: Long = {
    val cur = parentIndex(moveNode, 3)
    val p = offs(1) + rnd.nextInt(LevelSizes(1))
    if (p == cur) offs(1) + (p - offs(1) + 1) % LevelSizes(1) else p
  }

  def spec: Map[String, Any] = Map("levels" -> LevelSizes.toSeq, "skew" -> skew,
    "salt" -> salt, "move_node" -> s"n$moveNode",
    "move_size" -> level3SubtreeSizes(moveNode), "new_parent" -> s"n$newParent",
    "facts" -> Facts, "delta_facts" -> DeltaFacts, "customers" -> Customers)

  private val levelExpr: String =
    (1 to depth).map(l => s"WHEN id < ${offs(l)} THEN $l").mkString("CASE ", " ", " END")

  private val parentExpr: String = {
    val uExpr = s"(pmod(id * 2654435761 + $salt, 4294967296) / 4294967296.0)"
    val branches = (2 to depth).map { l =>
      s"WHEN level = $l THEN concat('n', CAST(${offs(l - 2)} + " +
        s"floor(${LevelSizes(l - 2)} * pow($uExpr, $skew)) AS BIGINT))"
    }
    branches.mkString("CASE ", " ", " END")
  }

  /** The node table (before or after the edit), in the reference's
    * parent-child shape. */
  def nodes(s: SparkSession, moved: Boolean): DataFrame = {
    val base = s.range(nNodes).selectExpr("id", s"$levelExpr AS level")
      .selectExpr(
        "concat('n', id) AS node_id",
        s"$parentExpr AS parent_node_id",
        "id AS node_natural_key",
        "concat('node ', id) AS node_name",
        "concat('L', level) AS level_name")
    if (!moved) base
    else base.withColumn("parent_node_id",
      expr(s"CASE WHEN node_id = 'n$moveNode' THEN 'n$newParent' ELSE parent_node_id END"))
  }

  /** Facts keyed to bottom-level leaves; integral measures, so sums are
    * exact in any order. `delta` draws a disjoint id range. */
  def facts(s: SparkSession, delta: Boolean): DataFrame = {
    val (lo, n) = if (delta) (Facts.toLong, DeltaFacts.toLong) else (0L, Facts.toLong)
    val bottom = offs(depth - 1)
    s.range(lo, lo + n).selectExpr(
      s"$bottom + pmod(id * 40503 + $factSalt, ${LevelSizes(depth - 1)}) AS leaf_key",
      s"pmod(id * 7919 + $factSalt, $Customers) AS customer_id",
      "CAST(pmod(id * 131, 1000) + 1 AS DOUBLE) AS sales_amount",
      "CAST(pmod(id * 17, 50) + 1 AS DOUBLE) AS unit_quantity")
  }

  /** The generated inputs, by name: both node-table versions and the
    * two fact batches. */
  def inputs(s: SparkSession): Seq[(String, DataFrame)] = Seq(
    "dim.nodes" -> nodes(s, moved = false), "dim.moved_nodes" -> nodes(s, moved = true),
    "dim.facts" -> facts(s, delta = false), "dim.delta" -> facts(s, delta = true))

  // the maintained MV of the previous cycle: kept cached until the next
  // cycle replaces it, as a stored view would be
  private var kept: Option[DataFrame] = None

  /** One cycle: derive, edit two ways, maintain the MV. `step` is one
    * request: it builds and executes one DataFrame and times it under the
    * given key, so every layer call is attributable. */
  def cycle(s: SparkSession, step: (String, () => DataFrame) => DataFrame): Unit = {
    kept.foreach(graft.Materialize.release)
    kept = None
    val Seq(v1Nodes, v2Nodes, f, delta) = inputs(s).map(_._2)
    val v1 = new HierarchyDimension(v1Nodes, knownDepth = depth)
    val v2 = new HierarchyDimension(v2Nodes, knownDepth = depth)
    val leaves = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def leaf(d: DataFrame): DataFrame = { val l = graft.Materialize.leaf(d); leaves += l; l }
    try {
      step("hierarchy.flags", () => v1.flaggedNodes)
      step("hierarchy.reporting", () => v1.reportingDim)
      step("hierarchy.closure", () => v1.closurePairs)
      step("hierarchy.aggdim", () => v1.aggregationDim)
      step("hierarchy.move", () =>
        HierarchyDimension.moveSubtreeClosure(v1.closurePairs, s"n$moveNode", s"n$newParent"))
      step("hierarchy.diff", () => HierarchyDimension.closureDiff(v1, v2))
      val mv = step("hierarchy_agg.mv_build", () =>
        leaf(HierarchyAgg.rollupMv(f, v1.aggregationDim)))
      val merged = step("hierarchy_agg.mv_merge", () =>
        leaf(HierarchyAgg.mergeRollupMv(mv, delta, v1.aggregationDim)))
      val repaired = step("hierarchy_agg.mv_repair", () =>
        leaf(HierarchyAgg.repairRollupMv(merged, f.unionByName(delta), v1, v2)))
      step("hierarchy_agg.finalize", () => HierarchyAgg.finalizeRollup(repaired, v2.aggregationDim))
      kept = Some(repaired)
      leaves -= repaired
    } finally {
      leaves.foreach(graft.Materialize.release)
      v1.unpersistAll()
      v2.unpersistAll()
    }
  }
}
