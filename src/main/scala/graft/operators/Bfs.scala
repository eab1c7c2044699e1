package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Bounded-depth breadth-first search: the hop distance from a seed set
  * to every node reachable in ≤ k hops — "blast radius" queries over a
  * dependency/link graph, influence neighborhoods, and the propagation
  * half of label-spreading — the graph primitive next to [[PageRank]]
  * (global importance), [[Triangles]] (local density) and
  * `Dedup.connectedComponents` (full closure).
  *
  * 100 TB design: per hop, ONE equi-join of the (deduped, tiny) frontier
  * against the edge table on the source key plus an anti-join against
  * the visited set — both hash joins on node ids; the frontier usually
  * broadcasts. The frontier shrinks geometrically once the neighborhood
  * saturates, and depth is bounded (k is small by use-case), so lineage
  * stays shallow — no checkpoint machinery needed, unlike the
  * fixed-point closure in connectedComponents. Per-round frontiers are
  * persisted (each is consumed twice) and released once the result is
  * materialized.
  */
object Bfs {

  /** (node, dist) for every node within `maxHops` of `seeds`, dist =
    * minimum hop count (seeds at 0). `edges` is DIRECTED with columns
    * (src, dst) — pass the symmetric union for an undirected walk.
    *
    * Materializes the result once (eager localCheckpoint) and releases
    * every per-round frontier cache immediately, so repeated calls in a
    * long-lived session cannot accumulate persisted blocks.
    */
  def kHop(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      srcCol: String = "src", dstCol: String = "dst",
      nodeCol: String = "node"): DataFrame = {
    require(maxHops >= 0, s"maxHops=$maxHops must be >= 0")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    var frontier = seeds.select(col(nodeCol).cast("long").as("node")).distinct()
      .withColumn("dist", lit(0))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Frontier-adaptive join strategy (guide §3.1, round 21): each hop's
    // probe joins the (persisted, tiny-at-first) frontier against the
    // full edge table on src — a frontier left unhinted shuffles the
    // WHOLE edge list per hop (the cached edge frame is partitioned on
    // its upstream dedup key, never on src). The frontier row count is
    // known exactly (the per-hop count also materializes the persist the
    // anti-join reuses), so hops whose frontier fits the session's
    // broadcast threshold hint `broadcast` explicitly — the edge cache
    // is then probed in place, zero exchanges. Size-checked per hop
    // against spark.sql.autoBroadcastJoinThreshold (64 bytes/row upper
    // bound: an 8-byte node + dist + row overhead), NOT unconditionally:
    // a 100 TB graph's saturated frontier is billions of rows and must
    // keep the shuffled path. The visited set (running union of
    // frontiers) gets the same treatment on the anti-join's build side.
    val bcThreshold = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    def fits(rows: Long): Boolean = bcThreshold > 0 && rows * 64L < bcThreshold
    var frontierRows = frontier.count()
    var visitedRows = frontierRows
    val rounds = scala.collection.mutable.ArrayBuffer(frontier)
    var visited = frontier
    for (d <- 1 to maxHops) {
      // first visit = min dist: the anti-join keeps only unseen nodes,
      // so a node's dist is stamped at the earliest hop that reaches it
      val fProbe = if (fits(frontierRows)) broadcast(frontier) else frontier
      val vBuild0 = visited.select("node")
      val vBuild = if (fits(visitedRows)) broadcast(vBuild0) else vBuild0
      val next = fProbe.join(e, fProbe("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(vBuild, Seq("node"), "left_anti")
        .withColumn("dist", lit(d))
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (d < maxHops) { // the last hop's size feeds no further decision
        frontierRows = next.count()
        visitedRows += frontierRows
      }
      rounds += next
      visited = visited.union(next)
      frontier = next
    }
    val out = visited.localCheckpoint(true)
    rounds.foreach(_.unpersist())
    out
  }
}
