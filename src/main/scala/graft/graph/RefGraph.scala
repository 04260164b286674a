package graft.graph

import graft.{Fixpoint, TripleStore}
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX projection of the store's implicit ref graph — the "triple
  * analytics" surface (SURVEY.md §1.5: graphs arise implicitly because a
  * value may be another entity's id, README.md:25-36).
  *
  * String entity ids are dictionary-encoded to Long VertexIds with
  * xxhash64 — computed LOCALLY on each executor (no broadcast dictionary,
  * no id-assignment shuffle; collision odds n²/2⁶⁴ ≈ 3e-11 even at a
  * billion entities). The reverse mapping (hash → eid) rides along as a
  * vertex-attribute DataFrame for joining analytics results back to
  * entities.
  */
object RefGraph {

  /** Vertex dictionary (vid, e) for all entities appearing in ref edges. */
  def vertexDict(ts: TripleStore): DataFrame =
    ts.edges.select(col("e")).union(ts.edges.select(col("vref").as("e")))
      .distinct()
      .select(xxhash64(col("e")).as("vid"), col("e"))

  /** Build the GraphX graph over ref edges (optionally only `attrs`). */
  def build(ts: TripleStore, attrs: Option[Seq[String]] = None): Graph[Unit, String] = {
    val es = attrs.map(as => ts.edges.where(col("a").isInCollection(as)))
      .getOrElse(ts.edges)
    val edgeRdd = es
      .select(xxhash64(col("e")).as("src"), xxhash64(col("vref")).as("dst"),
        col("a"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getString(2)))
    Graph.fromEdges(edgeRdd, (), StorageLevel.MEMORY_AND_DISK,
      StorageLevel.MEMORY_AND_DISK)
  }

  /** Connected components over the ref graph → (e, component) with the
    * component id remapped to the member entities' MIN eid-hash (stable,
    * content-derived — safe to compare across runs). */
  def connectedComponents(ts: TripleStore,
      attrs: Option[Seq[String]] = None): DataFrame = {
    val spark = ts.spark
    import spark.implicits._
    val cc = build(ts, attrs).connectedComponents()
    val compDf = cc.vertices.toDF("vid", "component")
    compDf.join(vertexDict(ts), Seq("vid")).select($"e", $"component")
  }

  /** Multi-source BFS shortest HOP DISTANCE over the ref graph: dist 0
    * at the `roots` (a DataFrame with an `e` column), dist d for
    * entities first reached at frontier step d — min over all roots by
    * construction (global visited set, unlike [[TripleStore.reachable]],
    * whose per-root state answers a different question). The
    * feature-graph primitive behind "hops from any seed entity".
    *
    * Pure frontier iteration on the [[graft.Fixpoint]] loop: each step
    * is one equi-join of the frontier against the (deduped) edge list +
    * one anti-join against the known set — state is O(|V|) total,
    * localCheckpoint truncates lineage, and a frontier still alive after
    * `maxIters` steps THROWS (IllegalStateException): a `maxIters - 1`-hop
    * chain completes, a `maxIters`-hop chain throws. `reverse` walks
    * edges backwards (value → referrer). Output: (e, dist). */
  def shortestPaths(ts: TripleStore, roots: DataFrame,
      attrs: Option[Seq[String]] = None, reverse: Boolean = false,
      maxIters: Int = 20): DataFrame = {
    val spark = ts.spark
    import spark.implicits._
    val es0 = attrs.map(as => ts.edges.where(col("a").isInCollection(as)))
      .getOrElse(ts.edges)
    val es = (if (reverse) es0.select($"vref".as("src"), $"e".as("dst"))
              else es0.select($"e".as("src"), $"vref".as("dst")))
      .distinct().localCheckpoint(eager = false)
    val r = Fixpoint.run("shortestPaths",
        roots.select($"e").distinct().select($"e", lit(0L).as("dist")),
        Seq("e"), maxIters, counted = true) { (frontier, d) =>
      es.join(frontier.select($"e".as("src")), Seq("src"))
        .select($"dst".as("e")).distinct()
        .select($"e", lit(d.toLong).as("dist"))
    }
    Fixpoint.requireConverged("shortestPaths", maxIters, r.converged)
    r.total
  }

  /** Fixed-iteration PageRank as pure DataFrame joins, with EXACTLY the
    * classic per-iteration update rank' = reset + (1-reset)·Σ_in rank/deg
    * (vertices with no in-edges hold at `reset`; dangling mass is
    * dropped, as in GraphX). Fully Catalyst-planned — each iteration is
    * one equi-join + one shuffle-on-dst aggregation, AQE-broadcastable —
    * and, unlike a tolerance-stopped iteration, the iteration count is
    * static, so the result is reproducible in plain SQL (the q17
    * oracle unrolls the same iterations as chained CTEs). localCheckpoint
    * per iteration truncates lineage, same as the reachability fixpoint. */
  def pageRankStatic(ts: TripleStore, iters: Int = 4,
      resetProb: Double = 0.15,
      attrs: Option[Seq[String]] = None): DataFrame = {
    val spark = ts.spark
    import spark.implicits._
    val es0 = attrs.map(as => ts.edges.where(col("a").isInCollection(as)))
      .getOrElse(ts.edges)
    val es = es0.select($"e".as("src"), $"vref".as("dst"))
      .localCheckpoint(eager = false)
    val verts = es.select($"src".as("e")).union(es.select($"dst".as("e")))
      .distinct().localCheckpoint(eager = false)
    val outdeg = es.groupBy($"src").agg(count(lit(1)).as("_d"))
    var ranks = verts.select($"e", lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      val msgs = es
        .join(ranks.withColumnRenamed("e", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .groupBy($"dst").agg(sum($"rank" / $"_d").as("_s"))
        .withColumnRenamed("dst", "e")
      ranks = verts.join(msgs, Seq("e"), "left")
        .select($"e",
          (lit(resetProb) + lit(1 - resetProb) * coalesce($"_s", lit(0.0)))
            .as("rank"))
        .localCheckpoint(eager = false)
    }
    ranks
  }
}
