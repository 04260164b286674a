package perfbench

import graft.TripleStore
import graft.model.UnionTripleSource
import graft.sources.RowIngest
import graft.sources.RowIngest.RefSpec
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable
import Workload.{check, eid}

/** The fixpoint ops of the lookup workload, over the synthetic ref graph
  * of [[Gen.graph]]: the recursive-CTE lowering of `reachable` on the
  * 16-hop DAG (its home ground) and the per-level BFS loop on the rings
  * (its home ground: cycles). Answers come from a plain-Scala BFS over
  * the generated edge lists. */
object Graphs {
  val DagAttrs = Seq("gnode:up", "gnode:side")
  val CycAttrs = Seq("cnode:next", "cnode:chord")

  /** A store over the two graph tables, attribute-pruned like
    * `graft.sources.Tpch.store`. */
  def store(spark: SparkSession, dir: String): TripleStore = {
    def raw(t: String) = spark.read.parquet(s"$dir/$t.parquet")
    val specs = Seq(
      RowIngest.specFor(raw("gnode"), "gnode", Seq("g_key"),
        Seq(RefSpec("g_parent", "gnode:up", "gnode"),
          RefSpec("g_alt", "gnode:side", "gnode")), Some("g_")),
      RowIngest.specFor(raw("cnode"), "cnode", Seq("c_key"),
        Seq(RefSpec("c_next", "cnode:next", "cnode"),
          RefSpec("c_chord", "cnode:chord", "cnode")), Some("c_")))
    val sources = specs.map(s => RowIngest.TableSource(raw(s.table), s))
    new TripleStore(spark,
      sources.map(s => RowIngest.tableToTriples(s.df, s.spec)).reduce(_ unionByName _),
      specs.map(_.attrSchemas).reduce(_ ++ _), preResolved = true,
      source = Some(UnionTripleSource(sources)))
  }

  type Adj = Map[String, Seq[String]]
  def adj(edges: Seq[(String, String)]): Adj =
    edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }

  /** Shortest hop count from `root` to every entity it reaches, itself
    * included at depth 0. */
  def bfs(a: Adj, root: String): Map[String, Int] = {
    val seen = mutable.Map(root -> 0)
    var frontier = Seq(root)
    var d = 0
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(a.getOrElse(_, Nil)).distinct.filterNot(seen.contains)
      frontier.foreach(seen(_) = d)
    }
    seen.toMap
  }
}

final class Graphs(graph: Seq[Table]) {
  import Graphs._
  private val Seq(gnode, cnode) = graph.map(_.rows)
  private def opt(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
  private def edges(t: String, rows: Seq[Row]) =
    rows.flatMap(r => Seq(opt(r, 1), opt(r, 2)).flatten
      .map(p => eid(t, r.getLong(0)) -> eid(t, p)))
  private val dagAdj = adj(edges("gnode", gnode))
  private val cycAdj = adj(edges("cnode", cnode))
  private val leaves = gnode.filter(_.getLong(3) >= 0)

  val sizes: Map[String, Double] = Map(
    "dag_depth_hops" -> (Gen.DagLevels - 1).toDouble,
    "dag_width" -> Gen.DagWidth.toDouble,
    "ring_size" -> Gen.RingSize.toDouble,
    "cyclic_share" -> cnode.size.toDouble / (gnode.size + cnode.size))

  /** (e, root, depth) rows of a reachable-style result vs the BFS. */
  private def reach(got: Array[Row], a: Adj, roots: Seq[String], what: String): Outcome = {
    val want = roots.flatMap(r => bfs(a, r).toSeq.map { case (e, d) => s"$r|$e|$d" }).sorted
    val gs = got.map(r => s"${r.getAs[String]("root")}|${r.getAs[String]("e")}|" +
      r.getAs[Number]("depth").intValue).toSeq.sorted
    Outcome(check(gs, want, what), got.length.toLong,
      Map("levels" -> got.map(_.getAs[Number]("depth").doubleValue).maxOption.getOrElse(0.0)))
  }

  def ops(ctx: Ctx, ts: TripleStore, rnd: Int): Seq[Op] = {
    import ctx.spark.implicits._
    val r = Gen.rng(ctx.seed, 20 + rnd)
    val group = r.nextInt(Gen.LeafGroups).toLong
    val dagRoots = leaves.filter(_.getLong(3) == group).take(4).map(x => eid("gnode", x.getLong(0)))
    val cycRoots = Seq.fill(8)(cnode(r.nextInt(cnode.size))).map(x => eid("cnode", x.getLong(0))).distinct
    Seq(
      Op("reachable_cte_dag", "fixpoint.reachable_cte", () => {
        val got = ctx.collect(ts.reachableCte(dagRoots.toDF("e"), Some(DagAttrs)))
        () => reach(got, dagAdj, dagRoots, "reachable_cte_dag")
      }),
      Op("reachable_cyclic", "fixpoint.reachable", () => {
        val got = ctx.collect(ts.reachable(cycRoots.toDF("e"), Some(CycAttrs)))
        () => reach(got, cycAdj, cycRoots, "reachable_cyclic")
      }))
  }
}
