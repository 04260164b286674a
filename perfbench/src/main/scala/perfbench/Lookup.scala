package perfbench

import graft.TripleStore
import graft.query._
import graft.sources.Tpch
import org.apache.spark.sql.Row
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import Workload.{check, rows}

/** Read-only mix over a TPC-H-shaped store (7 tables) plus the fixpoint
  * traversals of [[Graphs]]. A round runs every family once; rounds cycle
  * through `Params` seeded parameter sets, whose answers come from plain
  * Spark SQL over the raw parquet tables. Families marked indexed filter on
  * an attribute the store's ValueIndex covers. */
object Lookup extends Workload {
  val name = "lookup"
  /** A fifth of the sf0.01 table sizes (300 customers, 3 000 orders,
    * ~12 000 line items, ~150 000 triples): ops stay sub-second, so
    * planning, driver gaps and per-task overhead dominate, and a run fits
    * the benchmark's time budget. */
  val Scale = 0.2
  /** Zone-map buckets per indexed attribute, sized to the store. */
  val IndexBuckets = 8
  val Params = 2
  val IndexedAttrs = Seq("orders:orderkey", "orders:totalprice", "part:size")

  def prepare(ctx: Ctx): () => Prepared = {
    val spark = ctx.spark
    val dir = s"${ctx.dir}/lookup"
    val tables = Gen.tpch(ctx.seed, Scale)
    val graph = Gen.graph(ctx.seed)
    (tables ++ graph).foreach(_.write(spark, dir))
    var rep = 0
    () => {
      rep += 1
      val plain = Tpch.store(spark, dir, tables.map(_.name): _*)
      val indexed = ctx.setupTimed("valueindex.build_s")(
        plain.buildValueIndex(s"perfbench_vidx$rep", s"$dir/vidx$rep", IndexedAttrs,
          IndexBuckets))
      new Prep(ctx, dir, rep, tables, graph, plain, indexed, Graphs.store(spark, dir))
    }
  }

  /** One family: the call and its action (`run`, rendering the rows), and
    * the SQL giving the same rows over the raw tables (`sql`, `fromSql`). */
  private final case class Q(family: String, layer: String, indexed: Boolean,
      sql: String, ordered: Boolean, run: (Ctx, TripleStore) => Seq[String],
      fromSql: Row => String)

  private final class Prep(ctx: Ctx, dir: String, rep: Int, tables: Seq[Table],
      graph: Seq[Table], plain: TripleStore, indexed: TripleStore,
      graphStore: TripleStore) extends Prepared {
    private val byName = tables.map(t => t.name -> t).toMap
    private val graphs = new Graphs(graph)
    val digest: String = Gen.digest(tables ++ graph)
    val sizes: Map[String, Double] = (tables ++ graph).map(t => s"rows.${t.name}" -> t.rows.size.toDouble).toMap ++
      Map("triples" -> tables.map(t => t.rows.size.toDouble * (t.schema.size + 1)).sum,
        "tables" -> tables.size.toDouble) ++ graphs.sizes

    private val r = Gen.rng(ctx.seed, 10)
    private def pick(t: String) = byName(t).rows(r.nextInt(byName(t).rows.size))
    private def custWithOrders = {
      val withOrders = byName("orders").rows.map(_.getLong(1)).toSet
      Iterator.continually(pick("customer")).map(_.getLong(0)).find(withOrders).get
    }
    private def keys(t: String, n: Int) = Seq.fill(n)(pick(t).getLong(0)).distinct

    /** `Params` parameterisations of every family. */
    val queries: IndexedSeq[Seq[Q]] = (0 until Params).map { _ =>
      val ok = pick("orders").getLong(0)
      val cust = custWithOrders
      val seg = Gen.Segments(r.nextInt(5))
      val nat = r.nextInt(25).toLong
      val reg = Gen.Regions(r.nextInt(5))
      val ok16 = keys("orders", 16)
      val ok8 = keys("orders", 8)
      // range bounds start at a value the data holds
      val lo = pick("orders").getDouble(3)
      val sizeLo = 1 + r.nextInt(40)
      val acct = pick("customer").getDouble(3)
      val topk = 5 + r.nextInt(10)
      def keyList(ks: Seq[Long]) = ks.mkString(",")
      // pull results lead with the entity id column `e`; answers compare
      // on the pulled values
      def str(row: Row) = row.schema.fieldNames.indices
        .filterNot(i => row.schema.fieldNames(i) == "e")
        .map(i => String.valueOf(row.get(i))).mkString("|")
      Seq(
        Q("match_point", "triplestore.match", indexed = true,
          s"SELECT md5(concat('orders:', cast(o_orderkey AS STRING))) FROM orders WHERE o_orderkey = $ok",
          ordered = false,
          (c, ts) => c.collect(ts.matchEntities(Seq("orders:orderkey" -> MEq(ok)))).map(_.getString(0)).toSeq,
          _.getString(0)),
        Q("match_conj", "triplestore.match", indexed = false,
          s"SELECT count(*) FROM customer WHERE c_mktsegment = '$seg' AND c_nationkey = $nat",
          ordered = false,
          (c, ts) => Seq(c.span("triplestore.action")(ts.countMatch(Seq(
            "customer:mktsegment" -> MEq(seg), "customer:nationkey" -> MEq(nat)))).toString),
          _.getLong(0).toString),
        Q("match_nested", "triplestore.match", indexed = false,
          s"""SELECT c_custkey FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE c_mktsegment = '$seg' AND r_name = '$reg'""".stripMargin,
          ordered = false,
          (c, ts) => c.collect(ts.pullMany(Seq("customer:mktsegment" -> MEq(seg),
            "customer:nation" -> MSub(Seq("nation:region" -> MSub(Seq("region:name" -> MEq(reg)))))),
            Seq(PAttr("customer:custkey")))).map(str).toSeq, str),
        Q("pull_flat", "triplestore.pull", indexed = true,
          s"""SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderdate FROM orders
             |WHERE o_orderkey IN (${keyList(ok16)})""".stripMargin,
          ordered = false,
          (c, ts) => c.collect(ts.pullMany(Seq("orders:orderkey" -> MIn(ok16)),
            Seq(PAttr("orders:orderkey"), PAttr("orders:totalprice"),
              PAttr("orders:orderstatus"), PAttr("orders:orderdate")))).map(str).toSeq, str),
        Q("pull_nested", "triplestore.pull_nested", indexed = true,
          s"""SELECT o_orderkey, c_name, n_name FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey WHERE o_orderkey IN (${keyList(ok8)})""".stripMargin,
          ordered = false,
          (c, ts) => c.collect(ts.pullMany(Seq("orders:orderkey" -> MIn(ok8)),
            Seq(PAttr("orders:orderkey"), PNest("orders:customer", Seq(PAttr("customer:name"),
              PNest("customer:nation", Seq(PAttr("nation:name")))))))).toSeq.flatMap { o =>
            for (cu <- rows(o, "customer"); n <- rows(cu, "nation"))
              yield s"${o.getAs[Long]("orderkey")}|${cu.getAs[String]("name")}|${n.getAs[String]("name")}"
          }, str),
        Q("pull_reverse", "triplestore.pull_nested", indexed = false,
          s"SELECT o_custkey, o_orderkey FROM orders WHERE o_custkey = $cust",
          ordered = false,
          (c, ts) => c.collect(ts.pullMany(Seq("customer:custkey" -> MEq(cust)),
            Seq(PAttr("customer:custkey"), PNest("orders:customer", Seq(PAttr("orders:orderkey")),
              reverse = true, as = Some("orders"))))).toSeq.flatMap { cu =>
            rows(cu, "orders").map(o => s"${cu.getAs[Long]("custkey")}|${o.getAs[Long]("orderkey")}") }, str),
        Q("topk", "triplestore.topk", indexed = true,
          s"SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC LIMIT $topk",
          ordered = true,
          (c, ts) => c.collect(ts.pullMany(Seq("orders:totalprice" -> MAny),
            Seq(PAttr("orders:orderkey"), PAttr("orders:totalprice")),
            sortBy = Some("totalprice"), desc = true, limit = Some(topk))).map(str).toSeq, str),
        Q("count_range", "triplestore.match", indexed = true,
          s"SELECT count(*) FROM orders WHERE o_totalprice >= $lo AND o_totalprice <= ${lo + 5000}",
          ordered = false,
          (c, ts) => Seq(c.span("triplestore.action")(ts.countMatch(Seq(
            "orders:totalprice" -> MRange(Some(lo), Some(lo + 5000))))).toString),
          _.getLong(0).toString),
        Q("sum_range", "triplestore.match", indexed = true,
          s"SELECT sum(cast(p_size AS BIGINT)) FROM part WHERE p_size >= $sizeLo AND p_size <= ${sizeLo + 5}",
          ordered = false,
          (c, ts) => Seq(c.span("triplestore.action")(ts.sumMatch("part:size", Seq(
            "part:size" -> MRange(Some(sizeLo.toLong), Some(sizeLo + 5L))))).toString),
          _.getLong(0).toString),
        Q("range_pull", "triplestore.pull", indexed = false,
          s"SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal >= $acct AND c_acctbal <= ${acct + 2000}",
          ordered = false,
          (c, ts) => c.collect(ts.pullMany(Seq("customer:acctbal" -> MRange(Some(acct), Some(acct + 2000))),
            Seq(PAttr("customer:custkey"), PAttr("customer:acctbal")))).map(str).toSeq, str),
        Q("datalog_join", "triplestore.datalog", indexed = false,
          s"SELECT o_orderkey FROM orders WHERE o_custkey = $cust",
          ordered = false,
          (c, ts) => c.collect(ts.datalog(Seq("?ok"), Seq(("?c", "customer:custkey", cust),
            ("?o", "orders:customer", "?c"), ("?o", "orders:orderkey", "?ok")))).map(str).toSeq, str))
    }

    /** Answers from plain Spark SQL over the raw tables, computed (untimed)
      * the first time a round uses a parameter set. */
    private lazy val views = tables.foreach(t =>
      ctx.spark.read.parquet(s"$dir/${t.name}.parquet").createOrReplaceTempView(t.name))
    private val expected = scala.collection.mutable.Map.empty[Int, Seq[Seq[String]]]
    private def oracle(p: Int): Seq[Seq[String]] = expected.getOrElseUpdate(p, {
      views
      // the queries are independent: run them on a few threads
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.traverse(queries(p)) { q => Future {
        val got = ctx.spark.sql(q.sql).collect().toSeq.flatMap(q.fromSql(_).split("\n"))
          .filter(_.nonEmpty)
        if (q.ordered) got else got.sorted
      } }, Duration.Inf)
      finally pool.shutdown()
    })

    def warmUp(): Unit =
      indexed.pullMany(Seq("orders:orderkey" -> MEq(1L)), Seq(PAttr("orders:totalprice")))
        .collect()

    def round(rnd: Int): Seq[Op] = {
      val p = rnd % Params
      queries(p).zip(oracle(p)).map { case (q, want) => op(q, want, p) } ++
        graphs.ops(ctx, graphStore, rnd)
    }

    private def op(q: Q, want: Seq[String], p: Int): Op =
      Op(q.family, q.layer, () => {
        val got0 = q.run(ctx, indexed)
        () => {
          val got = if (q.ordered) got0 else got0.sorted
          val ok = check(got, want, s"${q.family} (params $p)")
          Outcome(ok, got.size.toLong,
            if (q.indexed) Map("indexed" -> 1.0, "params" -> p.toDouble) else Map.empty)
        }
      })

    /** For `valueindex.input_bytes_ratio`, every indexed family of the
      * traced round runs once more on the unindexed store (traced, outside
      * the round's metrics). */
    override def layerMetrics(ops: Seq[OpRecord]): Map[String, Double] = {
      val twinBytes = ops.filter(_.extra.contains("indexed")).map { o =>
        val q = queries(o.extra("params").toInt).find(_.family == o.family).get
        val twin = ctx.rec.op(q.family + "_unindexed", "twin") {
          q.run(ctx, plain); () => Outcome(ok = true, 0L) }
        (o.counters.inputBytes.toDouble, twin.counters.inputBytes.toDouble)
      }
      val ratio = if (twinBytes.isEmpty || twinBytes.map(_._2).sum == 0) 0.0
        else twinBytes.map(_._1).sum / twinBytes.map(_._2).sum
      Map("valueindex.input_bytes_ratio" -> ratio,
        "valueindex.disk_bytes" -> Workload.dirBytes(s"$dir/vidx$rep"))
    }
  }
}
