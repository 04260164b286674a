package perfbench

import java.security.MessageDigest
import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.util.Random

/** A generated table: its schema and rows, kept on the driver so the
  * checks can recompute answers without going through the program. */
final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row]) {
  def df(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  /** Written as `<dir>/<name>.parquet`, the layout `graft.sources.Tpch`
    * reads. */
  def write(spark: SparkSession, dir: String): Unit =
    df(spark).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
}

/** Seeded input generators. Every generator takes its own stream
  * (`rng(seed, salt)`), so the same seed gives identical inputs no matter
  * which workload asks first. */
object Gen {
  def rng(seed: Long, salt: Int): Random = new Random(seed * 1000003L + salt)

  /** SHA-256 over the rendered rows, printed with each run so two runs'
    * inputs can be compared. */
  def digest(tables: Seq[Table]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    for (t <- tables; r <- t.rows)
      md.update((t.name + "|" + r.mkString("|") + "\n").getBytes("UTF-8"))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** TPC-H-shaped tables with the column names and types of the
    * project's test data; `scale` 1 is the sf0.01 size (1 500 customers,
    * 15 000 orders, ~60 000 line items). Money columns are made unique
    * (the rank of a value is then a function of the data, so top-k
    * answers have no ties). */
  def tpch(seed: Long, scale: Double): Seq[Table] = {
    val r = rng(seed, 1)
    val nCust = (1500 * scale).toInt
    val nSupp = math.max(10, (100 * scale).toInt)
    val nPart = (2000 * scale).toInt
    val nOrd = (15000 * scale).toInt
    def money(n: Int, k: Int, spread: Int, shift: Double): Double =
      (r.nextInt(spread).toLong * n + k).toDouble / 100.0 + shift
    val day0 = LocalDateTime.of(1992, 1, 1, 0, 0)
    val region = Table("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Regions.indices.map(i => Row(i, Regions(i))))
    val nation = Table("nation", st("n_nationkey" -> IntegerType,
      "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, f"NATION$i%02d", r.nextInt(5))))
    val customer = Table("customer", st("c_custkey" -> LongType,
      "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (1 to nCust).map(k => Row(k.toLong, f"Customer#$k%09d", r.nextInt(25),
        money(nCust, k - 1, 7000, -999.99), Segments(r.nextInt(5)))))
    val supplier = Table("supplier", st("s_suppkey" -> LongType,
      "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (1 to nSupp).map(k => Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25),
        money(nSupp, k - 1, 10000, -999.99))))
    val part = Table("part", st("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
      (1 to nPart).map(k => Row(k.toLong, s"part $k", s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
        Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY")(r.nextInt(5)) + " BRUSHED TIN",
        1 + r.nextInt(50), 900.0 + (k % 20001) / 10.0)))
    val orders = Table("orders", st("o_orderkey" -> LongType,
      "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType,
      "o_orderpriority" -> StringType),
      (1 to nOrd).map(k => Row(k.toLong, (1 + r.nextInt(nCust)).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), money(nOrd, k - 1, 3000, 0.0),
        day0.plusDays(r.nextInt(2400).toLong),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)))))
    val lineitem = Table("lineitem", st("l_orderkey" -> LongType,
      "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
      "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType),
      (1 to nOrd).flatMap { o =>
        (1 to 1 + r.nextInt(7)).map { ln =>
          val q = (1 + r.nextInt(50)).toDouble
          Row(o.toLong, (1 + r.nextInt(nPart)).toLong, (1 + r.nextInt(nSupp)).toLong,
            ln, q, q * (900 + r.nextInt(1100)), r.nextInt(11) / 100.0,
            r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
            Seq("F", "O")(r.nextInt(2)), day0.plusDays(r.nextInt(2500).toLong))
        }
      })
    Seq(region, nation, customer, supplier, part, orders, lineitem)
  }

  /** The synthetic ref graph of the traverse workload.
    *
    * `gnode`, the DAG part: `DagLevels` levels of `DagWidth` nodes. Every
    * node below level 0 has one `up` ref to a random node one level up (a
    * tree), and a quarter of them a second `side` ref to another node of
    * that level (the DAG share), so a leaf is 16 hops from level 0.
    *
    * `cnode`, the cyclic part: `Rings` rings of `RingSize` nodes, each
    * with a `next` ref around its ring and, for a fifth of the nodes, a
    * `chord` ref to a random node of the same ring. Every cnode is on a
    * cycle and at most `RingSize - 1` hops from any node of its ring;
    * 96 of the 912 graph nodes (11%) are cyclic. */
  val DagLevels = 17
  val DagWidth = 48
  val Rings = 16
  val RingSize = 6
  val LeafGroups = 8

  def graph(seed: Long): Seq[Table] = {
    val r = rng(seed, 2)
    def dkey(l: Int, i: Int): Long = l * 1000L + i
    def ckey(ring: Int, i: Int): Long = 100000L + ring * 1000L + i
    val gnode = Table("gnode", st("g_key" -> LongType, "g_parent" -> LongType,
      "g_alt" -> LongType, "g_group" -> LongType, "g_level" -> LongType),
      for (l <- 0 until DagLevels; i <- 0 until DagWidth) yield {
        val p = if (l == 0) null else dkey(l - 1, r.nextInt(DagWidth))
        val alt = if (l > 0 && r.nextDouble() < 0.25) {
          val j = r.nextInt(DagWidth)
          if (dkey(l - 1, j) == p) null else dkey(l - 1, j)
        } else null
        val group = if (l == DagLevels - 1) (i % LeafGroups).toLong else -1L
        Row(dkey(l, i), p, alt, group, l.toLong)
      })
    val cnode = Table("cnode", st("c_key" -> LongType, "c_next" -> LongType,
      "c_chord" -> LongType),
      for (ring <- 0 until Rings; i <- 0 until RingSize) yield {
        val chord = if (r.nextDouble() < 0.2) ckey(ring, r.nextInt(RingSize)) else null
        Row(ckey(ring, i), ckey(ring, (i + 1) % RingSize), chord)
      })
    Seq(gnode, cnode)
  }

  /** Ingest inputs: a base item table and, per batch, new items, card-one
    * re-assertions of existing items' status and a set of items whose
    * tag is retracted. */
  val BaseItems = 2000
  val NewPerBatch = 200
  val UpsertsPerBatch = 50
  val RetractsPerBatch = 20
  val DocsPerBatch = 50
  val StreamEventsPerBatch = 40

  val itemSchema: StructType = st("item_id" -> LongType, "i_score" -> DoubleType,
    "i_status" -> StringType, "i_tag" -> StringType, "i_batch" -> LongType,
    "i_qty" -> LongType)

  def item(r: Random, id: Long, batch: Long): Row =
    Row(id, (r.nextInt(5000).toLong * 1000000L + id).toDouble / 100.0,
      s"new", s"tag${r.nextInt(40)}", batch, (1 + r.nextInt(100)).toLong)

  def baseItems(seed: Long): Table = {
    val r = rng(seed, 3)
    Table("items", itemSchema, (1 to BaseItems).map(k => item(r, k.toLong, 0L)))
  }

  val docSchema: StructType = st("doc_id" -> LongType, "batch" -> StringType,
    "title" -> StringType,
    "meta" -> st("source" -> StringType, "lang" -> StringType))

  val eventSchema: StructType = st("item_id" -> LongType,
    "i_status" -> StringType, "ts" -> TimestampType)

  /** JSON lines for the CLI ops: `n` flat event documents. */
  def cliEvents(seed: Long, n: Int): IndexedSeq[(Long, String, Double)] = {
    val r = rng(seed, 4)
    (1 to n).map(i => (i.toLong, Seq("click", "view", "purchase")(r.nextInt(3)),
      r.nextInt(10000) / 100.0))
  }

  /** Curation inputs: documents over a seeded vocabulary, with planted
    * exact duplicates (5%) and near duplicates (10%, one word replaced per
    * 25). */
  val BaseDocs = 400
  def docs(seed: Long, nDocs: Int): Table = {
    val r = rng(seed, 6)
    val vocab = (0 until 3000).map(i => s"w$i")
    def text(n: Int) = Seq.fill(n)(vocab(r.nextInt(vocab.size)))
    val out = IndexedSeq.newBuilder[Row]
    var texts = Vector.empty[Seq[String]]
    for (k <- 0 until nDocs) {
      val u = r.nextDouble()
      val words =
        if (texts.nonEmpty && u < 0.05) texts(r.nextInt(texts.size))
        else if (texts.nonEmpty && u < 0.15) {
          val src = texts(r.nextInt(texts.size))
          src.zipWithIndex.map { case (w, i) =>
            if (i % 25 == 7) vocab(r.nextInt(vocab.size)) else w }
        } else text(30 + r.nextInt(50))
      texts :+= words
      out += Row(k.toLong, words.mkString(" "), s"src${r.nextInt(4)}")
    }
    Table("documents", st("doc_id" -> LongType, "text" -> StringType,
      "source" -> StringType), out.result())
  }
}
