package perfbench

import graft.{TripleStore, ValueIndex}
import graft.model.Triples
import graft.query._
import graft.sources.{DocIngest, RowIngest}
import graft.streaming.StreamingAssert
import graft.ops.Dedup
import graft.tools.{Cli, ScaleBench}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable
import Workload.{check, eid}

/** Writes beside reads: each round is one ingest batch (new items,
  * card-one status re-assertions, tag retractions, nested documents)
  * asserted into the store, the ValueIndex appended and compacted when
  * fragmented, a streaming microbatch, a save/load cycle and a CLI run
  * (JSON lines ingested and counted), then the curation operators (exact and near-duplicate
  * detection) over a replicated document corpus. Every write is followed
  * by a read-your-write count checked against the generator's ledger. */
object Ingest extends Workload {
  val name = "ingest"
  val IndexBuckets = 8
  /** Curation corpus: the seeded documents replicated by ScaleBench; the
    * factor is fixed so every seed measures the same corpus size. */
  val Factor = 4
  val Threshold = 0.5
  /** LSH banding finds a pair at the threshold with high, not certain,
    * probability. */
  val NearDupRecallFloor = 0.9
  val CliEvents = 300
  val CliSchema = """{"ev:event_id": {"db:cardinality": "db.cardinality:one",
    "db:valueType": "db.type:long"}, "ev:event_type": {"db:cardinality":
    "db.cardinality:one"}, "ev:value": {"db:cardinality": "db.cardinality:one",
    "db:valueType": "db.type:dbl"}}"""

  def prepare(ctx: Ctx): () => Prepared = {
    val spark = ctx.spark
    val dir = s"${ctx.dir}/ingest"
    val base = Gen.baseItems(ctx.seed)
    val events = Gen.cliEvents(ctx.seed, CliEvents)
    val docs = Gen.docs(ctx.seed, Gen.BaseDocs)
    base.write(spark, dir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/cli"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/cli/events.json"),
      events.map { case (i, t, v) =>
        s"""{"ev:event_id": $i, "ev:event_type": "$t", "ev:value": $v}""" }
        .mkString("", "\n", "\n"))
    ScaleBench.scaleDocs(docs.df(spark), Factor).write.parquet(s"$dir/documents.parquet")
    val df = spark.read.parquet(s"$dir/items.parquet")
    val spec = RowIngest.specFor(df, "item", Seq("item_id"), Nil, Some("i_"))
    var rep = 0
    () => {
      rep += 1
      val store = new TripleStore(spark, RowIngest.tableToTriples(df, spec),
        spec.attrSchemas, preResolved = true, source = Some(RowIngest.TableSource(df, spec)))
      val table = s"perfbench_items$rep"
      ctx.setupTimed("valueindex.build_s")(
        ValueIndex.build(store, table, s"$dir/rep$rep/vidx0", Seq("item:score"), IndexBuckets))
      new Prep(ctx, s"$dir/rep$rep", s"$dir/cli/events.json", base, events, docs, spec,
        store, table,
        spark.read.parquet(s"$dir/documents.parquet"))
    }
  }

  private final class Prep(ctx: Ctx, dir: String, cliInput: String, base: Table,
      events: Seq[(Long, String, Double)], docs: Table, spec: RowIngest.TableSpec,
      store0: TripleStore, table: String, corpus: DataFrame) extends Prepared {
    private val spark = ctx.spark
    import spark.implicits._
    val digest: String = Gen.digest(Seq(base, docs)) + "-" +
      Workload.md5Hex(events.mkString(";")).take(8)
    val sizes: Map[String, Double] = Map(
      "rows.base_items" -> Gen.BaseItems.toDouble,
      "rows.new_items_per_batch" -> Gen.NewPerBatch.toDouble,
      "rows.upserts_per_batch" -> Gen.UpsertsPerBatch.toDouble,
      "rows.retracts_per_batch" -> Gen.RetractsPerBatch.toDouble,
      "rows.docs_per_batch" -> Gen.DocsPerBatch.toDouble,
      "rows.stream_events_per_batch" -> Gen.StreamEventsPerBatch.toDouble,
      "rows.cli_events" -> CliEvents.toDouble,
      "rows.curation_docs" -> texts.size.toDouble,
      "curation_replication_factor" -> Factor.toDouble)
    // ScaleBench.scaleDocs' replicas, rebuilt on the driver for the checks
    private lazy val texts: Map[Long, String] = {
      val base = docs.rows.map(r => r.getLong(0) -> r.getString(1))
      val off = base.map(_._1).max + 1
      (0 until Factor).flatMap(k => base.map { case (id, t) =>
        (id + k * off) -> (if (k == 0) t else t.split(" ").map(w => s"r$k$w").mkString(" "))
      }).toMap
    }
    private lazy val wantPairs = Curation.nearPairs(texts, Threshold)

    // the ledger: what the store must hold
    private val items = mutable.LinkedHashMap.empty[Long, Row]
    base.rows.foreach(r => items(r.getLong(0)) = r)
    private val tagged = mutable.Set(items.keys.toSeq: _*)
    private var store = store0
    private var lastSave: Option[String] = None
    private val streamState = mutable.Map.empty[Long, String] // item -> status
    private var streamEmitted = 0L
    private var vidxPath = s"$dir/vidx0"
    private val attrsPerItem = spec.cols.size + spec.refs.size + 2

    private def top5(): Seq[String] = items.values.toSeq
      .sortBy(r => -r.getDouble(1)).take(5).map(r => s"${r.getLong(0)}|${r.getDouble(1)}")
    private def topProbe(): () => Outcome = {
      val got = ctx.collect(store.withValueIndex(table).pullMany(
        Seq("item:score" -> MAny), Seq(PAttr("item:item_id"), PAttr("item:score")),
        sortBy = Some("score"), desc = true, limit = Some(5)))
        .map(r => s"${r.getAs[Long]("item_id")}|${r.getAs[Double]("score")}").toSeq
      () => Outcome(check(got, top5(), "index top-5"), got.size.toLong)
    }
    private def count(p: Seq[(String, MVal)]): Long =
      ctx.span("triplestore.action")(store.countMatch(p))

    def warmUp(): Unit = store0.countMatch(Seq("item:batch" -> MEq(0L)))

    def round(rnd: Int): Seq[Op] = {
      val b = rnd + 1L
      val r = Gen.rng(ctx.seed, 30 + rnd)
      val firstNew = items.keys.max + 1
      val fresh = (0 until Gen.NewPerBatch).map(k => Gen.item(r, firstNew + k, b))
      val upserted = mutable.LinkedHashSet.empty[Long]
      while (upserted.size < Gen.UpsertsPerBatch) upserted += items.keys.toSeq(r.nextInt(items.size))
      val upserts = upserted.toSeq.map { id =>
        val o = items(id); Row(o.get(0), o.get(1), s"b$b", o.get(3), o.get(4), o.get(5)) }
      val retracted = r.shuffle(tagged.toSeq.sorted).take(Gen.RetractsPerBatch)
      val rows = fresh ++ upserts
      val batchDf = spark.createDataFrame(java.util.Arrays.asList(rows: _*), Gen.itemSchema)
      val docs = (0 until Gen.DocsPerBatch).map(k => Row(b * 1000 + k, s"b$b", s"doc $b-$k",
        Row(s"src${r.nextInt(4)}", Seq("en", "de", "fr")(r.nextInt(3)))))
      val docsDf = spark.createDataFrame(java.util.Arrays.asList(docs: _*), Gen.docSchema)
      val evRows = {
        val t0 = 1700000000L + b * 100000L
        (0 until Gen.StreamEventsPerBatch).map { k =>
          val id = items.keys.toSeq(r.nextInt(math.min(items.size, 400)))
          Row(id, s"st${r.nextInt(3)}", java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(t0 + k)))
        }
      }
      // the producer's file lands before the microbatch that reads it
      val evDf = spark.createDataFrame(java.util.Arrays.asList(evRows: _*), Gen.eventSchema)
      evDf.coalesce(1).write.mode("append").parquet(s"$dir/stream_in")
      def op(f: String, layer: String)(call: => () => Outcome) = Op(f, layer, () => call)
      lazy val triples = RowIngest.tableToTriples(batchDf, spec, txId = b)
      lazy val docTriples = DocIngest.flatten(docsDf, "doc", Seq("doc:doc_id"), txId = b)
      val savePath = s"$dir/store$b"
      Seq(
        op("flatten_rows", "sources.flatten") {
          val n = ctx.span("triplestore.action")(triples.count())
          () => Outcome(check(Seq(n.toString), Seq((rows.size * attrsPerItem).toString),
            "flatten_rows"), n, Map("triples_out" -> n.toDouble))
        },
        op("row_assert", "triplestore.assert") {
          store = ctx.span("triplestore.call")(store.assertTriples(triples))
          val got = Seq(count(Seq("item:batch" -> MEq(b))), count(Seq("item:status" -> MEq(s"b$b"))))
          fresh.foreach(x => items(x.getLong(0)) = x)
          tagged ++= fresh.map(_.getLong(0))
          upserts.foreach(x => items(x.getLong(0)) = x)
          () => Outcome(check(got.map(_.toString),
            Seq(fresh.size, upserts.size).map(_.toString), "row_assert"), 2L,
            Map("triples_in" -> (rows.size * attrsPerItem).toDouble))
        },
        op("retract", "triplestore.retract") {
          val pattern = retracted.map(id => (eid("item", id), "item:tag")).toDF("e", "a")
          store = ctx.span("triplestore.call")(store.retract(pattern))
          val got = count(Seq("item:tag" -> MAny))
          tagged --= retracted
          () => Outcome(check(Seq(got.toString), Seq(tagged.size.toString), "retract"), 1L)
        },
        op("flatten_docs", "sources.doc_flatten") {
          val n = ctx.span("triplestore.action")(docTriples.count())
          // per doc: doc_id, batch, title, ident, meta ref; per meta: source, lang, ident
          () => Outcome(check(Seq(n.toString), Seq((docs.size * 8).toString), "flatten_docs"),
            n, Map("triples_out" -> n.toDouble))
        },
        op("doc_assert", "triplestore.assert") {
          store = ctx.span("triplestore.call")(store.assertTriples(docTriples))
          val got = count(Seq("doc:batch" -> MEq(s"b$b")))
          () => Outcome(check(Seq(got.toString), Seq(docs.size.toString), "doc_assert"), 1L,
            Map("triples_in" -> docs.size * 8.0))
        },
        op("vidx_append", "valueindex.append") {
          val fdf = spark.createDataFrame(java.util.Arrays.asList(fresh: _*), Gen.itemSchema)
          val batchStore = new TripleStore(spark, RowIngest.tableToTriples(fdf, spec, txId = b),
            spec.attrSchemas, preResolved = true,
            source = Some(RowIngest.TableSource(fdf, spec, txId = b)))
          ValueIndex.append(batchStore, table)
          topProbe()
        },
        op("vidx_compact", "valueindex.compact") {
          val next = s"$dir/vidx$b"
          if (ValueIndex.compactIfFragmented(spark, table, next, nBuckets = IndexBuckets).isDefined)
            vidxPath = next
          topProbe()
        },
        op("stream", "streaming.microbatch") {
          val evSpec = RowIngest.specFor(evDf.drop("ts"), "item", Seq("item_id"), Nil,
            Some("i_"))
          val q = StreamingAssert.resolveCardOne(StreamingAssert.streamTriplesWithTime(
              spark.readStream.schema(Gen.eventSchema).parquet(s"$dir/stream_in"), evSpec, "ts"))
            .writeStream.format("parquet")
            .option("checkpointLocation", s"$dir/stream_ck")
            .trigger(Trigger.AvailableNow()).start(s"$dir/stream_out")
          q.awaitTermination()
          // the ledger: each (item, attr) pair emits when its latest value
          // changes; item_id, ident and type never change after the first
          evRows.groupBy(_.getLong(0)).foreach { case (id, rs) =>
            val latest = rs.maxBy(_.getTimestamp(2).getTime).getString(1)
            if (!streamState.contains(id)) streamEmitted += 4
            else if (streamState(id) != latest) streamEmitted += 1
            else ()
            streamState(id) = latest
          }
          () => {
            val n = spark.read.parquet(s"$dir/stream_out").count()
            Outcome(check(Seq(n.toString), Seq(streamEmitted.toString), "stream"), n)
          }
        },
        op("save", "triplestore.save") {
          ctx.span("triplestore.action")(store.save(savePath))
          lastSave = Some(savePath)
          () => {
            val n = spark.read.parquet(savePath).where(col("a") === "item:batch").count()
            Outcome(check(Seq(n.toString), Seq(items.size.toString), "save"), n)
          }
        },
        op("load", "triplestore.load") {
          store = ctx.span("triplestore.call")(TripleStore.load(spark, savePath))
          val got = Seq(count(Seq(Triples.TypeAttr -> MEq("item"))), count(Seq("item:tag" -> MAny)))
          () => Outcome(check(got.map(_.toString), Seq(items.size, tagged.size).map(_.toString),
            "load"), 2L)
        },
        op("cli_count", "cli.count") {
          val gt = r.nextInt(9000) / 100.0
          val out = s"$dir/cli/count$b"
          Cli.run(spark, Array("count", "-i", cliInput, "-I", "ev:event_id",
            "-s", CliSchema, "-e", s"""{"ev:value": {"$$gt": $gt}}""", "-o", out))
          () => {
            val got = spark.read.json(out).collect().map(_.getAs[Long]("count").toString).toSeq
            Outcome(check(got, Seq(events.count(_._3 > gt).toString), "cli_count"), 1L)
          }
        },
        op("exact_dedup", "ops.exact_dedup") {
          val n = Dedup.exact(corpus, "doc_id", "text").count()
          () => Outcome(check(Seq(n.toString), Seq(texts.values.toSet.size.toString),
            "exact_dedup"), n)
        },
        op("near_dup", "ops.near_dup") {
          val got = Dedup.nearDupPairs(corpus, "doc_id", "text", Threshold).collect()
            .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
          () => Outcome(Curation.pairsOk(got, texts, wantPairs, Threshold,
            NearDupRecallFloor), got.size.toLong)
        })
    }

    override def workloadMetrics(ops: Seq[OpRecord]): Seq[(String, Double, String)] = {
      val writes = ops.filter(_.extra.contains("triples_in"))
      val live = lastSave.map(p => spark.read.parquet(p).count().toDouble).getOrElse(0.0)
      val bytes = lastSave.map(Workload.dirBytes).getOrElse(0.0) + Workload.dirBytes(vidxPath)
      Seq(("ingest_triples_per_s", writes.map(_.extra("triples_in")).sum /
          writes.map(_.seconds).sum, "1/s"),
        ("store_bytes_per_triple", if (live > 0) bytes / live else 0.0, "bytes"))
    }

    override def layerMetrics(ops: Seq[OpRecord]): Map[String, Double] =
      Map("valueindex.disk_bytes" -> Workload.dirBytes(vidxPath))
  }
}
