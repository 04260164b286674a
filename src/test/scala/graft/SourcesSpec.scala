package graft

import graft.query.MEq
import graft.sources.{BioFormats, JsonSource}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** FASTA / Newick / JSON / map-command sources (S1-S8) + constructors. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmpFile(name: String, content: String): String = {
    val d = Files.createTempDirectory("src")
    val f = d.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test("FASTA ingest: header/desc split, multi-line sequences joined (S6)") {
    val path = tmpFile("x.fasta",
      """>seq1 first sequence
        |AATT
        |CGGA
        |>seq2
        |GGCC
        |""".stripMargin)
    val out = BioFormats.readFasta(spark, path)
      .orderBy(col("`bio.seq:id`"))
      .as[(String, String, String)].collect().toList
    assert(out === List(
      ("seq1", "first sequence", "AATTCGGA"),
      ("seq2", "", "GGCC")))
  }

  test("Newick parse: nesting, branch lengths, anonymous clades (S7)") {
    val clades = BioFormats.parseNewick("((A:0.1,B:0.2)AB:0.3,C:0.4)root;")
    val byName = clades.map(c => c._1 -> c).toMap
    assert(byName("A")._2 === Some("AB"))
    assert(byName("B")._3 === Some(0.2))
    assert(byName("AB")._2 === Some("root"))
    assert(byName("C")._2 === Some("root"))
    assert(byName("root")._2 === None)
  }

  test("Newick triples: parent chain walkable via datalog") {
    val t = BioFormats.newickTriples(spark, "((A,B)AB,C)root;")
    val ts = new TripleStore(spark, t,
      Map("bio.clade:name" -> graft.model.AttrSchema("bio.clade:name",
        cardOne = true, isRef = false, graft.model.Triples.VStr),
        "bio.clade:parent" -> graft.model.AttrSchema("bio.clade:parent",
          cardOne = true, isRef = true, graft.model.Triples.VRef)))
    // child name → parent name through the parent eid
    val out = ts.datalog(Seq("?c", "?pn"), Seq(
      ("?x", "bio.clade:name", "?c"),
      ("?x", "bio.clade:parent", "?p"),
      ("?y", "db:ident", "?p"),
      ("?y", "bio.clade:name", "?pn")))
      .as[(String, String)].collect().toMap
    assert(out === Map("A" -> "AB", "B" -> "AB", "AB" -> "root", "C" -> "root"))
  }

  test("file lineage: provenance graph walkable through source refs (S9)") {
    val files = Seq(
      ("/build/a.out", Seq("/src/a.c", "/src/lib.h")),
      ("/build/b.out", Seq("/build/a.out")))
      .toDF("path", "sources")
    val t = JsonSource.fileLineage(files, "path", "sources",
      baseDir = Some("/build"))
    val ts = new TripleStore(spark, t, Map(
      "tripl.file:path" -> graft.model.AttrSchema("tripl.file:path",
        cardOne = true, isRef = false, graft.model.Triples.VStr),
      "tripl.file:sources" -> graft.model.AttrSchema("tripl.file:sources",
        cardOne = false, isRef = true, graft.model.Triples.VRef)))
    // paths under the base dir relativize; others stay absolute
    val paths = ts.resolved.where($"a" === "tripl.file:path")
      .select($"vstr").as[String].collect().toSet
    assert(paths === Set("a.out", "b.out", "/src/a.c", "/src/lib.h"))
    // b.out's transitive sources = a.out + a.out's own sources (the stub
    // and a.out's entity unified by cross-doc resolution)
    val bOut = ts.matchEntities(Seq("tripl.file:path" -> MEq("b.out")))
    val reached = ts.reachable(bOut, Some(Seq("tripl.file:sources")))
      .where($"depth" > 0).select($"e").distinct()
    val reachedPaths = reached.join(
        ts.resolved.where($"a" === "tripl.file:path"), Seq("e"))
      .select($"vstr").as[String].collect().toSet
    assert(reachedPaths === Set("a.out", "/src/a.c", "/src/lib.h"))
  }

  test("file contents ingest unifies with lineage entities by path (S9+)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_contents")
    val f = dir.resolve("a.out")
    java.nio.file.Files.writeString(f, "built artifact body")
    // lineage names the file by relative path; contents ingest must land
    // on the SAME entity (path-keyed cross-doc resolution)
    val lineage = JsonSource.fileLineage(
      Seq((f.toString, Seq("/src/a.c"))).toDF("path", "sources"),
      "path", "sources", baseDir = Some(dir.toString))
    val contents = JsonSource.fileContents(spark, Some(dir.toString), f.toString)
    val ts = new TripleStore(spark, lineage.unionByName(contents), Map(
      "tripl.file:path" -> graft.model.AttrSchema("tripl.file:path",
        cardOne = true, isRef = false, graft.model.Triples.VStr),
      "tripl.file:sources" -> graft.model.AttrSchema("tripl.file:sources",
        cardOne = false, isRef = true, graft.model.Triples.VRef),
      "tripl.file:contents" -> graft.model.AttrSchema("tripl.file:contents",
        cardOne = true, isRef = false, graft.model.Triples.VStr)))
    val aOut = ts.matchEntities(Seq("tripl.file:path" -> MEq("a.out")))
    assert(aOut.count() === 1) // one unified entity, not lineage + contents
    val pulled = ts.pull(aOut, Seq(
      query.PAttr("tripl.file:contents", Some("body")),
      query.PRevIds("tripl.file:sources", Some("derived"))))
    val row = pulled.head()
    assert(row.getAs[String]("body") === "built artifact body")
  }

  test("multi-file JSON load keeps per-file provenance (S1/S2)") {
    val f1 = tmpFile("a.json", """{"u:id": "u1", "u:name": "ada"}""")
    val f2 = tmpFile("b.json", """{"u:id": "u2", "u:name": "bob"}""")
    val t = JsonSource.loadFacts(spark, "u", Seq("u:id"), f1, f2)
    val srcs = t.where($"a" === "tripl.file:source")
      .select($"vstr").as[String].collect().toSet
    assert(srcs.size === 2)
    assert(t.where($"a" === "u:name").count() === 2)
  }

  test("failable JSON load captures corrupt records as error entities (S8)") {
    val f = tmpFile("mixed.json",
      """{"u:id": "u1", "u:name": "ada"}
        |{not json at all
        |""".stripMargin)
    val t = JsonSource.loadFactsFailable(spark, "u", Seq("u:id"), f)
    assert(t.where($"a" === "u:name").count() === 1)
    assert(t.where($"a" === "tripl.nestly:error").count() === 1)
  }

  test("map-command pipes partitions through an external process (S5)") {
    val lines = Seq("""{"v": 1}""", """{"v": 2}""").toDS()
    val out = JsonSource.mapCommand(lines, "cat").collect().toSet
    assert(out === Set("""{"v": 1}""", """{"v": 2}"""))
    val upper = JsonSource.mapCommand(lines, "tr a-z A-Z").collect().toSet
    assert(upper.exists(_.contains("\"V\"")))
  }

  test("Tpch cache is keyed per session: no stale frames across sessions") {
    val dir = "/root/testdata/sf0.001"
    val s2 = spark.newSession()
    val a = graft.sources.Tpch.raw(spark, dir, "region")
    val b = graft.sources.Tpch.raw(s2, dir, "region")
    // same session → cache hit (same frame); other session → its own frame
    assert(a eq graft.sources.Tpch.raw(spark, dir, "region"))
    assert(!(a eq b))
    assert(b.sparkSession eq s2)
    assert(b.count() === a.count())
  }

  // Schema-drift guard: the driver has shipped events.ts BOTH as
  // TIMESTAMP(NANOS) (reads as a plain long under nanosAsLong) and as
  // TIMESTAMP_MICROS/NTZ. Every generation must normalize through the ONE
  // reader in Tpch — this test breaks loudly if a future regeneration
  // (or a reader edit) drops a branch.
  test("events ts drift guard: nanos-long and micros-ntz fixtures both read (Tpch)") {
    import org.apache.spark.sql.types._
    // 1704164645123456789 ns = 2024-01-02 03:04:05.123456789 UTC
    val nanos = 1704164645123456789L
    val wantMicros = "2024-01-02 03:04:05.123456"

    // branch 1: nanos-as-long → exact div-1000 conversion to micros NTZ
    val longDf = Seq((1L, nanos)).toDF("event_id", "ts")
    val n1 = graft.sources.Tpch.normalizeEventsTs(longDf)
    assert(n1.schema("ts").dataType === TimestampNTZType)
    assert(n1.select(col("ts").cast("string")).head.getString(0) === wantMicros)

    // branch 2: micros NTZ passes through untouched
    val ntzDf = longDf.withColumn("ts",
      timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    val n2 = graft.sources.Tpch.normalizeEventsTs(ntzDf)
    assert(n2.schema("ts").dataType === TimestampNTZType)
    assert(n2.select(col("ts").cast("string")).head.getString(0) === wantMicros)

    // end-to-end through real parquet fixtures: one sfDir per physical
    // encoding, each routed through Tpch.raw AND the eventsStream probe
    def fixture(tsCol: org.apache.spark.sql.Column, tag: String): String = {
      val d = Files.createTempDirectory(s"evdrift_$tag")
      Seq((1L, nanos, 7L, "click", 1.5, "{}"))
        .toDF("event_id", "ts_raw", "user_id", "event_type", "value", "props")
        .withColumn("ts", tsCol).drop("ts_raw")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(d.resolve("events.parquet").toString)
      d.toString
    }
    val longDir = fixture(col("ts_raw"), "long") // INT64, no logical type
    val ntzDir = fixture(
      timestamp_micros(expr("ts_raw div 1000")).cast("timestamp_ntz"), "ntz")
    for (dir <- Seq(longDir, ntzDir)) {
      val raw = graft.sources.Tpch.raw(spark, dir, "events")
      assert(raw.schema("ts").dataType === TimestampNTZType)
      assert(raw.select(col("ts").cast("string")).head.getString(0)
        === wantMicros)
      val st = graft.sources.Tpch.eventsStream(spark, dir)
      assert(st.isStreaming)
      // stream side normalizes to TIMESTAMP (UTC tz ⇒ NTZ-identical)
      assert(st.schema("ts").dataType === TimestampType)
    }
  }

  test("documents/embeddings width-drift guard: int32 ids and double " +
      "embeddings pin back to the expected types (Tpch)") {
    import org.apache.spark.sql.types._
    // documents with int32 doc_id/n_chars (a pandas regeneration shape)
    val dDir = Files.createTempDirectory("docdrift")
    Seq((1, "hello world", "en", "s0", 11))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dDir.resolve("documents.parquet").toString)
    val docs = graft.sources.Tpch.raw(spark, dDir.toString, "documents")
    assert(docs.schema("doc_id").dataType === LongType)
    assert(docs.schema("n_chars").dataType === LongType)
    // embeddings with double[] vectors and long label
    val eDir = Files.createTempDirectory("embdrift")
    Seq((1, Array(0.5, 0.25), 3L))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(eDir.resolve("embeddings.parquet").toString)
    val emb = graft.sources.Tpch.raw(spark, eDir.toString, "embeddings")
    assert(emb.schema("vec_id").dataType === LongType)
    assert(emb.schema("embedding").dataType
      .asInstanceOf[ArrayType].elementType === FloatType)
    assert(emb.schema("label").dataType === IntegerType)
    // the already-correct generation passes through unchanged
    val cur = graft.sources.Tpch.raw(spark, "/root/testdata/sf0.001",
      "embeddings")
    assert(cur.schema("embedding").dataType
      .asInstanceOf[ArrayType].elementType === FloatType)
  }

  test("tpch width-drift guard: every relational table pins keys and " +
      "measures back to expected types (Tpch)") {
    import org.apache.spark.sql.types._
    // a regeneration writing narrow ints and floats (pandas downcast
    // shapes) must surface through Tpch.raw with the pinned widths
    val d = Files.createTempDirectory("tpchdrift")
    Seq((1, 2, "F", 3.5f, new java.sql.Timestamp(0L), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(d.resolve("orders.parquet").toString)
    val ord = graft.sources.Tpch.raw(spark, d.toString, "orders")
    assert(ord.schema("o_orderkey").dataType === LongType)
    assert(ord.schema("o_custkey").dataType === LongType)
    assert(ord.schema("o_totalprice").dataType === DoubleType)
    assert(ord.schema("o_orderdate").dataType === TimestampNTZType)
    Seq((1, 2, 3, 4L, 5.0f, 6.0f, 0.5f, 0.25f, "R", "F",
        new java.sql.Timestamp(0L)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(d.resolve("lineitem.parquet").toString)
    val li = graft.sources.Tpch.raw(spark, d.toString, "lineitem")
    assert(li.schema("l_orderkey").dataType === LongType)
    assert(li.schema("l_linenumber").dataType === IntegerType)
    assert(li.schema("l_quantity").dataType === DoubleType)
    assert(li.schema("l_shipdate").dataType === TimestampNTZType)
    // the current generation passes through with identical schemas
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      val cur = graft.sources.Tpch.raw(spark, "/root/testdata/sf0.001", t)
      val plain = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
      assert(cur.schema === plain.schema, s"pin changed current $t schema")
    }
  }

  test("entity constructors build namespaced docs (W9)") {
    val doc = Constructors.entityCons("cft.type:seq", "cft.seq")(
      "id" -> "s1", "cft:description" -> "x")
    assert(doc === Map(
      "cft.seq:id" -> "s1", "cft:description" -> "x",
      "cft:type" -> "cft.type:seq"))
  }
}
