package graft

import graft.model.Triples
import graft.sources.{AttrMap, DocIngest}
import org.scalatest.funsuite.AnyFunSuite

class DocIngestSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("flatten: scalars, ident self-assertion, nulls dropped (W2)") {
    val docs = Seq(("d1", Some(42L)), ("d2", None)).toDF("name", "n")
    val t = DocIngest.flatten(docs, "x", Seq("x:name"))
    val byAttr = t.groupBy($"a").count().as[(String, Long)].collect().toMap
    assert(byAttr("x:name") === 2)
    assert(byAttr(Triples.IdentAttr) === 2)
    assert(byAttr.get("x:n") === Some(1)) // null produced no triple
  }

  test("flatten: array-of-scalar → cardinality-many triples") {
    val docs = Seq(("d1", Seq("a", "b", "c"))).toDF("id", "tags")
    val t = DocIngest.flatten(docs, "x", Seq("x:id"))
    assert(t.where($"a" === "x:tags").count() === 3)
  }

  test("flatten: id_attrs resolution is deterministic and cross-batch (W3)") {
    val b1 = Seq(("u1", "ada")).toDF("uid", "name")
    val b2 = Seq(("u1", "ada lovelace")).toDF("uid", "name")
    val e1 = DocIngest.flatten(b1, "u", Seq("u:uid"))
      .where($"a" === "u:uid").select($"e").as[String].head()
    val e2 = DocIngest.flatten(b2, "u", Seq("u:uid"))
      .where($"a" === "u:uid").select($"e").as[String].head()
    assert(e1 === e2) // same id value ⇒ same entity, no coordination
  }

  test("toy.csv attr_map golden (bio.py:99-125): rename, nest, missing→null") {
    // toy.csv content (FIXTURES.md §2) as rows
    val toy = Seq(
      ("EBOV", "jena", "s1", "i1", "2017-06-01", "t1"),
      ("EBOV", "jena", "s2", "i2", "2017-06-01", "t1"),
      ("EBOV", "seattle", "s3", "i3", "2017-06-03", "t2"),
      ("IAV", "seattle", "s3", "i4", "2017-06-03", "t2"))
      .toDF("virus", "geo", "sample", "id", "date", "date_id")
    val docs = AttrMap.withAttrMap(toy, Seq(
      "seq:id" -> AttrMap.Src("id"),
      "seq:virus" -> AttrMap.Src("virus"),
      "seq:notpresent" -> AttrMap.Src("foobar"), // absent column → null
      "seq:geo" -> AttrMap.Src("geo"),
      "seq:date" -> AttrMap.Nested("date",
        Seq("date:day" -> "date", "date:time" -> "time", "date:id" -> "date_id")),
      "seq:sample" -> AttrMap.Nested("sample", Seq("sample:id" -> "sample"))),
      "toy")
    assert(docs.columns.toSet === Set("toy.seq:id", "toy.seq:virus",
      "toy.seq:notpresent", "toy.seq:geo", "toy.seq:date", "toy.seq:sample"))

    val triples = DocIngest.flatten(docs, "toy",
      Seq("toy.seq:id", "toy.date:id", "toy.sample:id"))
    // NOT preResolved: id-attr resolution merges the two t1 dates into one
    // entity, so identical facts repeat and need set-semantics dedup
    val ts = new TripleStore(spark, triples,
      DocIngest.schemasFor(docs, "toy"))

    // 4 seqs; dates dedup to 2 entities by date:id; samples to 3
    assert(ts.matchEntities(Seq("toy.seq:id" -> query.MAny)).count() === 4)
    assert(ts.matchEntities(Seq("toy.date:id" -> query.MAny)).count() === 2)
    assert(ts.matchEntities(Seq("toy.sample:id" -> query.MAny)).count() === 3)
    // notpresent produced no triples at all
    assert(ts.resolved.where($"a" === "toy.seq:notpresent").count() === 0)
    // nested type stamp present (bio.py stamps types on sub-entities)
    assert(ts.resolved.where($"a" === "toy:type" && $"vstr" === "date")
      .count() === 2)
    // graph round-trip: seqs sharing sample s3 → same sample entity
    val seqsOfS3 = ts.pullMany(
      Seq("toy.sample:id" -> query.MEq("s3")),
      Seq(PullRev("toy.seq:sample")))
    assert(seqsOfS3.count() === 1)
  }

  private def PullRev(attr: String) =
    query.PNest(attr, Seq(query.PAttr("toy.seq:id")), reverse = true)

  test("EAV jsonl dump has one line per entity (S3)") {
    val docs = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val t = DocIngest.flatten(docs, "d", Seq("d:k"))
    val ts = new TripleStore(spark, t, DocIngest.schemasFor(docs, "d"),
      preResolved = true)
    val dir = java.nio.file.Files.createTempDirectory("dump").toString + "/out"
    DocIngest.dumpEavJsonl(ts.resolved, dir)
    val back = spark.read.json(dir)
    assert(back.count() === 2)
    assert(back.columns.contains("e") && back.columns.contains("attrs"))
  }

  test("loadEavJsonl reads ONE pass via the schema sidecar and agrees " +
      "with the inferred read; foreign dumps fall back to inference") {
    import org.apache.spark.sql.functions._
    val docs = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val t = DocIngest.flatten(docs, "d", Seq("d:k"))
    val ts = new TripleStore(spark, t, DocIngest.schemasFor(docs, "d"),
      preResolved = true)
    val dir = java.nio.file.Files.createTempDirectory("dump2").toString + "/out"
    DocIngest.dumpEavJsonl(ts.resolved, dir)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_graft_schema.json")))
    val fast = DocIngest.loadEavJsonl(spark, dir)
    // declared schema, not inferred: attrs is the dump's exact map type
    assert(fast.schema("attrs").dataType.isInstanceOf[
      org.apache.spark.sql.types.MapType])
    def vals(df: org.apache.spark.sql.DataFrame) = df.select(col("e"),
        col("attrs").getField("d:k").getItem(0).as("k"),
        col("attrs").getField("d:v").getItem(0).cast("long").as("v"))
      .as[(String, String, Long)].collect().toSet
    assert(vals(fast) === vals(spark.read.json(dir)))
    // sidecar removed → inference fallback still reads the artifact
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "_graft_schema.json"))
    assert(vals(DocIngest.loadEavJsonl(spark, dir)) === vals(fast))
  }
}
