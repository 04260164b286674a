package graft

import graft.query._
import graft.sources.DocIngest
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests mirroring the reference's hypothesis test
  * (tests/test_tripl.py:25-27 — arbitrary subject entities asserted with
  * id_attrs must not crash and must converge) plus the engine-level
  * invariants from SURVEY.md §5: idempotent re-assert (set semantics),
  * upsert-by-id convergence, and flatten∘pull round-trip.
  *
  * Raw ScalaCheck generators with FIXED seeds (the scalatest bridge
  * artifact is not available offline): deterministic, few cases per
  * property — each case is a Spark job. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val idGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(12))
  private val docGen = for {
    id <- idGen
    name <- Gen.alphaStr.map(_.take(20))
    n <- Gen.choose(0L, 1000L)
  } yield (id, name, n)
  private val batchGen = Gen.nonEmptyListOf(docGen).map(_.take(8))

  private def cases(k: Int): Seq[Seq[(String, String, Long)]] =
    (0 until k).map(i =>
      batchGen.pureApply(Gen.Parameters.default.withSize(8), Seed(42L + i)))

  private def storeOf(docs: Seq[(String, String, Long)]): TripleStore = {
    val df = docs.toDF("cft.subject:id", "cft.subject:name", "cft.subject:n")
    new TripleStore(spark,
      DocIngest.flatten(df, "cft", Seq("cft.subject:id")),
      DocIngest.schemasFor(df, "cft"))
  }

  test("property: incrementalNearDups == from-scratch nearDupPairs " +
      "restricted to batch x corpus") {
    // synthetic corpora with PLANTED overlap: some batch docs are
    // token-level mutations of corpus docs, the rest disjoint-vocab.
    // The persisted-index incremental path must emit exactly the
    // (batch, corpus) subset of the from-scratch pair set.
    val rnd = new scala.util.Random(91)
    (0 until 2).foreach { trial =>
      def words(p: String, n: Int) = (1 to n).map(j => s"$p$j")
      val corpus = (1L to 15L).map(i => (i, words(s"c${trial}_$i", 20).mkString(" ")))
      val batch = (101L to 110L).map { i =>
        if (i % 2 == 0) {
          // mutate 0-6 tokens of a corpus doc → jaccard spans the threshold
          val src = words(s"c${trial}_${(i % 15) + 1}", 20).toArray
          val nMut = rnd.nextInt(7)
          (1 to nMut).foreach(_ => src(rnd.nextInt(20)) = s"m${rnd.nextInt(1000)}")
          (i, src.mkString(" "))
        } else (i, words(s"b${trial}_$i", 20).mkString(" "))
      }
      val corpusDf = corpus.toDF("doc_id", "text")
      val batchDf = batch.toDF("doc_id", "text")
      val dir = java.nio.file.Files.createTempDirectory("graft_pincr").toString
      val table = s"prop_incr_${trial}"
      graft.ops.Dedup.buildLshIndex(corpusDf, "doc_id", "text",
        table, s"$dir/idx", k = 64, bands = 32, rowsPerBand = 2)
      val got = graft.ops.Dedup.incrementalNearDups(batchDf, table,
          "doc_id", "text", threshold = 0.5,
          k = 64, bands = 32, rowsPerBand = 2)
        .as[(Long, Long, Double)].collect().toSet
      // truth: from-scratch pairs over the UNION, restricted to
      // (batch, corpus) — nearDupPairs emits id1 < id2 and corpus ids
      // are all below batch ids, so (corpus_id, batch_id) flips
      val want = graft.ops.Dedup.nearDupPairs(
          corpusDf.unionAll(batchDf), "doc_id", "text", threshold = 0.5,
          k = 64, bands = 32, rowsPerBand = 2)
        .as[(Long, Long, Double)].collect()
        .filter { case (a, b, _) => a <= 15L && b >= 101L }
        .map { case (a, b, j) => (b, a, j) }.toSet
      assert(got === want, s"trial $trial")
    }
  }

  test("property: exact/keepBest/incrementalExact == driver keep-one " +
      "models (random dup fingerprints, null scores, score ties)") {
    // small text pool → heavy fingerprint collisions; normalization
    // mirrored in the driver model (lowercase + whitespace collapse)
    val textPool = Seq("Alpha  Beta", "alpha beta", "GAMMA", "gamma",
      "delta eps", "zeta")
    def norm(t: String) = t.toLowerCase.replaceAll("\\s+", " ")
    val rowGen = for {
      id <- Gen.choose(0L, 40L)
      t <- Gen.oneOf(textPool)
      score <- Gen.option(Gen.choose(0L, 3L))
    } yield (id, t, score)
    (0 until 3).foreach { i =>
      val rows = Gen.nonEmptyListOf(rowGen).map(_.take(24).distinct)
        .pureApply(Gen.Parameters.default.withSize(24), Seed(777L + i))
      // UNIQUE ids: the keep-one selectors are arbitrary among tied ids
      val uniq = rows.groupBy(_._1).map(_._2.head).toSeq
      val df = uniq.toDF("doc_id", "text", "score")

      val gotExact = graft.ops.Dedup.exact(df, "doc_id", "text")
        .select($"doc_id").as[Long].collect().toSet
      val wantExact = uniq.groupBy(r => norm(r._2))
        .map(_._2.map(_._1).min).toSet
      assert(gotExact === wantExact, s"exact, rows=$uniq")

      // keepBest clustered on the normalized text: max score wins,
      // nulls lose to any real score, min id breaks ties
      val gotBest = graft.ops.Dedup.keepBest(df,
          graft.ops.TextOps.fingerprint($"text"), "doc_id", "score")
        .select($"doc_id").as[Long].collect().toSet
      val wantBest = uniq.groupBy(r => norm(r._2)).map { case (_, g) =>
        val best = g.map(_._3).max(Ordering[Option[Long]]) // None < Some
        g.filter(_._3 == best).map(_._1).min
      }.toSet
      assert(gotBest === wantBest, s"keepBest, rows=$uniq")

      val (corpus, batch) = uniq.splitAt(uniq.size / 2)
      if (corpus.nonEmpty && batch.nonEmpty) {
        val gotIncr = graft.ops.Dedup.incrementalExact(
            batch.toDF("doc_id", "text", "score"),
            corpus.toDF("doc_id", "text", "score"), "doc_id", "text")
          .select($"doc_id").as[Long].collect().toSet
        val known = corpus.map(r => norm(r._2)).toSet
        val wantIncr = batch.groupBy(r => norm(r._2))
          .filterNot { case (fp, _) => known(fp) }
          .map(_._2.map(_._1).min).toSet
        assert(gotIncr === wantIncr, s"incr, corpus=$corpus batch=$batch")
      }
    }
  }

  test("property: re-asserting a batch is a no-op (set semantics)") {
    cases(3).foreach { docs =>
      val once = storeOf(docs).resolved.count()
      val twice = storeOf(docs ++ docs).resolved.count()
      assert(once === twice, s"docs=$docs")
    }
  }

  test("property: same id value ⇒ same entity (upsert convergence, issue 14)") {
    cases(3).foreach { docs =>
      val ts = storeOf(docs)
      val distinctIds = docs.map(_._1).distinct.size
      val entities = ts.matchEntities(Seq("cft.subject:id" -> MAny)).count()
      assert(entities === distinctIds, s"docs=$docs")
    }
  }

  test("property: flatten ∘ pull round-trips scalar values") {
    cases(3).foreach { docs =>
      // same-batch conflicting values for one id have no defined winner;
      // restrict to unique-id batches (dupes are covered above)
      val uniq = docs.groupBy(_._1).map(_._2.head).toSeq
      val ts = storeOf(uniq)
      val out = ts.pullMany(Seq("cft.subject:id" -> MAny),
          Seq(PAttr("cft.subject:id"), PAttr("cft.subject:n")))
        .select(col("id"), col("n"))
        .as[(String, Long)].collect().toMap
      assert(out === uniq.map(d => d._1 -> d._3).toMap)
    }
  }

  test("property: ppJoin candidates+verify == brute-force exact Jaccard") {
    // random low-entropy corpora (8-word vocabulary → heavy shingle
    // sharing, the prefix filter's adversarial case)
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    (0 until 3).foreach { i =>
      val docs = (0 until 20).map(j =>
        (j.toLong, Gen.listOfN(12, word).map(_.mkString(" "))
          .pureApply(Gen.Parameters.default, Seed(1000L * i + j))))
      val df = docs.toDF("doc_id", "text")
      val sh = df.select(col("doc_id"),
        sort_array(graft.ops.Dedup.shingles(col("text"))).as("sh"))
      val t = 0.4
      val got = graft.ops.Dedup.jaccardVerifySh(sh,
          graft.ops.Dedup.ppJoinCandidates(sh, "doc_id", "sh", t),
          "doc_id", t, shCol = "sh")
        .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
      val allPairs = sh.select(col("doc_id").as("id1"))
        .crossJoin(sh.select(col("doc_id").as("id2")))
        .where(col("id1") < col("id2"))
      val want = graft.ops.Dedup.jaccardVerifySh(sh, allPairs,
          "doc_id", t, shCol = "sh")
        .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
      assert(got === want, s"seed block $i")
    }
  }

  test("property: semi-naive datalog closure == driver-computed closure on random DAGs") {
    val rnd = new scala.util.Random(13)
    (0 until 3).foreach { block =>
      val n = 10
      // random DAG: edges only i→j with i < j (acyclic by construction)
      val edges = for {
        i <- 0 until n; j <- (i + 1) until n if rnd.nextDouble() < 0.3
      } yield (i, j)
      val triples = edges.map { case (i, j) => (s"v$i", "g:edge", s"v$j", 0L) }
      // independent truth: transitive closure computed driver-side
      val closure = scala.collection.mutable.Set[(Int, Int)](edges: _*)
      var grew = true
      while (grew) {
        val add = for {
          (a, b) <- closure.toSeq; (c, d) <- closure.toSeq if b == c
        } yield (a, d)
        grew = add.exists(p => !closure(p))
        closure ++= add
      }
      val store = {
        val df = triples.toDF("e", "a", "vstr", "txId")
          .withColumn("vtype", lit(graft.model.Triples.VStr))
          .withColumn("vlong", lit(null).cast("long"))
          .withColumn("vdbl", lit(null).cast("double"))
          .withColumn("vbool", lit(null).cast("boolean"))
          .withColumn("vts", lit(null).cast("timestamp_ntz"))
          .withColumn("vref", lit(null).cast("string"))
          .withColumn("vbin", lit(null).cast("binary"))
          .select(graft.model.Triples.columns.map(col): _*)
        new TripleStore(spark, df, Map.empty)
      }
      if (edges.nonEmpty) {
        val rules = Seq(
          DatalogRule(("?x", "reach", "?y"), Seq(("?x", "g:edge", "?y"))),
          DatalogRule(("?x", "reach", "?z"),
            Seq(("?x", "g:edge", "?y"), ("?y", "reach", "?z"))))
        val got = store.datalogRules(Seq("?x", "?y"),
            Seq(("?x", "reach", "?y")), rules)
          .as[(String, String)].collect().toSet
        val want = closure.map { case (a, b) => (s"v$a", s"v$b") }.toSet
        assert(got === want, s"block $block edges=$edges")
        // the WITH RECURSIVE lowering must produce the identical closure
        // on every random DAG (diamonds included — UNION ALL enumerates
        // paths, the final distinct collapses them)
        val gotCte = store.datalogRules(Seq("?x", "?y"),
            Seq(("?x", "reach", "?y")), rules, useRecursiveCte = true)
          .as[(String, String)].collect().toSet
        assert(gotCte === want, s"CTE path diverged, block $block edges=$edges")
      }
    }
  }

  test("property: int8 dequantization error is within the half-step bound") {
    val rnd = new scala.util.Random(19)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(16)((rnd.nextGaussian() * 3).toFloat)))
    val out = graft.ops.Similarity.quantizeInt8(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .as[(Long, Double, Seq[Int])].collect()
    val byId = vecs.toMap
    out.foreach { case (id, scale, q) =>
      val orig = byId(id).map(_.toDouble)
      assert(q.forall(c => c >= -127 && c <= 127))
      if (scale > 0) {
        // |q·s/127 − x| ≤ s/254 from half-up rounding (+ float slack)
        val bound = scale / 254.0 * (1 + 1e-9) + 1e-12
        q.zip(orig).foreach { case (c, x) =>
          assert(math.abs(c * scale / 127.0 - x) <= bound,
            s"id=$id code=$c x=$x scale=$scale")
        }
      } else assert(orig.forall(_ == 0.0) && q.forall(_ == 0))
    }
  }

  test("property: chunk windows tile the token stream exactly") {
    val rnd = new scala.util.Random(23)
    (0 until 3).foreach { round =>
      val docs = (0 until 12).map { i =>
        val n = 1 + rnd.nextInt(40)
        (i.toLong, (0 until n).map(j => s"w${j}").mkString(" "))
      }
      val (size, stride) = Seq((5, 2), (8, 8), (4, 1))(round)
      val got = graft.ops.TextOps.chunk(
          docs.toDF("doc_id", "text"), "doc_id", "text", size, stride)
        .as[(Long, Long, String)].collect()
        .groupBy(_._1).map { case (id, rs) =>
          id -> rs.sortBy(_._2).map(_._3).toSeq }
      val want = docs.map { case (id, text) =>
        val ws = text.split(" ").toSeq
        val nch = 1 + math.ceil(math.max(ws.size - size, 0) / stride.toDouble).toInt
        id -> (0 until nch).map(k =>
          ws.slice(k * stride, k * stride + size).mkString(" "))
      }.toMap
      assert(got === want, s"size=$size stride=$stride")
    }
  }

  test("property: packSequences bins == driver-computed cumulative bins") {
    val rnd = new scala.util.Random(29)
    val docs = (0 until 40).map(i =>
      (i.toLong, (0 until (1 + rnd.nextInt(30))).map(_ => "t").mkString(" ")))
    val cap = 37
    val got = graft.ops.TextOps.packSequences(
        docs.toDF("doc_id", "text"), "doc_id", "text", cap)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    var cum = 0L
    val want = docs.sortBy(_._1).map { case (id, text) =>
      val n = text.split(" ").length.toLong
      val bin = (cum / cap)
      cum += n
      id -> bin
    }.toMap
    assert(got === want)
  }

  test("property: native MinHashSigs == explode+groupBy aggregate formulation") {
    val rnd = new scala.util.Random(53)
    val docs = (0 until 25).map { i =>
      val n = 1 + rnd.nextInt(40)
      (i.toLong, (0 until n).map(_ => s"w${rnd.nextInt(60)}").mkString(" "))
    }
    val k = 8
    val sh = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        sort_array(graft.ops.Dedup.shingles(col("text"))).as("_sh"))
    val native = graft.ops.Dedup.minhashSignaturesSh(sh, "doc_id", k)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toList).toMap
    // the aggregate formulation the narrow-map expression must match
    // bit-for-bit (same xxhash64 seed chain)
    val exploded = sh.select(col("doc_id"), explode(col("_sh")).as("_el"))
    val aggs = (0 until k).map(j =>
      min(xxhash64(lit(j), col("_el"))).as(s"h$j"))
    val legacy = exploded.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toList).toMap
    assert(native === legacy)

    // the array<long> arm (shinglesHashed — the pipeline form) against
    // the same SQL formulation over the hashed elements
    val shH = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.ops.Dedup.shinglesHashed(col("text")).as("_sh"))
    val nativeH = graft.ops.Dedup.minhashSignaturesSh(shH, "doc_id", k)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toList).toMap
    val explodedH = shH.select(col("doc_id"), explode(col("_sh")).as("_el"))
    val aggsH = (0 until k).map(j =>
      min(xxhash64(lit(j), col("_el"))).as(s"h$j"))
    val legacyH = explodedH.groupBy(col("doc_id")).agg(aggsH.head, aggsH.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toList).toMap
    assert(nativeH === legacyH)
  }

  test("property: stripBoilerplate == driver-computed frequent-line filter") {
    val rnd = new scala.util.Random(41)
    (0 until 3).foreach { _ =>
      // small line alphabet so real cross-doc collisions occur
      val docs = (0 until 30).map { i =>
        val n = 1 + rnd.nextInt(5)
        (i.toLong, (0 until n).map(_ => s"L${rnd.nextInt(8)}").mkString("\n"))
      }
      val frac = 0.25
      val got = graft.ops.TextOps.stripBoilerplate(
          docs.toDF("doc_id", "text"), "doc_id", "text", frac)
        .as[(Long, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val df = docs.flatMap { case (id, t) => t.split("\n").distinct.map(_ -> id) }
        .groupBy(_._1).map { case (l, xs) => l -> xs.size }
      val frequent = df.filter(_._2 >= frac * docs.size).keySet
      val want = docs.map { case (id, t) =>
        val kept = t.split("\n").filterNot(frequent)
        id -> ((kept.mkString("\n"), (t.split("\n").length - kept.length).toLong))
      }.toMap
      assert(got === want)
    }
  }

  test("property: tfIdfTopTerms == driver-computed tf·(N/df) ranking") {
    val rnd = new scala.util.Random(61)
    val docs = (0 until 20).map { i =>
      val n = 1 + rnd.nextInt(25)
      (i.toLong, (0 until n).map(_ => s"w${rnd.nextInt(12)}").mkString(" "))
    }
    val k = 3
    val got = graft.ops.TextOps.tfIdfTopTerms(
        docs.toDF("doc_id", "text"), "doc_id", "text", k)
      .as[(Long, Long, String, Long, Double)].collect()
      .groupBy(_._1).map { case (id, rs) =>
        id -> rs.sortBy(_._2).map(r => (r._3, r._4)).toList }
    val tf = docs.flatMap { case (id, t) =>
      t.split(" ").groupBy(identity).map { case (w, xs) => (id, w, xs.length.toLong) } }
    val dfreq = tf.groupBy(_._2).map { case (w, xs) => w -> xs.size.toLong }
    val n = docs.size.toDouble
    val want = tf.groupBy(_._1).map { case (id, rs) =>
      id -> rs.toList
        .sortBy { case (_, w, c) => (-(c * (n / dfreq(w))), w) }
        .take(k).map { case (_, w, c) => (w, c) }
    }
    assert(got === want)
  }

  test("property: lengthQuantiles == sort-based nearest-rank quantile") {
    val rnd = new scala.util.Random(67)
    val docs = (0 until 60).map { _ =>
      (s"g${rnd.nextInt(3)}", (0 until (1 + rnd.nextInt(30)))
        .map(_ => "t").mkString(" "))
    }
    val ps = Seq(25, 50, 75, 100)
    val got = graft.ops.TextOps.lengthQuantiles(
        docs.toDF("source", "text"), "source", "text", ps)
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val want = docs.groupBy(_._1).flatMap { case (g, xs) =>
      val lens = xs.map(_._2.split(" ").length.toLong).sorted
      ps.map { p =>
        val rank = math.ceil(p * lens.size / 100.0).toInt
        (g, p.toLong) -> lens(rank - 1)
      }
    }
    assert(got === want)
  }

  test("property: collocations == driver-computed lift ranking") {
    val rnd = new scala.util.Random(71)
    val docs = (0 until 15).map { i =>
      (i.toLong, (0 until (2 + rnd.nextInt(20)))
        .map(_ => s"w${rnd.nextInt(8)}").mkString(" "))
    }
    val k = 12
    val got = graft.ops.TextOps.collocations(
        docs.toDF("doc_id", "text"), "text", minCount = 2, k)
      .as[(String, String, Long, Double)].collect().toList
      .map(r => (r._1, r._2, r._3))
    val toks = docs.map(_._2.split(" ").toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val total = toks.map(_.size).sum.toDouble
    val bigrams = toks.flatMap(ws => ws.zip(ws.tail).map { case (a, b) => s"$a $b" })
      .groupBy(identity).map { case (bg, xs) => bg -> xs.size.toLong }
      .filter(_._2 >= 2)
    val want = bigrams.toList.map { case (bg, c) =>
      val Array(w1, w2) = bg.split(" ")
      // same IEEE association order as the operator:
      // (c_ab·T) / (c_a·c_b), each operand cast to double
      (w1, w2, c, (c.toDouble * total) / (uni(w1) * uni(w2)).toDouble)
    }.sortBy { case (w1, w2, _, lift) => (-lift, w1, w2) }
      .take(k).map(r => (r._1, r._2, r._3))
    assert(got === want)
  }

  test("property: intervalJoin == naive BETWEEN join on random intervals") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(83)
    def t(s: Long) = new Timestamp(s * 1000)
    val iv = (0 until 40).map { i =>
      val lo = rnd.nextInt(1000).toLong
      (i.toLong, rnd.nextInt(4).toLong, t(lo), t(lo + rnd.nextInt(300)))
    }
    val pts = (100 until 250).map { i =>
      (i.toLong, rnd.nextInt(4).toLong, t(rnd.nextInt(1300).toLong))
    }
    val got = graft.ops.TimeOps.intervalJoin(
        iv.toDF("iid", "k", "lo", "hi"), pts.toDF("pid", "k", "ts"),
        "k", "lo", "hi", "ts", binSeconds = 97, payloadCols = Seq("pid"))
      .select($"iid", $"pt_pid").as[(Long, Long)].collect().toSet
    val want = (for {
      (iid, ik, lo, hi) <- iv
      (pid, pk, ts) <- pts
      if ik == pk && !ts.before(lo) && !ts.after(hi)
    } yield (iid, pid)).toSet
    assert(got === want)
  }

  test("property: asofJoinNearest == naive per-row closest lookup") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(89)
    def t(s: Long) = new Timestamp(s * 1000)
    val left = (0 until 60).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, t(rnd.nextInt(500).toLong)))
    val right = (100 until 160).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, t(rnd.nextInt(500).toLong), i * 1.5))
    val got = graft.ops.TimeOps.asofJoinNearest(
        left.toDF("event_id", "user_id", "ts"),
        right.toDF("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "event_id", Seq("value"))
      .select($"event_id", $"near_value").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val want = left.map { case (id, k, ts) =>
      val cands = right.filter(_._2 == k)
      if (cands.isEmpty) id -> None
      else {
        // min |Δ|; ties prefer the EARLIER right row, then the window's
        // (ts, event_id) sort order within equal timestamps: backward
        // last = LARGEST id among equal earlier ts, forward first =
        // smallest id among equal later ts
        val withD = cands.map { case (rid, _, rts, v) =>
          (math.abs(rts.getTime - ts.getTime), rts.getTime, rid, v) }
        val minD = withD.map(_._1).min
        val atMin = withD.filter(_._1 == minD)
        val back = atMin.filter(_._2 <= ts.getTime)
        val pick =
          if (back.nonEmpty) back.maxBy(_._3) // backward: last in order
          else atMin.minBy(_._3)              // forward: first in order
        id -> Some(pick._4)
      }
    }.toMap
    assert(got === want)
  }

  test("property: asofJoin == naive per-row latest-prior lookup") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { _ =>
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      val lefts = (0 until 25).map(i =>
        (100L + i, rnd.nextInt(4).toLong, ts(rnd.nextInt(50).toLong)))
      val rights = (0 until 25).map(i =>
        (200L + i, rnd.nextInt(4).toLong, ts(rnd.nextInt(50).toLong),
          rnd.nextInt(100).toDouble))
      val l = lefts.toDF("event_id", "user_id", "ts")
      val r = rights.toDF("event_id", "user_id", "ts", "value")
      val got = graft.ops.TimeOps.asofJoin(l, r, "user_id", "ts",
          "event_id", Seq("value"))
        .select(col("event_id"), col("asof_value")).collect()
        .map(x => x.getLong(0) -> Option(x.get(1))).toMap
      val want = lefts.map { case (eid, u, t) =>
        val cands = rights.filter(x => x._2 == u && !x._3.after(t))
        eid -> (if (cands.isEmpty) None
          else Some(cands.maxBy(x => (x._3.getTime, x._1))._4))
      }.toMap
      assert(got === want)
    }
  }

  test("property: duplicateSpans == naive window-count + island merge " +
      "on random small-vocab corpora") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val n = 3
    (0 until 3).foreach { _ =>
      val docs = (1 to 6).map(i => (i.toLong,
        Seq.fill(5 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")))
      val got = graft.ops.Dedup.duplicateSpans(
          docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .as[(Long, Long, Long, Long)].collect().toSet
      // naive: every window string, corpus-wide occurrence counts,
      // duplicated starts merged per doc when start ≤ prev + n
      val wins = docs.flatMap { case (id, t) =>
        val tk = t.split(" ", -1)
        (0 to tk.length - n).map(p =>
          (id, p, tk.slice(p, p + n).mkString(" ")))
      }
      val occ = wins.groupBy(_._3).view.mapValues(_.size).toMap
      val want = wins.filter(w => occ(w._3) > 1).groupBy(_._1)
        .flatMap { case (id, ws) =>
          val islands = ws.map(_._2).sorted
            .foldLeft(List.empty[List[Int]]) {
              case (acc @ (cur :: rest), p) =>
                if (p <= cur.head + n) (p :: cur) :: rest
                else List(p) :: acc
              case (Nil, p) => List(List(p))
            }
          islands.map { isl =>
            val s = isl.min.toLong; val e = isl.max.toLong + n - 1
            (id, s, e, e - s + 1)
          }
        }.toSet
      assert(got === want)
      // strip consistency: cleaned text == tokens minus covered
      // positions, removed_tokens == covered-position count
      val covered = want.groupBy(_._1).view.mapValues(_.flatMap(sp =>
        sp._2 to sp._3).toSet).toMap.withDefaultValue(Set.empty[Long])
      val stripped = graft.ops.Dedup.stripDuplicateSpans(
          docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .as[(Long, String, Long)].collect()
      for ((id, clean, removed) <- stripped) {
        val tk = docs.toMap.apply(id).split(" ", -1)
        val keep = tk.zipWithIndex
          .filterNot { case (_, i) => covered(id)(i.toLong) }.map(_._1)
        assert(clean === keep.mkString(" "), s"doc $id")
        assert(removed === covered(id).size.toLong, s"doc $id")
      }
    }
  }

  test("property: semanticDedup (oracle mode) == naive seed-quantizer " +
      "greedy dedup on random grid vectors") {
    val rnd = new scala.util.Random(13)
    (0 until 3).foreach { _ =>
      // quarter-grid floats are exact in binary, so driver doubles and
      // Spark's float→double cast see identical values
      val vecs = (1 to 14).map { i =>
        val v = Seq.fill(4)(rnd.nextInt(9).toFloat / 4f - 1f)
        (i.toLong, if (v.forall(_ == 0f)) v.updated(0, 1f) else v)
      }
      val k = 3; val t = 0.7
      val got = graft.ops.Similarity.semanticDedup(
          vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
          nClusters = k, threshold = t, iters = 0)
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum))
      }
      val dv = vecs.map { case (id, v) => id -> v.map(_.toDouble) }
      val seeds = dv.sortBy(_._1).take(k).map(_._2)
      val cell = dv.map { case (id, v) =>
        id -> seeds.zipWithIndex.maxBy { case (c, i) => (cos(v, c), -i) }._2
      }.toMap
      val want = dv.map { case (id, v) =>
        val dup = dv.exists { case (id2, v2) =>
          id2 < id && cell(id2) == cell(id) && cos(v2, v) >= t }
        id -> ((cell(id).toLong, !dup))
      }.toMap
      assert(got === want)
    }
  }

  test("property: funnel labeling == sequential chained filters") {
    val rnd = new scala.util.Random(83)
    (0 until 3).foreach { _ =>
      val rows = (1L to 60L).map(i =>
        (i, rnd.nextInt(100), rnd.nextInt(4), rnd.nextBoolean()))
      val df = rows.toDF("id", "n", "g", "f")
      val stages = Seq(
        "s1" -> (col("n") >= 20),
        "s2" -> (col("g") =!= 2),
        "s3" -> col("f"))
      // labels: first stage whose predicate fails, driver-computed
      val want = rows.map { case (id, n, g, f) =>
        id -> (if (n < 20) "s1" else if (g == 2) "s2"
          else if (!f) "s3" else "kept")
      }.toMap
      val got = graft.ops.Funnel.labeled(df, stages)
        .select($"id", $"dropped_at").as[(Long, String)].collect().toMap
      assert(got === want)
      // keep == chained filters, report remaining == running survivors
      val kept = graft.ops.Funnel.keep(df, stages)
        .select($"id").as[Long].collect().toSet
      assert(kept === want.filter(_._2 == "kept").keySet)
      val rep = graft.ops.Funnel.report(df, stages)
        .select($"stage", $"remaining").as[(String, Long)].collect().toMap
      val after1 = rows.count(_._2 >= 20)
      val after2 = rows.count(r => r._2 >= 20 && r._3 != 2)
      assert(rep("ingest") === 60L && rep("s1") === after1.toLong &&
        rep("s2") === after2.toLong && rep("s3") === kept.size.toLong)
    }
  }

  test("property: heavyHitters == naive groupBy top-k on skewed corpora") {
    val rnd = new scala.util.Random(29)
    (0 until 3).foreach { trial =>
      // Zipf-ish: key k drawn with weight ∝ 1/(k+1), plus unique tails
      val rows = (1 to 800).map { _ =>
        val u = rnd.nextDouble()
        if (u < 0.75) s"k${(1 / (rnd.nextDouble() + 0.02)).toInt}"
        else s"u${rnd.nextInt(1000000)}"
      }
      val df = rows.toDF("k").repartition(5)
      val naive = df.groupBy($"k").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"k").limit(5)
        .as[(String, Long)].collect().toSeq
      val got = graft.ops.Skew.heavyHitters(df, "k", k = 5, m = 64)
        .as[(String, Long)].collect().toSeq
      assert(got === naive, s"trial $trial")
    }
  }

  test("property: kmvSketch == driver-computed k smallest distinct " +
      "hashes on random multisets") {
    import org.apache.commons.codec.digest.DigestUtils
    for (trial <- 1 to 5) {
      val rnd = new scala.util.Random(900L + trial)
      val n = 200 + rnd.nextInt(800)
      val vals = (1 to n).map(_ => rnd.nextInt(300).toLong)
      val k = Seq(8, 32, 512)(trial % 3) // below, at, above cardinality
      val df = vals.toDF("v").repartition(1 + trial)
      val got = graft.ops.Sketches.kmvSketch(df, $"v", k)
        .as[String].collect().toSeq
      val want = vals.distinct.map(v => DigestUtils.md5Hex(v.toString))
        .sorted.take(k)
      assert(got === want, s"trial $trial")
    }
  }

  test("property: stratifiedSplit is a partition with exact floor " +
      "sizes on random skewed strata") {
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(910L + trial)
      val rows = (0 until 300 + rnd.nextInt(700)).map { i =>
        // skewed: stratum 0 holds ~70%
        (i.toLong, if (rnd.nextDouble() < 0.7) "big" else s"s${rnd.nextInt(4)}")
      }
      val fr = Seq("train" -> 0.7, "val" -> 0.15, "test" -> 0.15)
      val out = graft.ops.Sampling.stratifiedSplit(
        rows.toDF("id", "st").repartition(7), "st", "id", fr)
        .as[(Long, String, String)].collect()
      assert(out.map(_._1).sorted.toSeq === rows.map(_._1).sorted.toSeq)
      val byStratum = rows.groupBy(_._2).view.mapValues(_.size)
      out.groupBy(r => (r._2, r._3)).view.mapValues(_.size).foreach {
        case ((st, "train"), c) =>
          assert(c === math.floor(byStratum(st) * 0.7).toInt, s"$st train")
        case ((st, "val"), c) =>
          assert(c === math.floor(byStratum(st) * 0.15).toInt, s"$st val")
        case ((st, "test"), c) =>
          val n = byStratum(st)
          assert(c === n - math.floor(n * 0.7).toInt -
            math.floor(n * 0.15).toInt, s"$st test")
        case _ =>
      }
    }
  }

  test("property: gapFill == driver-computed grid + forward fill on " +
      "random sparse event streams") {
    import java.time.LocalDateTime
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(920L + trial)
      val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
      val rows = (0 until 200).map { i =>
        (i.toLong, 1L + rnd.nextInt(5),
          t0.plusMinutes(rnd.nextInt(48 * 60)),
          math.round(rnd.nextDouble() * 1000) / 100.0)
      }
      val df = rows.toDF("event_id", "user_id", "ts", "value")
        .repartition(5)
      val got = graft.ops.TimeOps.gapFill(df, "user_id", "ts", "value")
        .select($"user_id", $"ts_bucket", $"n_events", $"filled_max")
        .as[(Long, LocalDateTime, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      // driver reference
      val byUser = rows.groupBy(_._2)
      val want = byUser.flatMap { case (u, es) =>
        def hour(t: LocalDateTime) = t.withMinute(0).withSecond(0)
        val h0 = es.map(e => hour(e._3)).minBy(_.toString)
        val h1 = es.map(e => hour(e._3)).maxBy(_.toString)
        Iterator.iterate(h0)(_.plusHours(1)).takeWhile(!_.isAfter(h1))
          .map { h =>
            val in = es.filter(e => hour(e._3) == h)
            val upTo = es.filter(e => !hour(e._3).isAfter(h))
            (u, h) -> ((in.size.toLong,
              math.round(upTo.groupBy(e => hour(e._3)).toSeq
                .maxBy(_._1.toString)._2.map(_._4).max * 10000) / 10000.0))
          }
      }
      assert(got.keySet === want.keySet, s"trial $trial grid")
      want.foreach { case (key, v) =>
        assert(got(key) === v, s"trial $trial $key") }
    }
  }

  test("property: containmentJoin == naive all-pairs containment on " +
      "random overlapping docs") {
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(940L + trial)
      val vocab = (0 until 40).map(i => s"w$i")
      val docs = (0L until 60L).map { i =>
        val n = 4 + rnd.nextInt(20)
        val start = rnd.nextInt(vocab.size - 4)
        // overlapping token RANGES → genuine containment structure
        (i, (0 until n).map(j => vocab((start + j) % vocab.size))
          .mkString(" "))
      }
      val df = docs.toDF("doc_id", "text").repartition(5)
      val sh = df.select($"doc_id",
        sort_array(graft.ops.Dedup.shingles($"text")).as("sh"))
      val got = graft.ops.Dedup.containmentJoin(sh, "doc_id", "sh", 0.6)
        .select($"id1", $"id2").as[(Long, Long)].collect().toSet
      // naive reference over driver-computed shingle sets
      def shingleSet(t: String): Set[String] = {
        val ws = t.split(" ")
        if (ws.length < 3) Set(t)
        else ws.sliding(3).map(_.mkString(" ")).toSet
      }
      val sets = docs.map { case (i, t) => i -> shingleSet(t) }.toMap
      val want = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        inter = (sets(a) & sets(b)).size
        if inter.toDouble / math.min(sets(a).size, sets(b).size) >= 0.6
      } yield (a, b)).toSet
      assert(got === want, s"trial $trial")
    }
  }

  test("property: conversionFunnel == naive per-key chain walk on " +
      "random event streams") {
    import java.time.LocalDateTime
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(950L + trial)
      val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
      val types = Seq("A", "B", "C", "X")
      val rows = (0 until 400).map { i =>
        (i.toLong, 1L + rnd.nextInt(20),
          t0.plusMinutes(rnd.nextInt(5000)),
          types(rnd.nextInt(types.size)))
      }
      // dedupe equal (user, ts) instants: the chain semantics need
      // strict order and real logs carry distinct event times
      val uniq = rows.groupBy(r => (r._2, r._3)).map(_._2.head).toSeq
      val df = uniq.toDF("event_id", "user_id", "ts", "event_type")
        .repartition(7)
      val windowSecs = 30L * 3600
      val got = graft.ops.TimeOps.conversionFunnel(
        df, "user_id", "ts", "event_type", Seq("A", "B", "C"), windowSecs)
        .select($"user_id", $"converted").as[(Long, Boolean)]
        .collect().toMap
      // naive chain walk
      val byUser = uniq.groupBy(_._2)
      byUser.foreach { case (u, es) =>
        def after(tp: String, t: Option[LocalDateTime]) = es
          .filter(e => e._4 == tp && t.forall(e._3.isAfter))
          .map(_._3).sortBy(_.toString).headOption
        val ta = after("A", None)
        if (ta.isEmpty) assert(!got.contains(u), s"trial $trial user $u")
        else {
          val tb = after("B", ta)
          val tc = tb.flatMap(t => after("C", Some(t)))
          val conv = (ta, tc) match {
            case (Some(a), Some(c)) =>
              java.time.Duration.between(a, c).getSeconds <= windowSecs
            case _ => false
          }
          assert(got(u) === conv, s"trial $trial user $u")
        }
      }
    }
  }

  test("property: bpeLearn == driver-computed greedy BPE on random " +
      "small vocabularies") {
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(930L + trial)
      val words = (0 until 60).map { _ =>
        (0 until 2 + rnd.nextInt(6)).map(_ => "abcd" (rnd.nextInt(4))).mkString
      }
      val text = words.mkString(" ")
      val got = graft.ops.TextOps.bpeLearn(
        Seq((1L, text)).toDF("id", "text"), "text", nMerges = 4)
        .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
      // driver reference: greedy BPE over (distinct word, freq)
      var vocab: Map[Vector[String], Long] = words.filter(_.length >= 2)
        .groupBy(identity).map { case (w, ws) =>
          w.split("").toVector -> ws.size.toLong }
      val merges = Seq.newBuilder[(Int, String, Long)]
      for (it <- 1 to 4) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        vocab.foreach { case (syms, f) =>
          syms.sliding(2).filter(_.size == 2)
            .foreach(p => counts((p(0), p(1))) += f)
        }
        if (counts.nonEmpty) {
          val ((x, y), n) = counts.toSeq
            .minBy { case ((a, b), c) => (-c, s"$a|$b") }
          merges += ((it, s"$x|$y", n))
          vocab = vocab.map { case (syms, f) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
                out += x + y; i += 2
              } else { out += syms(i); i += 1 }
            }
            out.result() -> f
          }.groupBy(_._1).map { case (s, m) => s -> m.map(_._2).sum }
        }
      }
      assert(got === merges.result(), s"trial $trial")
    }
  }

  test("property: bpeLearnRounds == driver-computed batched-greedy BPE " +
      "on random small vocabularies (and batchK=1 == sequential)") {
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(2470L + trial)
      val words = (0 until 80).map { _ =>
        (0 until 2 + rnd.nextInt(6)).map(_ => "abcde" (rnd.nextInt(5))).mkString
      }
      val text = words.mkString(" ")
      val df = Seq((1L, text)).toDF("id", "text")
      val rounds = 3; val batchK = 3; val pool = 4 * batchK + 32
      val got = graft.ops.TextOps.bpeLearnRounds(df, "text", rounds, batchK)
        .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
      // driver reference: per round, rank pairs by (n desc, pair asc),
      // greedily accept up to batchK symbol-disjoint pairs from the
      // top-`pool` candidates, apply all of them, repeat
      var vocab: Map[Vector[String], Long] = words.filter(_.length >= 2)
        .groupBy(identity).map { case (w, ws) =>
          w.split("").toVector -> ws.size.toLong }
      val merges = Seq.newBuilder[(Int, String, Long)]
      var learned = 0
      for (_ <- 1 to rounds) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        vocab.foreach { case (syms, f) =>
          syms.sliding(2).filter(_.size == 2)
            .foreach(p => counts((p(0), p(1))) += f)
        }
        val ranked = counts.toSeq
          .sortBy { case ((a, b), c) => (-c, s"$a|$b") }.take(pool)
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = Seq.newBuilder[((String, String), Long)]
        var nAcc = 0
        ranked.foreach { case ((x, y), n) =>
          if (nAcc < batchK && !used(x) && !used(y)) {
            accepted += (((x, y), n)); nAcc += 1; used += x; used += y
          }
        }
        val batch = accepted.result()
        merges ++= batch.zipWithIndex.map { case (((x, y), n), i) =>
          (learned + i + 1, s"$x|$y", n) }
        learned += batch.size
        batch.foreach { case ((x, y), _) =>
          vocab = vocab.map { case (syms, f) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
                out += x + y; i += 2
              } else { out += syms(i); i += 1 }
            }
            out.result() -> f
          }.groupBy(_._1).map { case (s, m) => s -> m.map(_._2).sum }
        }
      }
      assert(got === merges.result(), s"trial $trial")
      // batchK=1 fixed rounds == the sequential learner
      val seqA = graft.ops.TextOps.bpeLearnRounds(df, "text", 4, 1)
        .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
      val seqB = graft.ops.TextOps.bpeLearn(df, "text", nMerges = 4)
        .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
      assert(seqA === seqB, s"trial $trial batchK=1")
    }
  }

  test("property: bpeEncode == driver-applied merges on random corpora " +
      "(docs with words the learn corpus never saw)") {
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(1040L + trial)
      def word() =
        (0 until 1 + rnd.nextInt(6)).map(_ => "abcd" (rnd.nextInt(4))).mkString
      val learnText = (0 until 50).map(_ => word()).mkString(" ")
      val docs = (1L to 8L).map(i =>
        (i, (0 until 5 + rnd.nextInt(8)).map(_ => word()).mkString(" ")))
      val merges = graft.ops.TextOps.bpeLearn(
          Seq((1L, learnText)).toDF("id", "text"), "text", nMerges = 3)
        .orderBy("iter").select("pair").as[String].collect().toSeq
      val got = graft.ops.TextOps.bpeEncode(
          docs.toDF("doc_id", "text"), "doc_id", "text", merges)
        .as[(Long, Long)].collect().toMap
      // the UDF path (production-sized merge lists) must agree exactly
      val gotUdf = graft.ops.TextOps.bpeEncode(
          docs.toDF("doc_id", "text"), "doc_id", "text", merges,
          exprMergeLimit = 0)
        .as[(Long, Long)].collect().toMap
      assert(gotUdf === got, s"trial $trial expr vs udf path")
      // driver reference: apply each merge left-to-right non-overlapping
      // to every word, count resulting symbols (1-char words = 1 token)
      def encode(w: String): Long =
        if (w.isEmpty) 0L
        else if (w.length == 1) 1L
        else merges.foldLeft(w.split("").toVector) { (syms, pair) =>
          val Array(x, y) = pair.split("\\|", 2)
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
              out += x + y; i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result()
        }.length.toLong
      val want = docs.map { case (id, text) =>
        id -> text.split(" ", -1).map(encode).sum }.toMap
      assert(got === want, s"trial $trial merges=$merges")
    }
  }

  test("property: datasetDiff statuses == driver-computed diff on " +
      "random mutations (drops, edits, inserts, null flips)") {
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(1150L + trial)
      def txt() = if (rnd.nextInt(8) == 0) None
        else Some((0 until 3).map(_ => "wxyz" (rnd.nextInt(4))).mkString)
      val v1 = (0L until 60L).map(i => (i, txt(), s"l${rnd.nextInt(3)}"))
      val v2 = v1.filter(_ => rnd.nextInt(6) != 0) // random drops
        .map { case (id, t, l) =>
          if (rnd.nextInt(5) == 0) (id, txt(), l) else (id, t, l) // edits
        } ++ (0 until 10).map(j => (1000L + j, txt(), "new"))
      val got = graft.ops.Profile.datasetDiff(
          v1.toDF("id", "text", "lang"), v2.toDF("id", "text", "lang"),
          "id", Seq("text", "lang"))
        .as[(Long, String)].collect().toMap
      val m1 = v1.map(r => r._1 -> (r._2, r._3)).toMap
      val m2 = v2.map(r => r._1 -> (r._2, r._3)).toMap
      val want = (m1.keySet ++ m2.keySet).map { id =>
        id -> ((m1.get(id), m2.get(id)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (Some(a), Some(b)) if a == b => "unchanged"
          case _ => "changed"
        })
      }.toMap
      assert(got === want, s"trial $trial")
    }
  }

  test("property: ValueIndex desc top-k == driver model on random " +
      "values (duplicates, negatives, selective ents)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vidx_p").toString
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(1250L + trial)
      val n = 80 + rnd.nextInt(150)
      // small value range → plenty of ties; negatives included
      val rows = (0 until n).map(i =>
        (f"e$i%04d", (rnd.nextInt(60) - 20).toLong))
      val store = {
        val triples = rows.toDF("e", "vlong")
          .withColumn("a", lit("p:n"))
          .withColumn("vtype", lit(graft.model.Triples.VLong))
          .withColumn("vstr", lit(null).cast("string"))
          .withColumn("vdbl", lit(null).cast("double"))
          .withColumn("vbool", lit(null).cast("boolean"))
          .withColumn("vts", lit(null).cast("timestamp_ntz"))
          .withColumn("vref", lit(null).cast("string"))
          .withColumn("vbin", lit(null).cast("binary"))
          .withColumn("txId", lit(0L))
          .select(graft.model.Triples.columns.map(col): _*)
        new TripleStore(spark, triples, Map("p:n" ->
          graft.model.AttrSchema("p:n", cardOne = true, isRef = false,
            graft.model.Triples.VLong)))
      }
      store.buildValueIndex(s"vidx_prop_$trial", s"$dir/t$trial",
        Seq("p:n"), nBuckets = 4 + rnd.nextInt(12))
      val entIds = rows.map(_._1).filter(_ => rnd.nextInt(3) > 0)
      val k = 1 + rnd.nextInt(30)
      val got = ValueIndex.topKEids(spark, s"vidx_prop_$trial",
        "p:n", "vlong", Some(entIds.toDF("e")), k)
      // universe form on the same index: matches the full-ents model
      val uniVals = ValueIndex.topKEids(spark, s"vidx_prop_$trial",
          "p:n", "vlong", None, k).get
        .as[String].collect().toSeq.map(rows.toMap).sorted.reverse
      assert(uniVals ===
        rows.map(_._2).sorted.reverse.take(k), s"trial $trial universe")
      // ascending universe form: bottom-k value multiset, same model
      val uniAsc = ValueIndex.topKEids(spark, s"vidx_prop_$trial",
          "p:n", "vlong", None, k, desc = false).get
        .as[String].collect().toSeq.map(rows.toMap).sorted
      assert(uniAsc === rows.map(_._2).sorted.take(k),
        s"trial $trial universe asc")
      // asc with a general ents declines (nulls-first fallback owns it)
      assert(ValueIndex.topKEids(spark, s"vidx_prop_$trial", "p:n",
        "vlong", Some(entIds.toDF("e")), k, desc = false).isEmpty,
        s"trial $trial asc+ents must decline")
      val byId = rows.toMap
      val matchedVals = entIds.map(byId).sorted.reverse
      if (matchedVals.size < k) assert(got.isEmpty, s"trial $trial")
      else {
        assert(got.isDefined, s"trial $trial")
        val gotVals = got.get.as[String].collect().toSeq
          .map(byId).sorted.reverse
        assert(gotVals === matchedVals.take(k), s"trial $trial")
      }
    }
  }

  test("property: MRange match through the ValueIndex == driver filter " +
      "model on random values and random bounds (ties, negatives, " +
      "strictness, empty and inverted ranges)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rng_p").toString
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(7100L + trial)
      val n = 80 + rnd.nextInt(150)
      val rows = (0 until n).map(i =>
        (f"e$i%04d", (rnd.nextInt(60) - 20).toLong))
      def mkStore(rs: Seq[(String, Long)], tx: Long): TripleStore = {
        val triples = rs.toDF("e", "vlong")
          .withColumn("a", lit("p:n"))
          .withColumn("vtype", lit(graft.model.Triples.VLong))
          .withColumn("vstr", lit(null).cast("string"))
          .withColumn("vdbl", lit(null).cast("double"))
          .withColumn("vbool", lit(null).cast("boolean"))
          .withColumn("vts", lit(null).cast("timestamp_ntz"))
          .withColumn("vref", lit(null).cast("string"))
          .withColumn("vbin", lit(null).cast("binary"))
          .withColumn("txId", lit(tx))
          .select(graft.model.Triples.columns.map(col): _*)
        new TripleStore(spark, triples, Map("p:n" ->
          graft.model.AttrSchema("p:n", cardOne = true, isRef = false,
            graft.model.Triples.VLong)))
      }
      val store = mkStore(rows, 0L)
      val ts = store.buildValueIndex(s"vidx_rngp_$trial", s"$dir/t$trial",
        Seq("p:n"), nBuckets = 4 + rnd.nextInt(12))
      val byId = rows.toMap
      for (c <- 1 to 6) {
        // random bounds straddle the value range, including empty and
        // inverted windows; each side independently absent/strict
        def bound() = if (rnd.nextInt(4) == 0) None
          else Some((rnd.nextInt(90) - 35).toLong)
        val (lo, hi) = (bound(), bound())
        if (lo.nonEmpty || hi.nonEmpty) {
          val (ls, hs) = (rnd.nextBoolean(), rnd.nextBoolean())
          val r = MRange(lo.map(x => x: Any), hi.map(x => x: Any), ls, hs)
          val got = ts.matchEntities(Seq("p:n" -> r))
            .as[String].collect().toSeq.map(byId).sorted
          val want = rows.map(_._2).filter(v =>
            lo.forall(l => if (ls) v > l else v >= l) &&
              hi.forall(h => if (hs) v < h else v <= h)).sorted
          assert(got === want, s"trial $trial case $c range $r")
          // COUNT and SUM pushdowns over the same window: inner-bucket
          // manifest aggregates + an edge-only scan == the model
          assert(ts.countMatch(Seq("p:n" -> r)) === want.size.toLong,
            s"trial $trial case $c count $r")
          assert(ts.sumMatch("p:n", Seq("p:n" -> r)) === want.sum,
            s"trial $trial case $c sum $r")
          // MIN/MAX/AVG pushdowns over the same window: extremal-
          // bucket scans + sum/count composition == the model, and
          // INDEX == EXACT FALLBACK (the un-indexed store runs the
          // scan path on identical facts)
          def asL(o: Option[Any]) = o.map(_.asInstanceOf[Long])
          assert(asL(ts.minMatch("p:n", Seq("p:n" -> r)))
            === want.headOption, s"trial $trial case $c min $r")
          assert(asL(ts.maxMatch("p:n", Seq("p:n" -> r)))
            === want.lastOption, s"trial $trial case $c max $r")
          assert(ts.minMatch("p:n", Seq("p:n" -> r))
            === store.minMatch("p:n", Seq("p:n" -> r)),
            s"trial $trial case $c min index==fallback $r")
          assert(ts.maxMatch("p:n", Seq("p:n" -> r))
            === store.maxMatch("p:n", Seq("p:n" -> r)),
            s"trial $trial case $c max index==fallback $r")
          val wantAvg =
            if (want.isEmpty) None
            else Some(want.sum.toDouble / want.size)
          assert(ts.avgMatch("p:n", Seq("p:n" -> r)) === wantAvg,
            s"trial $trial case $c avg $r")
          assert(ts.avgMatch("p:n", Seq("p:n" -> r))
            === store.avgMatch("p:n", Seq("p:n" -> r)),
            s"trial $trial case $c avg index==fallback $r")
          // PATTERN-CONDITIONAL percentile: nearest-rank inside the
          // window — the pushdown's inner-count + edge-scan walk ==
          // the sorted model == the un-indexed fallback
          val qc = 0.05 + rnd.nextDouble() * 0.95
          val wantP =
            if (want.isEmpty) None
            else Some(want(math.ceil(qc * want.size).toInt.max(1) - 1))
          assert(asL(ts.percentileValues("p:n", Seq(qc),
            Seq("p:n" -> r))(qc)) === wantP,
            s"trial $trial case $c cond-percentile q=$qc $r")
          assert(ts.percentileValues("p:n", Seq(qc), Seq("p:n" -> r))
            === store.percentileValues("p:n", Seq(qc), Seq("p:n" -> r)),
            s"trial $trial case $c cond-percentile index==fallback $r")
          // the fused range+top-k probe on the same window: k of the
          // in-range values in either direction == the model's take(k)
          // (ties pick interchangeable eids; VALUES are deterministic).
          // The freshly-built index is pristine, so the probe must
          // serve, including empty/inverted windows (empty answer).
          val k = 1 + rnd.nextInt(12)
          val desc = rnd.nextBoolean()
          val gotK = ValueIndex.rangeTopKEids(spark, s"vidx_rngp_$trial",
            "p:n", "vlong", graft.model.Triples.VLong, r, k, desc)
          assert(gotK.isDefined, s"trial $trial case $c pristine probe")
          val gkVals = gotK.get.as[String].collect().toSeq.map(byId)
          val ordered = if (desc) want.reverse else want
          assert((if (desc) gkVals.sorted.reverse else gkVals.sorted)
            === ordered.take(k),
            s"trial $trial case $c range $r k=$k desc=$desc")
          // POINT lookups through the same map: random values (present
          // or absent) match exactly the model's equality filter
          val pts = Seq.fill(1 + rnd.nextInt(3))(
            (rnd.nextInt(90) - 35).toLong)
          val gotP = ts.matchEntities(Seq("p:n" -> MIn(pts.map(x => x: Any))))
            .as[String].collect().toSeq.map(byId).sorted
          assert(gotP === rows.map(_._2).filter(pts.contains).sorted,
            s"trial $trial case $c points $pts")
          // CONJUNCTION of the range and the point list (both on the
          // indexed attr): the driven path probes the more selective
          // conjunct and scans the residue — model = intersection
          val gotC = ts.matchEntities(Seq("p:n" -> r,
              "p:n" -> MIn(pts.map(x => x: Any))))
            .as[String].collect().toSeq.map(byId).sorted
          assert(gotC === rows.map(_._2).filter(v =>
            pts.contains(v) &&
              lo.forall(l => if (ls) v > l else v >= l) &&
              hi.forall(h => if (hs) v < h else v <= h)).sorted,
            s"trial $trial case $c conj $r ∧ $pts")
        }
      }
      // EXACT percentile through the manifest rank-walk: random q
      // against the sorted-model nearest-rank pick (duplicates galore)
      for (_ <- 1 to 3) {
        val q = 0.05 + rnd.nextDouble() * 0.95
        val sortedVals = rows.map(_._2).sorted
        val want = sortedVals(math.ceil(q * sortedVals.size).toInt
          .max(1) - 1)
        assert(ts.percentileValue("p:n", q) === Some(want),
          s"trial $trial percentile q=$q")
      }
      // LIFECYCLE: an append (fresh entities + genuine UPSERTS of
      // existing ones) declines every membership/aggregate probe while
      // un-reconciled; compact applies latest-txId-wins and the
      // reconciled index serves the post-upsert truth on the matching
      // union store
      val fresh = (0 until 8).map(i =>
        (f"x$i%04d", (rnd.nextInt(90) - 35).toLong))
      val upserts = rows.take(5).map { case (e, _) =>
        (e, (rnd.nextInt(90) - 35).toLong) }
      ValueIndex.append(mkStore(fresh ++ upserts, 1L), s"vidx_rngp_$trial")
      val rAll = MRange(lo = Some(-40L))
      assert(ValueIndex.rangeEids(spark, s"vidx_rngp_$trial", "p:n",
        "vlong", graft.model.Triples.VLong, rAll).isEmpty)
      assert(ValueIndex.countRange(spark, s"vidx_rngp_$trial", "p:n",
        "vlong", graft.model.Triples.VLong, rAll).isEmpty)
      assert(ValueIndex.sumRange(spark, s"vidx_rngp_$trial", "p:n",
        graft.model.Triples.VLong, rAll).isEmpty)
      assert(ValueIndex.extremumRange(spark, s"vidx_rngp_$trial", "p:n",
        "vlong", graft.model.Triples.VLong, rAll, isMax = true).isEmpty)
      assert(ValueIndex.percentileRange(spark, s"vidx_rngp_$trial", "p:n",
        "vlong", graft.model.Triples.VLong, Seq(0.5), rAll).isEmpty)
      ValueIndex.compact(spark, s"vidx_rngp_$trial", s"$dir/t${trial}c",
        nBuckets = 4 + rnd.nextInt(8))
      val latest = (rows.toMap ++ upserts.toMap ++ fresh.toMap).toSeq
      val ts2 = mkStore(latest, 2L).withValueIndex(s"vidx_rngp_$trial")
      val lo2 = Some((rnd.nextInt(60) - 25).toLong)
      val strict2 = rnd.nextBoolean()
      val r2 = MRange(lo2.map(x => x: Any), None, strict2, false)
      val m2 = latest.map(_._2).filter(v =>
        lo2.forall(l => if (strict2) v > l else v >= l))
      assert(ts2.countMatch(Seq("p:n" -> r2)) === m2.size.toLong,
        s"trial $trial post-compact count")
      assert(ts2.sumMatch("p:n", Seq("p:n" -> r2)) === m2.sum,
        s"trial $trial post-compact sum")
      // and the probe itself serves again (pristine after compact)
      assert(ValueIndex.countRange(spark, s"vidx_rngp_$trial", "p:n",
        "vlong", graft.model.Triples.VLong, r2) === Some(m2.size.toLong),
        s"trial $trial post-compact probe")
    }
  }

  test("property: INDEX-DRIVEN conjunctive match over TWO indexed " +
      "attrs == driver filter model on random multi-attr patterns " +
      "(driving-conjunct choice, residual scans, fallback cases)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cj_p").toString
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(7300L + trial)
      val n = 120 + rnd.nextInt(120)
      // entity i carries: p:n (long, indexed), p:s (string, indexed —
      // zero-padded so ASCII lexicographic == numeric order), p:t (an
      // un-indexed 3-way tag)
      val rows = (0 until n).map { i =>
        (f"e$i%04d", (rnd.nextInt(80) - 20).toLong,
          f"s${rnd.nextInt(300)}%04d", "t" + rnd.nextInt(3))
      }
      val triples = rows.flatMap { case (e, nv, sv, tv) => Seq(
        (e, "p:n", Some(nv), None: Option[String], None: Option[String]),
        (e, "p:s", None, Some(sv), None),
        (e, "p:t", None, None, Some(tv)))
      }.toDF("e", "a", "nv", "sv", "tv")
        .select(col("e"), col("a"),
          coalesce(col("sv"), col("tv")).as("vstr"),
          col("nv").as("vlong"))
        .withColumn("vtype", when(col("a") === "p:n",
          graft.model.Triples.VLong).otherwise(graft.model.Triples.VStr))
        .withColumn("vdbl", lit(null).cast("double"))
        .withColumn("vbool", lit(null).cast("boolean"))
        .withColumn("vts", lit(null).cast("timestamp_ntz"))
        .withColumn("vref", lit(null).cast("string"))
        .withColumn("vbin", lit(null).cast("binary"))
        .withColumn("txId", lit(0L))
        .select(graft.model.Triples.columns.map(col): _*)
      def schema(a: String, vt: String) = a ->
        graft.model.AttrSchema(a, cardOne = true, isRef = false, vt)
      val plain = new TripleStore(spark, triples, Map(
        schema("p:n", graft.model.Triples.VLong),
        schema("p:s", graft.model.Triples.VStr),
        schema("p:t", graft.model.Triples.VStr)))
      val ts = plain.buildValueIndex(s"vidx_cjp_$trial", s"$dir/t$trial",
        Seq("p:n", "p:s"), nBuckets = 4 + rnd.nextInt(8))
      def conjunct(): ((String, MVal), ((String, Long, String, String)) => Boolean) =
        rnd.nextInt(6) match {
          case 0 =>
            val lo = (rnd.nextInt(90) - 30).toLong; val s = rnd.nextBoolean()
            (("p:n" -> MRange(lo = Some(lo), loStrict = s)),
              r => if (s) r._2 > lo else r._2 >= lo)
          case 1 =>
            val vs = Seq.fill(1 + rnd.nextInt(3))((rnd.nextInt(90) - 30).toLong)
            (("p:n" -> MIn(vs.map(x => x: Any))), r => vs.contains(r._2))
          case 2 =>
            val hi = f"s${rnd.nextInt(320)}%04d"; val s = rnd.nextBoolean()
            (("p:s" -> MRange(hi = Some(hi), hiStrict = s)),
              r => if (s) r._3 < hi else r._3 <= hi)
          case 3 =>
            val v = f"s${rnd.nextInt(320)}%04d"
            (("p:s" -> MEq(v)), r => r._3 == v)
          case 4 =>
            val v = "t" + rnd.nextInt(3)
            (("p:t" -> MEq(v)), r => r._4 == v)
          case _ =>
            (("p:n" -> MAny), _ => true)
        }
      for (c <- 1 to 8) {
        val k = 2 + rnd.nextInt(2)
        val cs = Seq.fill(k)(conjunct())
        val pat = cs.map(_._1)
        val got = ts.matchEntities(pat).as[String].collect().toSeq.sorted
        val want = rows.filter(r => cs.forall(_._2(r))).map(_._1).sorted
        assert(got === want, s"trial $trial case $c pattern $pat")
        // and the un-indexed store agrees (same compilation family the
        // driven path must be indistinguishable from)
        val gotPlain = plain.matchEntities(pat).as[String].collect()
          .toSeq.sorted
        assert(gotPlain === want, s"trial $trial case $c plain $pat")
      }
    }
  }

  test("property: the ValueIndex string shadow is monotone in Spark's " +
      "binary string order (unicode, shared prefixes, empty string)") {
    // the entire zone-map argument for string attrs rests on ONE fact:
    // a <= b in the order Spark sorts/compares vstr with implies
    // shadow(a) <= shadow(b). Sort a hostile corpus (multibyte unicode,
    // 6+-byte shared prefixes, empty string) by vstr IN SPARK and
    // assert the computed shadows are non-decreasing along that order.
    // FRAGMENT generator, not a char generator: a 4-byte UTF-8 code
    // point needs a surrogate PAIR — a lone high surrogate would
    // encode as the 1-byte replacement '?', silently skipping the
    // supplementary plane (exactly where sign-extension bugs in byte
    // handling would bite)
    val strGen = Gen.listOf(Gen.frequency(
      (6, Gen.alphaNumChar.map(_.toString)),
      (1, Gen.const("\u00e9")),               // 2-byte UTF-8
      (1, Gen.const("\u4e2d")),               // 3-byte UTF-8
      (1, Gen.const("\ud83d\ude00")),         // 4-byte UTF-8 (U+1F600)
      (2, Gen.const("z")))).map(_.mkString.take(10))
    val strs = (0 until 200).map(i =>
      strGen.pureApply(Gen.Parameters.default.withSize(12), Seed(7L + i))) ++
      Seq("", "prefix_aaaa", "prefix_aaab", "prefix", "zzzzzz", "zzzzzz!") ++
      (0 until 20).map(i => f"zzzzzz_tail_$i%03d")
    val shadows = strs.distinct.toDF("vstr")
      .withColumn("vlong", org.apache.spark.sql.functions.lit(null).cast("long"))
      .withColumn("vdbl", org.apache.spark.sql.functions.lit(null).cast("double"))
      .withColumn("vts",
        org.apache.spark.sql.functions.lit(null).cast("timestamp_ntz"))
      .select($"vstr", ValueIndex.shadowOf.as("sh"))
      .orderBy($"vstr")
      .collect()
      .map(_.getDouble(1))
    assert(shadows.zip(shadows.tail).forall { case (a, b) => a <= b },
      "shadow must be non-decreasing along Spark's string sort order")
  }

  test("property: the ValueIndex timestamp shadow is monotone in " +
      "Spark's NTZ sort order (random micros, DST windows, extremes)") {
    import org.apache.spark.sql.functions.lit
    // the zone-map argument for timestamp attrs rests on: a <= b in
    // the order Spark sorts vts with implies shadow(a) <= shadow(b).
    // Hostile corpus: uniform random micros over ±10y around the
    // epoch, values inside US DST-transition local-time windows,
    // sub-second fractions, and the calendar extremes where micros
    // exceed 2^53 (the regime that forces the decimal-exact
    // single-rounding construction). Sort IN SPARK, assert the
    // computed shadows are non-decreasing along that order.
    val rnd = new scala.util.Random(909L)
    val base = java.time.LocalDateTime.of(2015, 6, 15, 0, 0)
    val random = (0 until 300).map(_ => base.plusSeconds(
      (rnd.nextDouble() * 2 - 1).toLong * 315360000L)
      .plusNanos(rnd.nextInt(1000000).toLong * 1000L))
    val hostile = Seq(
      "2024-03-10T01:59:59.999999", "2024-03-10T02:00:00",
      "2024-03-10T02:30:00.5", "2024-03-10T03:00:00",
      "2024-11-03T01:00:00", "2024-11-03T01:30:00.25",
      "1969-12-31T23:59:59.999999", "1970-01-01T00:00:00.000001",
      "0001-01-01T00:00:00", "0001-01-02T03:04:05.678901",
      "9999-12-31T23:59:59.999999", "9999-01-01T00:00:00")
      .map(java.time.LocalDateTime.parse)
    val shadows = (random ++ hostile).distinct.toDF("vts")
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vstr", lit(null).cast("string"))
      .select($"vts", ValueIndex.shadowOf.as("sh"))
      .orderBy($"vts")
      .collect()
      .map(_.getDouble(1))
    assert(shadows.zip(shadows.tail).forall { case (a, b) => a <= b },
      "shadow must be non-decreasing along Spark's NTZ sort order")
  }

  test("property: ValueIndex.shadowOfValue == the shadowOf column on " +
      "every supported type — the range probe's bucket pruning rests " +
      "on this agreement") {
    import org.apache.spark.sql.functions.lit
    def agree(v: Any, colShadow: Double): Unit = {
      val d = ValueIndex.shadowOfValue(v)
      assert(d.isDefined, s"no driver shadow for $v")
      assert(java.lang.Double.compare(d.get, colShadow) === 0,
        s"driver shadow ${d.get} != column shadow $colShadow for $v")
    }
    val rnd = new scala.util.Random(1313L)
    // longs incl. the |v| > 2^53 regime where the double rounds
    val longs = Seq(Long.MinValue, -1L, 0L, 1L, (1L << 53) + 1,
      Long.MaxValue) ++ (0 until 50).map(_ => rnd.nextLong())
    longs.distinct.toDF("vlong")
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vstr", lit(null).cast("string"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .select($"vlong", ValueIndex.shadowOf.as("sh")).collect()
      .foreach(r => agree(r.getLong(0), r.getDouble(1)))
    val dbls = Seq(Double.NegativeInfinity, -0.0, 0.0, 1.5,
      Double.MaxValue, Double.PositiveInfinity) ++
      (0 until 50).map(_ => rnd.nextGaussian() * 1e9)
    dbls.distinct.toDF("vdbl")
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vstr", lit(null).cast("string"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .select($"vdbl", ValueIndex.shadowOf.as("sh")).collect()
      .foreach(r => agree(r.getDouble(0), r.getDouble(1)))
    // strings: multibyte UTF-8, shared 6+-byte prefixes, short, empty
    val strs = Seq("", "a", "abcdef", "abcdefg", "prefix_aaaa",
      "prefix_aaab", "\u00e9x", "\u4e2d\u6587", "\ud83d\ude00!",
      "zzzzzz") ++
      (0 until 50).map(_ => rnd.alphanumeric.take(rnd.nextInt(9)).mkString)
    strs.distinct.toDF("vstr")
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vts", lit(null).cast("timestamp_ntz"))
      .select($"vstr", ValueIndex.shadowOf.as("sh")).collect()
      .foreach(r => agree(r.getString(0), r.getDouble(1)))
    // NTZ timestamps: DST windows, fractions, calendar extremes
    val tss = Seq(
      "2024-03-10T02:30:00.5", "2024-11-03T01:30:00.25",
      "1969-12-31T23:59:59.999999", "1970-01-01T00:00:00.000001",
      "0001-01-01T00:00:00", "9999-12-31T23:59:59.999999")
      .map(java.time.LocalDateTime.parse) ++
      (0 until 50).map(_ => java.time.LocalDateTime.of(2015, 6, 15, 0, 0)
        .plusSeconds((rnd.nextDouble() * 2 - 1).toLong * 315360000L)
        .plusNanos(rnd.nextInt(1000000).toLong * 1000L))
    tss.distinct.toDF("vts")
      .withColumn("vlong", lit(null).cast("long"))
      .withColumn("vdbl", lit(null).cast("double"))
      .withColumn("vstr", lit(null).cast("string"))
      .select($"vts", ValueIndex.shadowOf.as("sh")).collect()
      .foreach(r => agree(r.getAs[java.time.LocalDateTime](0),
        r.getDouble(1)))
    // unsupported types decline (the probe's fallback trigger)
    assert(ValueIndex.shadowOfValue(true).isEmpty)
    assert(ValueIndex.shadowOfValue(null).isEmpty)
    assert(ValueIndex.shadowOfValue(BigDecimal(1)).isEmpty)
  }
}
