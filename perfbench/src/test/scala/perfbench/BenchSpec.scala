package perfbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("generators are deterministic in the seed") {
    for (seed <- Seq(1L, 7L)) {
      assert(Gen.digest(Gen.tpch(seed, 0.05)) == Gen.digest(Gen.tpch(seed, 0.05)))
      assert(Gen.digest(Gen.graph(seed)) == Gen.digest(Gen.graph(seed)))
      assert(Gen.digest(Seq(Gen.docs(seed, 50))) ==
        Gen.digest(Seq(Gen.docs(seed, 50))))
      assert(Gen.cliEvents(seed, 20) == Gen.cliEvents(seed, 20))
      assert(Gen.digest(Seq(Gen.baseItems(seed))) == Gen.digest(Seq(Gen.baseItems(seed))))
    }
    assert(Gen.digest(Gen.tpch(1, 0.05)) != Gen.digest(Gen.tpch(2, 0.05)))
    assert(Gen.digest(Gen.graph(1)) != Gen.digest(Gen.graph(2)))
  }

  test("the synthetic graph is 16 hops deep and its rings are cycles") {
    val Seq(gnode, cnode) = Gen.graph(3)
    val up = gnode.rows.filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val leaf = gnode.rows.find(_.getLong(3) >= 0).get.getLong(0)
    assert(Iterator.iterate(Option(leaf))(_.flatMap(up.get)).takeWhile(_.isDefined).size - 1 == 16)
    val next = cnode.rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val start = cnode.rows.head.getLong(0)
    assert(Iterator.iterate(start)(next).drop(1).take(Gen.RingSize).contains(start))
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(!Stats.tailSupported(99, 0.9))
    assert(Stats.samplesBeyond(99, 0.9) == 9)
    assert(Stats.tailSupported(100, 0.9))
    assert(Stats.samplesBeyond(100, 0.9) == 10)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("driver gap is op time not covered by any job") {
    // op [0, 100]; jobs [10, 30] and [20, 50] overlap, [90, 120] is clipped
    assert(Stats.coveredLength(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0, 100) == 50)
    assert(Stats.driverGap(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50)
    assert(Stats.driverGap(0, 100, Nil) == 100)
    assert(Stats.driverGap(0, 100, Seq((0L, 100L))) == 0)
  }

  test("self time is a span minus the part its children cover") {
    val spans = Seq(Span(0, "op", 0, 100, -1, 0), Span(1, "call", 10, 40, 0, 0),
      Span(2, "action", 30, 80, 0, 0), Span(3, "inner", 50, 60, 2, 0))
    val self = Stats.selfTimes(spans)
    assert(self(0) == 30) // 100 - union([10,40], [30,80]) = 100 - 70
    assert(self(1) == 30)
    assert(self(2) == 40)
    assert(self(3) == 10)
  }

  test("a wrong answer raises failed_frac and the exit code") {
    object Wrong extends Workload {
      val name = "wrong"
      def prepare(ctx: Ctx): () => Prepared = () => new Prepared {
        val digest = "none"
        val sizes = Map("rows" -> 1.0)
        def warmUp(): Unit = ()
        def round(r: Int): Seq[Op] = Seq(
          Op("right", "triplestore.match", () => {
            val n = ctx.spark.range(10).count()
            () => Outcome(n == 10, 1)
          }),
          Op("wrong", "triplestore.match", () => {
            val n = ctx.spark.range(10).count()
            () => Outcome(n == 11, 1)
          }))
      }
    }
    val work = Files.createTempDirectory("perfbench-spec")
    val run = work.resolve("run")
    Files.createDirectories(run)
    val code = Main.run(Wrong, 1L, 0.1, traced = false, work, run.toString)
    assert(code == 1)
    val record = Files.readString(work.resolve("result-wrong-1-0.json"))
    val frac = """"failed_frac": \{"value": ([0-9.E-]+)""".r
      .findFirstMatchIn(record).get.group(1).toDouble
    assert(frac == 0.5)
    Main.deleteRec(work)
  }
}
