package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What an op returns to the loop: whether its output checked out, the
  * number of result rows, and op-specific numbers (fixpoint levels,
  * triples written, whether a ValueIndex covers its filter). */
final case class Outcome(ok: Boolean, rows: Long,
    extra: Map[String, Double] = Map.empty)

/** One call into the program. `layer` is the per-layer span name its
  * latency is reported under. `run` performs the call and its action (the
  * timed part) and returns the output check, which runs untimed. */
final case class Op(family: String, layer: String, run: () => () => Outcome)

/** Per-run context handed to the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: String,
    val rec: Recorder) {
  /** Set-up layer timings in seconds, one per set-up repetition, e.g.
    * `valueindex.build_s`. */
  val setupTimes = scala.collection.mutable.LinkedHashMap
    .empty[String, scala.collection.mutable.ArrayBuffer[Double]]
  def setupTimed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupTimes.getOrElseUpdate(name,
      scala.collection.mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
  }

  def span[T](name: String)(body: => T): T = rec.span(name)(body)

  /** Build a frame (the TripleStore call) and collect it (the action). */
  def collect(build: => DataFrame): Array[Row] = {
    val df = span("triplestore.call")(build)
    span("triplestore.action")(df.collect())
  }
}

/** A workload: `prepare` generates the inputs (once per run) and returns
  * the set-up step (store and index build), which Main repeats and
  * times; the loop then runs `round(r)` for r = 0, 1, ... until the run's
  * time is up. */
trait Workload {
  def name: String
  def prepare(ctx: Ctx): () => Prepared
}

trait Prepared {
  /** Digest of every generated input, printed with the result. */
  def digest: String
  /** Input sizes recorded in the result (rows, triples, depth...). */
  def sizes: Map[String, Double]
  /** The first query of the session, run once after set-up so that op
    * latencies do not carry it. */
  def warmUp(): Unit
  def round(r: Int): Seq[Op]
  /** Workload-only metrics computed from the run's op records. */
  def workloadMetrics(ops: Seq[OpRecord]): Seq[(String, Double, String)] = Nil
  /** Per-layer metrics only this workload can measure. */
  def layerMetrics(ops: Seq[OpRecord]): Map[String, Double] = Map.empty
}

object Workload {
  val all: Map[String, Workload] =
    Seq[Workload](Lookup, Ingest).map(w => w.name -> w).toMap

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The entity id the program mints for row key `key` of `table`. */
  def eid(table: String, key: Any): String = md5Hex(s"$table:$key")

  /** Nested array-of-struct field as a Seq (null and absent are empty). */
  def rows(r: Row, field: String): Seq[Row] =
    if (!r.schema.fieldNames.contains(field) || r.isNullAt(r.fieldIndex(field))) Nil
    else r.getSeq[Row](r.fieldIndex(field))

  /** Bytes of every regular file under `path` (0 when absent). */
  def dirBytes(path: String): Double = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0.0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum.toDouble
      finally s.close()
    }
  }

  def check(got: Seq[String], want: Seq[String], what: String): Boolean = {
    val ok = got == want
    if (!ok) System.err.println(s"[perfbench] wrong answer for $what: got " +
      s"${got.take(5).mkString(";")} (${got.size}) want " +
      s"${want.take(5).mkString(";")} (${want.size})")
    ok
  }
}
