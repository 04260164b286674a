package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Closed-loop benchmark: one client thread calls the program's
  * public API, waits for each result and checks it before the next call.
  *
  *   perfbench.Main --workload lookup|traverse|ingest|curate --seed N
  *                  --seconds S --trace 0|1
  *
  * Prints a detail record (every metric, with unit, plus the input digest
  * and sizes), writes it to `<work>/result-<workload>-<seed>-<trace>.json`,
  * and prints the summary record as the last stdout line. Exit code 1 when
  * any op threw or returned a wrong answer. */
object Main {
  /** The store and index build runs this many times per run; `setup_s`
    * is session start + input generation + the median build + warm-up. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = opts.getOrElse(k, usage(s"missing $k"))
    val wl = Workload.all.getOrElse(arg("--workload"),
      usage(s"unknown workload ${arg("--workload")}"))
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val traced = arg("--trace") match {
      case "0" => false; case "1" => true; case t => usage(s"--trace $t")
    }
    val work = Paths.get(sys.props.getOrElse("perfbench.work", ".bench_build/perfbench"))
      .toAbsolutePath
    val dir = work.resolve(s"run-${wl.name}-$seed-${if (traced) 1 else 0}")
    deleteRec(dir)
    Files.createDirectories(dir)
    val code = try run(wl, seed, seconds, traced, work, dir.toString)
      finally deleteRec(dir)
    sys.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload " +
      s"${Workload.all.keys.toSeq.sorted.mkString("|")} --seed N --seconds S --trace 0|1")
    sys.exit(2)
  }

  private[perfbench] def run(wl: Workload, seed: Long, seconds: Double, traced: Boolean,
      work: Path, dir: String): Int = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        graft.TripleStore.TopKLiteralCap)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      val rec = new Recorder(spark, traced)
      val ctx = new Ctx(spark, seed, dir, rec)
      val tg = System.nanoTime()
      val build = wl.prepare(ctx)
      val generateS = (System.nanoTime() - tg) / 1e9
      val repTimes = ArrayBuffer.empty[Double]
      var prepared: Prepared = null
      for (_ <- 0 until SetupReps) {
        val t = System.nanoTime()
        prepared = build()
        repTimes += (System.nanoTime() - t) / 1e9
      }
      val tw = System.nanoTime()
      prepared.warmUp()
      val warmUpS = (System.nanoTime() - tw) / 1e9
      val setupS = sessionS + generateS + Stats.median(repTimes.toSeq) + warmUpS

      // Rounds run until the time is up; a round is never cut short, so
      // every run measures each op family equally often. Round 0 is the
      // first execution of each family in the session (no warm-up round:
      // the run-time budget allows one round per run). A traced run traces
      // the same rounds the untraced runs measure.
      rec.resetStoragePeak()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var r = 0
      do { prepared.round(r).foreach(op => rec.op(op.family, op.layer)(op.run())); r += 1 }
      while (System.nanoTime() < deadline)
      val ops = rec.ops.toSeq
      val peak = rec.peakStorageBytes
      val failed = ops.count(!_.ok)
      val e2e = Metrics.endToEnd(ops, setupS, peak)
      val layer = if (!traced) None else Some(Metrics.perLayer(ops, rec.spans.toSeq,
        rec.epochToNanoOffset,
        ctx.setupTimes.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
        prepared.layerMetrics(ops)))
      rec.close()
      val extras = Metrics.detail(ops, failed, ops.size) ++
        prepared.workloadMetrics(ops)
      val detail = Json.obj(Seq(
        "workload" -> Json.str(wl.name), "seed" -> seed.toString,
        "trace" -> (if (traced) "1" else "0"),
        "input_digest" -> Json.str(prepared.digest),
        "sizes" -> Json.obj(prepared.sizes.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
        "client" -> Json.str("closed loop, 1 client thread"),
        "session" -> Json.str(s"local[$cpus], shuffle partitions $cpus, UTC, UI off"),
        "session_s" -> Json.num(sessionS),
        "generate_s" -> Json.num(generateS),
        "setup_reps_s" -> Json.arr(repTimes.toSeq.map(Json.num)),
        "warm_up_s" -> Json.num(warmUpS),
        "setup_parts_s" -> Json.obj(ctx.setupTimes.toSeq.map { case (k, v) =>
          k -> Json.arr(v.toSeq.map(Json.num)) }),
        "families" -> Json.obj(ops.groupBy(_.family).toSeq.sortBy(_._1).map { case (f, rs) =>
          f -> Json.obj(Seq("n" -> rs.size.toString,
            "p50_s" -> Json.num(Stats.median(rs.map(_.seconds))))) }),
        "metrics" -> Json.metrics(e2e ++ extras ++ layer.getOrElse(Nil))))
      println(detail)
      Files.writeString(work.resolve(
        s"result-${wl.name}-$seed-${if (traced) 1 else 0}.json"), detail + "\n")
      val summary = Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> ops.size.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.metrics(layer.getOrElse(e2e))))
      println(summary)
      if (failed == 0) 0 else 1
    } finally spark.stop()
  }

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }
}

/** Just enough JSON for flat records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not finite")
    d.toString
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
