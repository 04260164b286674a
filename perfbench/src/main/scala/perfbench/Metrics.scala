package perfbench

/** Turns op records into the named metrics of BENCHMARK.json. */
object Metrics {
  type M = (String, Double, String)

  def opsPerS(ops: Seq[OpRecord]): Double = ops.size / ops.map(_.seconds).sum

  /** The untraced run's metrics, each gated by its bound in BENCHMARK.json. */
  def endToEnd(ops: Seq[OpRecord], setupS: Double, peakBytes: Long): Seq[M] = Seq(
    ("op_p50_s", Stats.median(ops.map(_.seconds)), "s"),
    ("ops_per_s", opsPerS(ops), "1/s"),
    ("setup_s", setupS, "s"),
    ("peak_storage_mb", peakBytes / 1048576.0, "MB"))

  /** Reported in the detail record only: `failed_frac` is 0 on a correct
    * run, and the p90 exists only when ten samples lie beyond it. */
  def detail(ops: Seq[OpRecord], failed: Int, attempted: Int): Seq[M] = {
    val n = ops.size
    Seq(("failed_frac", failed.toDouble / attempted, "ratio"),
      ("op_samples", n.toDouble, "count")) ++
      (if (Stats.tailSupported(n, 0.9))
        Seq(("op_p90_s", Stats.percentile(ops.map(_.seconds), 0.9), "s"))
      else Nil)
  }

  /** Per-layer metrics whose value is the median latency of the ops that
    * call into that layer (`Op.layer`); 0 when the workload has none. */
  val LayerFamilies: Seq[String] = Seq(
    "triplestore.match", "triplestore.pull", "triplestore.pull_nested",
    "triplestore.topk", "triplestore.datalog", "triplestore.assert",
    "triplestore.retract", "triplestore.save", "triplestore.load",
    "fixpoint.reachable", "fixpoint.reachable_cte",
    "valueindex.append", "valueindex.compact",
    "sources.flatten", "sources.doc_flatten", "streaming.microbatch",
    "cli.count", "ops.exact_dedup", "ops.near_dup")

  /** Workload-specific per-layer metrics; each workload fills in the ones
    * it can measure and the rest read 0. */
  val WorkloadLayer: Seq[M] = Seq(
    ("valueindex.input_bytes_ratio", 0.0, "ratio"),
    ("valueindex.disk_bytes", 0.0, "bytes"))

  def perLayer(ops: Seq[OpRecord], spans: Seq[Span], epochOffsetNs: Long,
      setup: Map[String, Double], workload: Map[String, Double]): Seq[M] = {
    val n = ops.size.toDouble
    def mean(f: OpCounters => Double): Double = ops.map(o => f(o.counters)).sum / n
    def sum(f: OpCounters => Double): Double = ops.map(o => f(o.counters)).sum
    def medianOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def meanOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val ids = ops.map(_.id).toSet
    val opSpans = spans.filter(s => ids.contains(s.op))
    def spanMean(name: String): Double = {
      val ss = opSpans.filter(_.name == name)
      if (ss.isEmpty) 0.0 else ss.map(s => (s.end - s.start) / 1e9).sum / ss.size
    }
    val gaps = ops.map { o =>
      val jobs = o.counters.jobIntervals.toSeq.map { case (a, b) =>
        (a * 1000000L + epochOffsetNs, b * 1000000L + epochOffsetNs) }
      Stats.driverGap(o.startNs, o.endNs, jobs) / 1e9
    }
    val selfTimes = Stats.selfTimes(opSpans)
    val rootSelf = opSpans.filter(_.parent < 0).map(s => selfTimes(s.id) / 1e9)
    val fix = ops.filter(_.extra.contains("levels"))
    val streamOps = ops.filter(_.counters.triggers > 0)
    def extraMean(k: String) = meanOf(ops.flatMap(_.extra.get(k)))
    val common: Seq[M] = Seq(
      ("catalyst.analysis_s", mean(_.analysisMs) / 1e3, "s"),
      ("catalyst.optimizer_s", mean(_.optimizerMs) / 1e3, "s"),
      ("catalyst.planning_s", mean(_.planningMs) / 1e3, "s"),
      ("catalyst.plan_nodes", mean(_.planNodes.toDouble), "count"),
      ("catalyst.exchanges", mean(_.exchanges.toDouble), "count"),
      ("spark.jobs", mean(_.jobs.toDouble), "count"),
      ("spark.stages", mean(_.stages.toDouble), "count"),
      ("spark.tasks", mean(_.tasks.toDouble), "count"),
      ("spark.executor_run_s", mean(_.runMs) / 1e3, "s"),
      ("spark.executor_cpu_s", mean(_.cpuNs) / 1e9, "s"),
      ("spark.driver_gap_s", gaps.sum / n, "s"),
      ("spark.shuffle_read_bytes", mean(_.shuffleRead.toDouble), "bytes"),
      ("spark.shuffle_write_bytes", mean(_.shuffleWrite.toDouble), "bytes"),
      ("spark.spill_bytes", mean(_.spill.toDouble), "bytes"),
      ("spark.input_bytes", mean(_.inputBytes.toDouble), "bytes"),
      ("spark.input_records", mean(_.inputRecords.toDouble), "count"),
      ("spark.records_read_per_row_out",
        sum(_.inputRecords.toDouble) / math.max(1L, ops.map(_.rows).sum), "ratio"),
      ("jvm.gc_s", ops.map(_.gcMs).sum / 1e3 / n, "s"),
      ("triplestore.call_s", spanMean("triplestore.call"), "s"),
      ("triplestore.action_s", spanMean("triplestore.action"), "s"),
      ("trace.op_self_s", meanOf(rootSelf), "s"),
      ("fixpoint.levels", fix.map(_.extra("levels")).maxOption.getOrElse(0.0), "count"),
      ("fixpoint.jobs_per_level", if (fix.isEmpty) 0.0
        else fix.map(_.counters.jobs).sum.toDouble / fix.map(_.extra("levels")).sum, "count"),
      ("valueindex.build_s", setup.getOrElse("valueindex.build_s", 0.0), "s"),
      ("valueindex.probe_s", medianOf(ops.filter(_.extra.contains("indexed")).map(_.seconds)), "s"),
      ("sources.triples_out", extraMean("triples_out"), "count"),
      ("streaming.trigger_s", meanOf(streamOps.map(o => o.counters.triggerMs / 1e3 / o.counters.triggers)), "s"),
      ("streaming.add_batch_s", meanOf(streamOps.map(o => o.counters.addBatchMs / 1e3 / o.counters.triggers)), "s"),
      ("streaming.batches", meanOf(streamOps.map(_.counters.triggers.toDouble)), "count"),
      ("streaming.state_rows", streamOps.lastOption.map(_.counters.stateRows.toDouble).getOrElse(0.0), "count"),
      ("streaming.state_bytes", streamOps.lastOption.map(_.counters.stateBytes.toDouble).getOrElse(0.0), "bytes"),
      ("trace.ops_per_s", opsPerS(ops), "1/s"))
    val families = LayerFamilies.map { l =>
      (l + "_s", medianOf(ops.filter(_.layer == l).map(_.seconds)), "s") }
    val wl = WorkloadLayer.map { case (k, d, u) => (k, workload.getOrElse(k, d), u) }
    common ++ families ++ wl
  }
}
