package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable.ArrayBuffer

/** What the listeners saw while one op ran. Written by the listener-bus
  * thread, read by the client thread only after the bus is drained. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  var inputBytes, inputRecords = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)] // epoch ms
  var planNodes, exchanges = 0L
  var analysisMs, optimizerMs, planningMs = 0L
  var triggers, addBatchMs, triggerMs, stateRows, stateBytes = 0L
}

/** One timed call into the program. `layer` names the per-layer span the
  * op's latency is reported under; `rows` is the size of its result. */
final case class OpRecord(id: Int, family: String, layer: String,
    startNs: Long, endNs: Long, ok: Boolean, rows: Long,
    extra: Map[String, Double], gcMs: Long, counters: OpCounters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark's layer recorder. Storage peaks are always tracked (an
  * end-to-end metric); spans and per-op counters only when `traced`.
  * Jobs are tied to an op through the `perfbench.op` local property; SQL
  * executions and streaming progress are tied to the op that is running
  * when the drained listener bus delivers them (one client thread, and
  * the bus is drained before an op is closed). */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val counters = new ConcurrentHashMap[Int, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobOp = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  @volatile private var currentOp = -1

  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var storageNow = 0L
  @volatile private var storagePeak = 0L

  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[OpRecord]
  private var nextSpan = 0
  private var openSpans = List.empty[Int]
  private var nextOp = 0

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Recorder.OpProp)))
      .map(_.toInt).getOrElse(-1)
  private def forOp(op: Int)(f: OpCounters => Unit): Unit =
    if (op >= 0) Option(counters.get(op)).foreach(c => c.synchronized(f(c)))

  private val sparkListener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isInstanceOf[RDDBlockId]) Recorder.this.synchronized {
        val key = info.blockManagerId.executorId + "/" + info.blockId.name
        val before = Option(blocks.get(key)).getOrElse(0L)
        val now = if (info.storageLevel.isValid) info.memSize else 0L
        if (now > 0) blocks.put(key, now) else blocks.remove(key)
        storageNow += now - before
        if (storageNow > storagePeak) storagePeak = storageNow
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
      val op = opOf(e.properties)
      jobOp.put(e.jobId, op)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageOp.put(s, op))
      forOp(op)(_.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
      val op = Option(jobOp.get(e.jobId)).map(_.intValue).getOrElse(-1)
      val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      forOp(op)(_.jobIntervals += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (traced) forOp(Option(stageOp.get(e.stageInfo.stageId))
        .map(_.intValue).getOrElse(-1))(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
      val m = e.taskMetrics
      if (m != null) forOp(Option(stageOp.get(e.stageId)).map(_.intValue)
          .getOrElse(-1)) { c =>
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private val planHelper = new AdaptiveSparkPlanHelper {}
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = forOp(currentOp) { c =>
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val nodes = planHelper.collectWithSubqueries(qe.executedPlan) {
        case p => p }
      c.analysisMs += ms("analysis")
      c.optimizerMs += ms("optimization")
      c.planningMs += ms("planning")
      c.planNodes += nodes.size
      c.exchanges += nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      forOp(currentOp) { c =>
        val p = e.progress
        def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        c.triggers += 1
        c.triggerMs += d("triggerExecution")
        c.addBatchMs += d("addBatch")
        c.stateRows = p.stateOperators.map(_.numRowsTotal).sum
        c.stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
      }
  }

  sc.addSparkListener(sparkListener)
  if (traced) {
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    if (traced) {
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** Peak storage memory (bytes) held by persisted or checkpointed RDD
    * blocks stored since the last reset. */
  def peakStorageBytes: Long = { drain(); storagePeak }
  def resetStoragePeak(): Unit = {
    drain()
    synchronized { blocks.clear(); storageNow = 0L; storagePeak = 0L }
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)

  private def gcMs(): Long = {
    var t = 0L
    val it = ManagementFactory.getGarbageCollectorMXBeans.iterator()
    while (it.hasNext) t += math.max(0L, it.next().getCollectionTime)
    t
  }

  /** Time one call into the program: `call` performs the call and its
    * action and returns the output check, which runs after the clock and
    * the op's job attribution have stopped. An exception in either counts
    * as a failed op. */
  def op(family: String, layer: String)(call: => () => Outcome): OpRecord = {
    val id = nextOp; nextOp += 1
    val c = new OpCounters
    counters.put(id, c)
    sc.setLocalProperty(Recorder.OpProp, id.toString)
    currentOp = id
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val check =
      try Some(span(family, root = Some(id))(call))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $family failed: $e"); None }
    val t1 = System.nanoTime()
    val gc = gcMs() - gc0
    if (traced) drain()
    currentOp = -1
    sc.setLocalProperty(Recorder.OpProp, null)
    val out = check.map { f =>
      try f() catch { case e: Throwable =>
        System.err.println(s"[perfbench] $family check failed: $e")
        Outcome(ok = false, 0L)
      }
    }.getOrElse(Outcome(ok = false, 0L))
    val r = OpRecord(id, family, layer, t0, t1, out.ok, out.rows, out.extra,
      gc, c)
    ops += r
    r
  }

  /** A child span inside the running op (recorded only when traced). */
  def span[T](name: String, root: Option[Int] = None)(body: => T): T =
    if (!traced) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = if (root.isDefined) -1 else openSpans.headOption.getOrElse(-1)
      val op = root.getOrElse(currentOp)
      openSpans = id :: openSpans
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
        openSpans = openSpans.tail
      }
    }

  /** Wall-clock ms → the nanoTime scale spans use. */
  val epochToNanoOffset: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
}

object Recorder {
  val OpProp = "perfbench.op"
}
