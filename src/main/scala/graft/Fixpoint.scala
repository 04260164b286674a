package graft

import org.apache.spark.sql.DataFrame

/** The one frontier-fixpoint loop behind every driver-side recursion:
  * BFS reachability, the recursive-pull depth probe,
  * [[graft.graph.RefGraph.shortestPaths]] and each semi-naive datalog
  * stratum. Per level: the caller's expansion of the frontier, a
  * left-anti join against the running total on the key columns and an
  * eager localCheckpoint of the delta, then one small job (isEmpty, or a
  * count) on it. The total is a lazy union of the checkpointed deltas —
  * no third job per level — re-pinned every 8 unions, so the anti-join
  * plans against at most 8 union leaves instead of one per level.
  *
  * Valve contract: a run converges when some delta comes back empty
  * within `maxIters` expansion steps; otherwise [[requireConverged]]
  * throws, naming the operator and `maxIters` — a truncated closure
  * would look like a valid answer. */
private[graft] object Fixpoint {
  private val RepinEvery = 8

  /** `levels` counts the non-empty deltas; `deltaSizes` has one entry per
    * step — the row count when counted, else 1 (non-empty) or 0. */
  final case class Result(total: DataFrame, levels: Int, converged: Boolean,
      deltaSizes: Seq[Long])

  /** A running total of rows unique on `keys`. */
  final class Total(seed: DataFrame, keys: Seq[String]) {
    private var df = seed
    private var sincePin = 0

    def get: DataFrame = df

    /** The rows of `candidates` not yet in the total, checkpointed. */
    def delta(candidates: DataFrame): DataFrame =
      candidates.join(df, keys, "left_anti").localCheckpoint(eager = true)

    def add(delta: DataFrame): Unit = {
      df = df.unionByName(delta)
      sincePin += 1
      if (sincePin == RepinEvery) {
        df = df.localCheckpoint(eager = true)
        sincePin = 0
      }
    }
  }

  /** Runs `step(1)`, `step(2)`, … until a step reports an empty delta
    * (converged: true) or `maxIters` steps have run (false). */
  def iterate(maxIters: Int)(step: Int => Boolean): Boolean =
    (1 to maxIters).exists(level => !step(level))

  def requireConverged(op: String, maxIters: Int, converged: Boolean): Unit =
    if (!converged) throw new IllegalStateException(
      s"$op did not reach a fixpoint within maxIters=$maxIters steps — " +
        "raise maxIters or check the input for unexpected edges or " +
        "divergent rules")

  /** One fixpoint from `seed`: `expand(frontier, level)` maps the last
    * delta (the seed at level 1) to candidate rows in the seed's schema.
    * `maxFrontier` counts every delta and throws on one above the cap. */
  def run(op: String, seed: DataFrame, keys: Seq[String], maxIters: Int,
      counted: Boolean = false, maxFrontier: Option[Long] = None)(
      expand: (DataFrame, Int) => DataFrame): Result = {
    val total = new Total(seed.localCheckpoint(eager = true), keys)
    var frontier = total.get
    val sizes = Seq.newBuilder[Long]
    val converged = iterate(maxIters) { level =>
      val delta = total.delta(expand(frontier, level))
      val n =
        if (counted || maxFrontier.isDefined) delta.count()
        else if (delta.isEmpty) 0L else 1L
      for (cap <- maxFrontier if n > cap) throw new IllegalStateException(
        s"$op: frontier of $n rows at level $level exceeds " +
          s"maxFrontier=$cap — the graph is too dense for per-root " +
          "traversal at this root-set size; batch the roots or raise the cap")
      sizes += n
      if (n > 0) {
        total.add(delta)
        frontier = delta
      }
      n > 0
    }
    val perStep = sizes.result()
    Result(total.get, perStep.count(_ > 0), converged, perStep)
  }
}
