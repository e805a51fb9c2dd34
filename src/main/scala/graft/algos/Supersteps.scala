package graft.algos

import graft.checkpoint.Checkpointer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The superstep policy PageRank, WCC, SCC, LP and SSSP share, built once
  * per run. It owns four rules; each algorithm keeps only its step
  * function, its convergence measure and its own shape.
  *
  *  1. PLACEMENT. Vertex state of `n <= broadcastVertices` rows is
  *     broadcast into every state join. Above that, `side` hints
  *     shuffle_hash, so the planner builds the (small) state side and never
  *     sort-merges the cached edge side (an SMJ would re-sort the big table
  *     every round).
  *  2. MATERIALIZATION. Shuffle mode chains [[Supersteps.ChainRounds]]
  *     rounds lazily into one fused job per action (ReuseExchange dedupes
  *     the repeated subtrees). Broadcast mode materializes every round:
  *     each nested broadcast build is its own driver job that re-executes
  *     its lazy subtree with no cross-build reuse, ~2^k work per action at
  *     k chained rounds (BASELINE.md: sf0.1 events WCC 3.5 s/round at one
  *     round per action vs 8.5 s/round at four; SCC 7.8 s vs 19.6 s end to
  *     end).
  *  3. RESUME. The newest complete checkpoint of this algorithm whose
  *     fingerprint matches. The fingerprint names only state-determining
  *     facts, and is evaluated only when checkpointing is on (it usually
  *     costs an edge count).
  *  4. DURABLE CADENCE. A checkpoint is due at multiples of
  *     `checkpointEvery`, never once the run is over, and every batch is
  *     clamped to the next due point, so batched rounds land on exactly
  *     those multiples instead of lcm(batch, every).
  */
private[algos] final class Supersteps(
    spark: SparkSession,
    n: Long,
    broadcastVertices: Long,
    checkpointDir: Option[String],
    checkpointEvery: Int,
    algorithm: String,
    fingerprint: => String) {

  require(checkpointDir.isEmpty || checkpointEvery >= 1,
    s"checkpointEvery must be >= 1, got $checkpointEvery")

  val broadcastMode: Boolean = n <= broadcastVertices

  /** The state side of a state join, placed by rule 1. */
  def side(df: DataFrame): DataFrame =
    if (broadcastMode) broadcast(df) else df.hint("shuffle_hash")

  /** Rounds chained lazily between materializations (rule 2). */
  val chain: Int = if (broadcastMode) 1 else Supersteps.ChainRounds

  private lazy val fp = if (checkpointDir.isDefined) fingerprint else ""

  /** Rule 3: (meta, state) of the checkpoint to resume from, if any. */
  lazy val resume: Option[(Checkpointer.Meta, DataFrame)] = checkpointDir
    .flatMap(Checkpointer.latest(spark, _, fp))
    .filter(_._1.algorithm == algorithm)

  def startIteration: Int = resume.fold(0)(_._1.iteration)

  /** Rounds in the batch that starts after `iteration`: up to `rounds`,
    * never past `limit` or the next due checkpoint (rule 4).
    */
  def batch(iteration: Int, limit: Int, rounds: Int = chain): Int = {
    val r = math.min(rounds, limit - iteration)
    if (checkpointDir.isEmpty) r
    else math.min(r, checkpointEvery - iteration % checkpointEvery)
  }

  /** Lineage cut after round `iteration` of a fixed-iteration run (rule
    * 2): every round in broadcast mode, every `chain` rounds in shuffle
    * mode except the last, which the caller's result action runs.
    */
  def cut(iteration: Int, maxIterations: Int): Boolean =
    broadcastMode || (iteration % chain == 0 && iteration < maxIterations)

  /** Rule 4: a durable checkpoint is due after `iteration` unless `over`
    * (the run stops here and the caller holds the result).
    */
  def due(iteration: Int, over: Boolean): Boolean =
    checkpointDir.isDefined && !over && iteration % checkpointEvery == 0

  /** Write `state` durably; returns the re-read, lineage-free frame. */
  def write(iteration: Int, error: Double, state: DataFrame,
      converged: Boolean = false): DataFrame =
    Checkpointer.write(checkpointDir.get, algorithm, iteration, error,
      state, fp, converged)
}

private[algos] object Supersteps {

  /** Rounds chained per action in shuffle mode. */
  val ChainRounds = 4
}
