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
  *  2. MATERIALIZATION. Every round's state is materialized before the
  *     next round reads it, in both placements: `localCheckpoint` for
  *     PageRank, StatsReset.checkpointNoStats elsewhere. A lazily chained
  *     round re-reads its input state once per state join, so k chained
  *     WCC/SCC rounds (two state joins plus the pointer-jump self-join)
  *     inline ~4^k copies of the start state (shuffle-mode WCC on a
  *     70k-edge graph, 4 cores: 84-92 s chained 4 rounds per action vs
  *     3-4 s at one round per action).
  *  3. RESUME. The newest complete checkpoint of this algorithm whose
  *     fingerprint matches. The fingerprint names only state-determining
  *     facts, and is evaluated only when checkpointing is on (it usually
  *     costs an edge count).
  *  4. DURABLE CADENCE. A checkpoint is due at multiples of
  *     `checkpointEvery`, never once the run is over. SSSP's rounds per
  *     convergence probe are clamped to the next due point, so they land
  *     on exactly those multiples instead of lcm(batch, every).
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

  private lazy val fp = if (checkpointDir.isDefined) fingerprint else ""

  /** Rule 3: (meta, state) of the checkpoint to resume from, if any. */
  lazy val resume: Option[(Checkpointer.Meta, DataFrame)] = checkpointDir
    .flatMap(Checkpointer.latest(spark, _, fp))
    .filter(_._1.algorithm == algorithm)

  def startIteration: Int = resume.fold(0)(_._1.iteration)

  /** Rounds in the batch that starts after `iteration`: up to `rounds`,
    * never past `limit` or the next due checkpoint (rule 4).
    */
  def batch(iteration: Int, limit: Int, rounds: Int): Int = {
    val r = math.min(rounds, limit - iteration)
    if (checkpointDir.isEmpty) r
    else math.min(r, checkpointEvery - iteration % checkpointEvery)
  }

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
