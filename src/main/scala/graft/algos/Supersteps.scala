package graft.algos

import graft.checkpoint.Checkpointer
import org.apache.spark.sql.graft.Cut
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
  *     next round reads it, in both placements, by the engine's one lineage
  *     cut, [[Cut]], which also drops the origin plan's size estimate (a
  *     plain localCheckpoint keeps it, and the join estimates multiply it
  *     every round). No round ends in a repartition, so the cut declares
  *     no partitioning for state. A lazily chained round re-reads its
  *     input state once per state join, so k chained WCC/SCC rounds (two
  *     state joins plus the pointer-jump self-join) inline ~4^k copies of
  *     the start state (shuffle-mode WCC on a 70k-edge graph, 4 cores:
  *     84-92 s chained 4 rounds per action vs 3-4 s at one round per
  *     action). The round's convergence measure
  *     (error, changed or pending rows) rides that same action
  *     ([[Supersteps.materialize]]), so a probe costs no job: the round's
  *     rows carry what the measure compares against (`prev`) into that
  *     action, instead of a second scan of data the round already wrote;
  *     `prev` itself is never materialized.
  *  3. RESUME. The newest complete checkpoint of this algorithm whose
  *     fingerprint matches ([[start]]). The fingerprint names only
  *     state-determining facts, and is evaluated only when checkpointing
  *     is on (it usually costs an edge count).
  *  4. DURABLE CADENCE. A checkpoint is due at multiples of
  *     `checkpointEvery`, never once the run is over ([[save]]). Rule 2
  *     already cut the saved state's lineage, so the caller keeps the
  *     frame it holds; the write is a side effect.
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

  /** Rules 2 and 3: the resumed state, or `seed` (evaluated only without
    * one), materialized.
    */
  def start(seed: => DataFrame): DataFrame = Cut(resume.fold(seed)(_._2))

  /** Rule 4: write `state` durably after `iteration` unless `over` (the run
    * stops here and the caller holds the result) or the cadence says no.
    */
  def save(iteration: Int, error: Double, state: DataFrame,
      over: Boolean): Unit =
    if (checkpointDir.isDefined && !over && iteration % checkpointEvery == 0)
      write(iteration, error, state)

  /** Write `state` durably now, whatever the cadence. */
  def write(iteration: Int, error: Double, state: DataFrame,
      converged: Boolean = false): Unit =
    Checkpointer.write(checkpointDir.get, algorithm, iteration, error,
      state, fp, converged)
}

private[algos] object Supersteps {

  /** Rule 2's one action: [[Cut.measured]] materializes `df` without its
    * `prev` column (if any), and observes the aggregate `measures` (at
    * least one) over its rows, `prev` included, in that same action.
    */
  def materialize(df: DataFrame, measures: Column*): (DataFrame, Row) =
    Cut.measured(df, measures, "prev")
}
