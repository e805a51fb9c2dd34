package graft.algos

import graft.{ConvergenceStats, SsspConfig}
import graft.graph.LinkGraph
import org.apache.spark.sql.graft.StatsReset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source shortest paths on directed weighted graphs.
  *
  * The reference implements delta-stepping with shared-memory buckets and
  * CAS-min relaxation (/root/reference/crates/algos/src/sssp.rs:21-204);
  * buckets are a scheduling device only — the min-plus fixed point it
  * converges to is schedule-independent (SURVEY.md §2.6). Our distributed
  * formulation is frontier-based Bellman-Ford: each round relaxes only edges
  * out of vertices whose distance improved last round (the frontier), the
  * natural Spark reading of the same fixed point:
  *
  *   dist(start)=0, dist(v)=+inf
  *   round: cand(w) = min over frontier edges (v,w) of dist(v)+weight(v,w)
  *          dist'(w) = min(dist(w), cand(w)); frontier' = improved vertices
  *   stop when the frontier is empty.
  *
  * Unreached vertices report Double.PositiveInfinity (the reference uses
  * f32::MAX, sssp.rs:12,50-52).
  */
object Sssp {

  case class Result(distances: DataFrame, stats: ConvergenceStats)

  /** Infinite-delta relax rounds per convergence-probe action. */
  private val RelaxRoundsPerProbe = 4

  def run(
      graph: LinkGraph,
      config: SsspConfig,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 10,
      broadcastVertices: Long = 5000000L): Result = {
    val spark = graph.edges.sparkSession
    import spark.implicits._

    // min-plus never needs parallel edges: relax the min-weight compressed
    // view (one build-time groupBy; identical fixed point, round-2 verdict
    // #3 — duplicate (src,dst) rows relaxed redundantly every round).
    val edges = graph.minWeightBySrc
    // node count off the persisted relaxation cache: the min-weight
    // compression keeps every (src, dst) pair (it only collapses parallel
    // edges), so max-id is identical — and the uncached upstream edge
    // derivation is not evaluated a SECOND time just for the count
    // (round-6; the LP/WCC nodeCountFrom pattern)
    val n = graph.nodeCountFrom(edges)
    require(config.startNode >= 0 && config.startNode < n,
      s"start node ${config.startNode} out of range [0,$n)")

    // State holds only REACHED vertices (sparse — tiny early on):
    // (id, dist, pending) where pending = improved but not yet relaxed.
    // With finite delta (reference DeltaSteppingConfig, sssp.rs:21-41) each
    // round's frontier is the pending vertices inside the current distance
    // band [0, (bucket+1)*delta); when a band drains, the bucket advances to
    // the band of the smallest pending distance. Infinite delta makes the
    // threshold +inf — the frontier is all pending vertices (plain frontier
    // Bellman-Ford). Both schedules reach the identical min-plus fixed point.
    // Durable checkpoint/resume (north rule §4.8): the sparse
    // (id, dist, pending) state is the complete loop state — the delta band
    // re-derives from the minimum pending distance, so only the state table
    // needs to persist. State at round k is config-dependent through
    // (start, delta), input-dependent through the edge set.
    val steps = new Supersteps(spark, n, broadcastVertices, checkpointDir,
      checkpointEvery, "sssp", s"sssp|s=${config.startNode}" +
        s"|delta=${config.delta}|n=$n|m=${graph.edgeCount}")
    var iteration = steps.startIteration
    var state = steps.resume.map(_._2)
      .getOrElse(spark.range(1).select(
        lit(config.startNode).as("id"), lit(0.0).as("dist"),
        lit(true).as("pending")))
      .transform(StatsReset.checkpointNoStats)
    val deltaFinite = !config.delta.isInfinite
    var bucket =
      if (deltaFinite && steps.resume.isDefined) {
        // resume into the band of the smallest pending distance
        val mp = state.filter($"pending").agg(min($"dist")).first()
        if (mp.isNullAt(0)) 0L
        else math.floor(mp.getDouble(0) / config.delta).toLong
      } else 0L
    var done = false

    // One relax round as a lazy transform over `cur`: cand(w) = min over
    // in-band frontier edges (v,w) of dist(v)+weight; pending' = newly
    // improved, plus pending vertices beyond the band that were not relaxed
    // this round.
    //
    // The state/candidate merge is a UNION + groupBy(id) min-fold, NOT a
    // full-outer join (round-6 optimization, guide §3.1/§2.4): Spark cannot
    // broadcast-hash a full outer join (the hint is logged and DROPPED —
    // "build right for full outer join" — by HintErrorLogger), so the old
    // form paid a SortMergeJoin per round: both sides exchanged AND sorted,
    // in every mode. The union form shuffles the same vertex-sized rows
    // once (partial aggregation, no sorts) and reaches the identical fixed
    // point: each id occurs at most once per side, so min(dist) is the
    // state's dist, min(cand) the candidate's relaxation, max(pending) the
    // state's flag (cand rows contribute false), exactly the fields the
    // full-outer select read.
    def relaxRound(cur: DataFrame, threshold: Double): DataFrame = {
      val frontier = cur.filter($"pending" && $"dist" < threshold)
        .select($"id", $"dist")
      val cand = edges
        .join(steps.side(frontier), edges("src") === frontier("id"))
        .groupBy(edges("dst").as("id"))
        .agg(min($"dist" + $"weight").as("cand"))
      cur.select($"id", $"dist", $"pending",
          lit(null).cast("double").as("cand"))
        .unionByName(cand.select($"id",
          lit(null).cast("double").as("dist"), lit(false).as("pending"),
          $"cand"))
        .groupBy($"id")
        .agg(min($"dist").as("d0"), max($"pending").as("p0"),
          min($"cand").as("c0"))
        .select($"id",
          least(coalesce($"d0", lit(Double.PositiveInfinity)),
            coalesce($"c0", lit(Double.PositiveInfinity))).as("dist"),
          (($"c0".isNotNull && ($"d0".isNull || $"c0" < $"d0")) ||
            (coalesce($"p0", lit(false)) && $"d0" >= threshold))
            .as("pending"))
    }

    // Round batching (round-4 verdict #4 — SSSP was the one iterative
    // algorithm still paying two driver-action floors per round): with
    // infinite delta, run RelaxRoundsPerProbe relax rounds per convergence
    // probe, in both modes. Min-plus relaxation past frontier exhaustion is
    // a no-op, so the batch reaches the identical fixed point; the probe
    // only decides WHEN to stop, never what is computed. Every round
    // materializes ([[Supersteps]] rule 2). A FINITE delta keeps per-round
    // probes: the band-advance decision is a driver-side branch.
    if (!deltaFinite) {
      while (!done && iteration < config.maxIterations) {
        val rounds = steps.batch(iteration, config.maxIterations,
          RelaxRoundsPerProbe)
        for (_ <- 0 until rounds)
          state = relaxRound(state, Double.PositiveInfinity)
            .transform(StatsReset.checkpointNoStats)
        iteration += rounds
        // ONE probe action per BATCH over the materialized state: any
        // vertex still pending means another batch is needed.
        done = state.agg(count(when($"pending", 1)))
          .first().getLong(0) == 0L
        if (steps.due(iteration,
            over = done || iteration >= config.maxIterations))
          state = steps.write(iteration, 0.0, state)
            .transform(StatsReset.checkpointNoStats)
      }
    } else while (!done && iteration < config.maxIterations) {
      val threshold =
        if (deltaFinite) (bucket + 1) * config.delta
        else Double.PositiveInfinity
      // ONE probe action per round over the cached state: the in-band
      // frontier size AND the minimum pending distance (the band-advance
      // target) in a single aggregate — round-2 verdict #3 flagged the
      // separate count() + min() driver round-trips.
      val probe = state.agg(
        count(when($"pending" && $"dist" < threshold, 1)).as("in_band"),
        min(when($"pending", $"dist")).as("min_pending")).first()
      if (probe.getLong(0) == 0L) {
        // this band is drained; jump to the band of the nearest pending
        // vertex, or stop when nothing is pending anywhere.
        if (probe.isNullAt(1)) done = true
        else bucket =
          math.floor(probe.getDouble(1) / config.delta).toLong
      } else {
        // eager localCheckpoint truncates the per-round plan lineage
        // (SURVEY.md §7.4-5); frontier/dist are cheap views over the cached
        // RDD.
        state = relaxRound(state, threshold)
          .transform(StatsReset.checkpointNoStats)
        iteration += 1
        // no write when the loop stops on the iteration cap (resume
        // re-derives the band from state)
        if (steps.due(iteration, over = iteration >= config.maxIterations))
          state = steps.write(iteration, 0.0, state)
            .transform(StatsReset.checkpointNoStats)
      }
    }

    val full = graph.vertices
      .join(steps.side(state.select($"id", $"dist")), Seq("id"), "left")
      .select($"id",
        coalesce($"dist", lit(Double.PositiveInfinity)).as("dist"))
    Result(full, ConvergenceStats(iteration, 0.0, done))
  }
}
