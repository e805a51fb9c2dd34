package graft.algos

import graft.{ConvergenceStats, SsspConfig}
import graft.graph.LinkGraph
import org.apache.spark.sql.{DataFrame, Row}
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
    // node count off the relaxation cache: the min-weight compression
    // keeps every (src, dst) pair (it only collapses parallel edges), so
    // max-id is identical, and the scan materializes the cache the rounds
    // read anyway instead of evaluating the uncached upstream edge
    // derivation a SECOND time just for the count (round-6)
    val n = graph.nodeCountFrom(LinkGraph.scan(edges)._1)
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
    val deltaFinite = !config.delta.isInfinite
    // Every materialization of the state observes the whole convergence
    // probe in its own action: rows pending inside the band below
    // `threshold`, rows pending anywhere, and the smallest pending distance
    // (the band-advance target).
    def measured(df: DataFrame, threshold: Double): (DataFrame, Row) =
      Supersteps.materialize(df,
        count(when($"pending" && $"dist" < threshold, 1)),
        count(when($"pending", 1)),
        min(when($"pending", $"dist")))
    var bucket = 0L
    var done = false
    // a drained band jumps to the band of the nearest pending vertex (which
    // the next round's frontier then holds); nothing pending ends the run
    def advance(probe: Row): Unit =
      if (probe.getLong(1) == 0L) done = true
      else if (probe.getLong(0) == 0L)
        bucket = math.floor(probe.getDouble(2) / config.delta).toLong

    var iteration = steps.startIteration
    // the start (or resumed) state probes against an empty band, so a
    // resume enters the band of its smallest pending distance
    val (start, startProbe) = measured(steps.resume.map(_._2)
      .getOrElse(spark.range(1).select(
        lit(config.startNode).as("id"), lit(0.0).as("dist"),
        lit(true).as("pending"))), Double.NegativeInfinity)
    var state = start
    advance(startProbe)

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

    // One relax round per action: the probe rides the round's own
    // checkpoint, so rounds past frontier exhaustion are never run and no
    // probe job is paid. A finite delta relaxes only the current band.
    while (!done && iteration < config.maxIterations) {
      val threshold =
        if (deltaFinite) (bucket + 1) * config.delta
        else Double.PositiveInfinity
      val (next, p) = measured(relaxRound(state, threshold), threshold)
      state = next
      iteration += 1
      advance(p)
      // no write when the loop stops (resume re-derives the band from
      // state)
      steps.save(iteration, 0.0, state,
        over = done || iteration >= config.maxIterations)
    }

    val full = graph.vertices
      .join(steps.side(state.select($"id", $"dist")), Seq("id"), "left")
      .select($"id",
        coalesce($"dist", lit(Double.PositiveInfinity)).as("dist"))
    Result(full, ConvergenceStats(iteration, 0.0, done))
  }
}
