package graft.algos

import graft.{ConvergenceStats, PageRankConfig}
import graft.graph.LinkGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank re-expressed as synchronous (Jacobi) supersteps of
  * Catalyst-planned join + aggregate, matching the recurrence of the
  * reference's pull-based implementation
  * (/root/reference/crates/algos/src/page_rank.rs:58-167):
  *
  *   init_score = 1/n; base = (1-d)/n
  *   score'(u)  = base + d * sum over in-neighbors v of score(v)/out_deg(v)
  *   error      = sum_u |score'(u) - score(u)|   (accumulated in f64)
  *   stop when error < tolerance or iteration == max_iterations
  *
  * Exact semantic contract (SURVEY.md §2.2): duplicate edges contribute once
  * per occurrence (the reference gathers the raw in-neighbor multiset);
  * dangling mass is dropped, NOT redistributed (an out-degree-0 node sends
  * nothing); scores do not sum to 1; the vertex universe is 0..max_id even
  * for ids absent from the edge list. The reference's chunk-sequential
  * intra-iteration updates are schedule-dependent at the last f32 bits; our
  * strictly synchronous Double iteration is the deterministic reading of the
  * same recurrence and matches the golden vectors well within the 1e-6
  * allclose contract (see ReferencePageRank for the pinned-iteration parity
  * oracle).
  *
  * Physical plan per superstep (kept minimal):
  *  - senders: narrow filter/projection over the state
  *    (out_scores = score/out_deg hoisted once per superstep, reference P7)
  *  - gather: cached edges JOIN vertex state -> groupBy(dst).sum. In
  *    broadcast mode (state fits memory) the edge side is the row-count-
  *    BALANCED cache — src-hash partitioning is pathologically skewed under
  *    Zipf hubs and caps every stage at the hub partition's size — and the
  *    state is broadcast. Above `broadcastVertices` the join is a
  *    shuffle-hash build of the state against the src-partitioned cache.
  *    Partial map-side aggregation absorbs dst-hub skew before the gather
  *    shuffle; optional `gatherSalt` > 1 splits heavy srcs across
  *    partitions via virtual ids — the distributed counterpart of the
  *    reference's degree-balanced work ranges (graph_ops.rs:331-440).
  *  - scatter: rides the gather's exchange. The state rows (id, score as
  *    `prev`, out_deg) are unioned into the contributions and grouped by
  *    id with them, so one shuffle yields the next state, whose rows carry
  *    the old score as `prev` into the superstep's action (not into the
  *    materialized state). The graph's cached dense degree table only
  *    seeds round 0 (a resume reads out_deg off its checkpoint and never
  *    builds it).
  *  - the error sum |score - prev| is observed inside the superstep's own
  *    checkpoint, so it costs no job in either mode; it only decides the
  *    stop when tolerance > 0.
  * Placement, the per-superstep lineage cut, resume and the durable
  * checkpoint cadence follow [[Supersteps]].
  */
object PageRank {

  case class Result(scores: DataFrame, stats: ConvergenceStats)

  /** Core count below which AUTO hub salting declines (see autoSalt
    * scaladoc for the measured crossover) — shared by every shuffle-mode
    * gather that threads the lever (PageRank, LabelPropagation).
    */
  val SaltCrossoverCores = 32

  /** AUTO salting decision (gatherSalt < 0) for shuffle-mode gathers, from
    * the hub histogram (LinkGraph.srcHubStats). Two measured preconditions
    * (BASELINE.md) must BOTH hold before targeted hub splitting engages:
    *
    *  - `cores >= 32`: below ~32 concurrent cores the split costs more
    *    than the straggler it removes (the senders explode + per-superstep
    *    hub broadcast are pure overhead while the hub partition still fits
    *    in the wave) — measured on the Zipf bench graph, so the N->4N
    *    scaling protocol (2 and 8 cores) is deliberately untouched;
    *  - the heaviest src must exceed one average partition (below that,
    *    hash(src) placement already packs it into a normal-sized wave slot).
    *
    * The returned factor splits the hub across ~2x the partition-spans it
    * occupies (so each virtual id owns ~half an average partition), capped
    * at 16 — beyond that the per-superstep state replication dominates.
    * Pure so the rule is unit-testable.
    */
  def autoSalt(maxSrcRows: Long, totalRows: Long, numPartitions: Int,
      cores: Int): Int =
    if (cores < SaltCrossoverCores || totalRows <= 0L) 1
    else {
      val perPart = math.max(1L, totalRows / math.max(1, numPartitions))
      if (maxSrcRows <= perPart) 1
      else math.min(16, math.max(2,
        math.ceil(2.0 * maxSrcRows / perPart).toInt))
    }

  def run(
      graph: LinkGraph,
      config: PageRankConfig = PageRankConfig(),
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5,
      broadcastVertices: Long = 5000000L,
      gatherSalt: Int = -1): Result = {
    val spark = graph.edges.sparkSession
    import spark.implicits._

    val n = graph.nodeCount
    require(n > 0, "PageRank on empty graph")
    val d = config.dampingFactor
    val initScore = 1.0 / n
    val baseScore = (1.0 - d) / n
    val trackError = config.tolerance > 0.0
    // The fingerprint carries only STATE-determining facts (damping,
    // graph): a checkpoint at iteration k is valid for any
    // maxIterations/tolerance (those only decide when to stop).
    val steps = new Supersteps(spark, n, broadcastVertices, checkpointDir,
      checkpointEvery, "page_rank",
      s"page_rank|d=$d|n=$n|m=${graph.edgeCount}")

    // The gather runs on the compressed multigraph (one row per distinct
    // (src,dst) with multiplicity): PageRank is linear in multiplicity, so
    // contribution = cnt * out_score gives identical sums over an 8x
    // smaller scan (measured on the Zipf bench graph).
    // broadcast mode: row-balanced cache (hub-skew-proof, state broadcast).
    // shuffle mode: (src, salt)-hash-partitioned cache — the senders table
    // shuffles by (src, salt) and meets it with no exchange on the big
    // side, and Zipf hubs are split across `gatherSalt` partitions instead
    // of capping one (stage time = slowest partition).
    // gatherSalt: >= 1 explicit (1 = never split), < 0 = AUTO — engage
    // targeted hub splitting from the measured preconditions (autoSalt
    // scaladoc; the default, mirroring the reference's degree-balanced
    // partitioning being always-on rather than a flag). The histogram costs
    // one aggregation over the multigraph cache the gather scans anyway.
    val salt =
      if (steps.broadcastMode) 1
      else if (gatherSalt >= 1) gatherSalt
      else {
        val cores = spark.sparkContext.defaultParallelism
        // below the crossover: skip the histogram job too
        if (cores < SaltCrossoverCores) 1
        else {
          val (maxRows, totalRows) = graph.srcHubStats
          autoSalt(maxRows, totalRows, graph.numPartitions, cores)
        }
      }
    // salt == 1 keeps the single-column join key: the composite (src, salt)
    // probe measured ~+35% CPU across the whole gather scan, so salting
    // only engages for graphs whose hub partitions actually dominate.
    val (edges, hubs) =
      if (steps.broadcastMode) (graph.multiplicities, null)
      else if (salt <= 1) (graph.multiplicitiesBySrc, null)
      else graph.multiplicitiesSalted(salt)
    // State rows are (id, score, out_deg). Round 0 reads out_deg off the
    // graph-owned dense degree table (LinkGraph.outDegrees); a resume reads
    // it off its checkpoint and never builds the table.
    var iteration = steps.startIteration
    var state = steps.start(graph.outDegrees(edges).select($"id",
      lit(initScore).as("score"), $"out_deg"))

    var error = Double.NaN
    var converged = false

    while (!converged && iteration < config.maxIterations) {
      val senders0 = state.filter($"out_deg" > 0)
        .select($"id", ($"score" / $"out_deg").as("out_score"))
      // hub state rows replicate to their virtual src ids; everything else
      // ships one row with vid = id. The join key stays a single long.
      val (senders, joinKey) =
        if (salt <= 1) (senders0, edges("src") === senders0("id"))
        else {
          val v = LinkGraph.explodeToVirtual(senders0, hubs, salt)
            .select($"vid", $"out_score")
          (v, edges("vsrc") === v("vid"))
        }
      // gather + scatter in ONE exchange: every vertex's own state row
      // (its score as `prev`, out_deg) meets the contributions to it in the
      // same groupBy(id) instead of a scatter join, which would shuffle the
      // state a second time each superstep.
      val contributions = edges
        .join(steps.side(senders), joinKey)
        .select(edges("dst").as("id"), ($"cnt" * $"out_score").as("c"),
          lit(null).cast("double").as("prev"),
          lit(null).cast("double").as("out_deg"))
      val next = contributions
        .unionByName(state.select($"id", lit(null).cast("double").as("c"),
          $"score".as("prev"), $"out_deg"))
        .groupBy($"id")
        .agg(sum($"c").as("in_sum"), max($"prev").as("prev"),
          max($"out_deg").as("out_deg"))
        .select($"id",
          (lit(baseScore) + lit(d) * coalesce($"in_sum", lit(0.0)))
            .as("score"),
          $"out_deg", $"prev")
      iteration += 1
      val (mat, measured) = Supersteps.materialize(next,
        sum(abs($"score" - $"prev")))
      error = measured.getDouble(0)
      converged = trackError && error < config.tolerance
      state = mat
      steps.save(iteration, error, state,
        over = converged || iteration >= config.maxIterations)
    }

    Result(state.select($"id", $"score"),
      ConvergenceStats(iteration, error, converged))
  }
}
