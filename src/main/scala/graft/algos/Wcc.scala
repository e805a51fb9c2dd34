package graft.algos

import graft.{ConvergenceStats, WccConfig}
import graft.graph.LinkGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Cut

/** Weakly connected components as an iterative hash-min fixed point.
  *
  * The reference computes WCC with a shared-memory union-find using
  * union-by-min ("smaller set id wins",
  * /root/reference/crates/algos/src/dss.rs:38-62): at convergence every
  * node's component id is the MINIMUM node id of its component
  * (dss.rs:183-195). Union-find does not distribute; the equivalent
  * distributed fixed point is min-label propagation over the undirected
  * view of the raw edges (the reference unions across out- AND in-neighbors,
  * wcc.rs:274-301 — i.e. weak connectivity):
  *
  *   comp(v) <- min(comp(v), min over neighbors u of comp(u))
  *
  * which converges to exactly the same labeling (per-component min id) and is
  * order/partitioning independent — so "exact match" vs the reference is
  * well-defined (SURVEY.md §2.3). The Afforest variants (wcc.rs:158-301) are
  * shared-memory work-skipping optimizations with identical output; they are
  * not semantics we need to reproduce.
  *
  * Pointer-jumping acceleration: plain hash-min needs O(diameter) rounds; we
  * add a shortcutting round (comp <- comp of comp) after each propagation,
  * the "small-star-ish" move of Kiveris et al. (2014), which keeps the same
  * fixed point while collapsing chains in O(log d) rounds. Each round is one
  * join + min-aggregate over edges (partial aggregation handles hub skew)
  * plus one vertex-sized self-join for the shortcut.
  */
object Wcc {

  case class Result(components: DataFrame, stats: ConvergenceStats)

  /** AUTO contraction engages after this many hash-min+jump rounds — the
    * measured sweet spot on the 112M-edge bench graph (BASELINE.md:
    * contraction after round 2 beat both plain and earlier contraction;
    * rounds 1-2 settle the bulk of a power-law graph into its giant
    * component, Afforest's own observation, wcc.rs:158-301).
    */
  val AutoContractRound = 2

  /** AUTO-mode engagement rule (config.contractAfter < 0), evaluated at
    * each convergence check: contract when (a) the decision round is
    * reached, (b) the state is large enough that full-graph rounds are the
    * dominant cost (below `minState` the contraction's own jobs cost more
    * than the rounds they skip — toy graphs stay on the plain path), and
    * (c) ANY work remains. No changed-fraction condition, deliberately: a
    * plain hash-min round scans the FULL undirected edge set no matter how
    * few labels still move (measured on the 112M-edge bench graph: round 2
    * leaves 4,836 of 1.9M vertices moving — 0.25% — yet rounds 3-4 still
    * cost full scans, and contracting exactly there was the measured 74.5
    * -> 68.4 s win). That full-scan-regardless-of-progress cost is the
    * problem Afforest exists to skip, and why the reference runs it
    * UNCONDITIONALLY as its default (app.rs:15). Worst case (the fixed
    * point would have finished next round) contraction trades one full
    * edge scan for the contraction build — a wash; every earlier finish is
    * a win that grows with remaining rounds. Pure so the rule itself is
    * unit-testable.
    */
  def autoEngage(iteration: Int, stateRows: Long, changed: Long,
      minState: Long): Boolean =
    iteration >= AutoContractRound && stateRows >= minState && changed > 0L

  /** One hash-min + pointer-jump round over `state(id, lbl, prev)`, shared
    * with SCC's min-label propagation: lbl(v) <- min(lbl(v), min over edges
    * (u, v) of lbl(u)), then lbl(v) <- min(lbl(v), lbl(lbl(v))) (same
    * fixed point, collapses long chains logarithmically). `prev` rides
    * through both joins untouched, so the caller's changed flag is
    * lbl =!= prev.
    */
  private[algos] def minLabelRound(edges: DataFrame, state: DataFrame,
      side: DataFrame => DataFrame): DataFrame = {
    val labels = state.select(col("id"), col("lbl"))
    val nbrMin = edges
      .join(side(labels), edges("src") === labels("id"))
      .groupBy(edges("dst").as("id"))
      .agg(min(col("lbl")).as("nbr_min"))
    val propagated = state
      .join(side(nbrMin), Seq("id"), "left")
      .select(col("id"), col("prev"),
        least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("lbl"))
    val jump = propagated.select(col("id").as("jid"), col("lbl").as("jlbl"))
    propagated.as("p")
      .join(side(jump), col("p.lbl") === col("jid"), "left")
      .select(col("p.id").as("id"), col("p.prev").as("prev"),
        least(col("p.lbl"), coalesce(col("jlbl"), col("p.lbl"))).as("lbl"))
  }

  /** `raw`'s canonical edges: self-loops dropped and duplicates merged
    * (both no-ops under min), each pair once as (least, greatest).
    */
  private def canonical(raw: DataFrame): DataFrame =
    raw.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()

  /** The undirected edge table a round scans: both directions of the
    * canonical edges `canon`, cut once per run, row-balanced in both
    * placements. Not hash(src), which the cut would declare: a round reads
    * the neighbour-min aggregation twice (propagated labels, pointer-jump
    * side), and AQE reuses its exchange over an undeclared scan only (a
    * declared scan's partitioning keeps its own attribute ids when the
    * plan is canonicalized). Saving the shuffle-mode round's edge exchange
    * that way cost more than it saved (53k vertices, 203k edges, shuffle
    * mode, 4 cores: 49 jobs and 4.9 s declared vs 45 and 3.4 s not).
    */
  private[algos] def undirected(canon: DataFrame,
      numPartitions: Int): DataFrame =
    Cut(canon.select(explode(array(struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(numPartitions))

  /** @param sparseVertices when true, the component state is initialized
    *   from the CANONICAL edge endpoints only instead of the dense 0..n-1
    *   universe — vertices with no incident edge are absent from the
    *   output, and so is a vertex whose ONLY incident edges are self-loops
    *   (the canonical set drops self-loops before the endpoints are
    *   collected; dense mode labels such a vertex as its own singleton).
    *   The caller unions absent ids back as singletons if it needs them —
    *   coalesce(comp, id) is correct for both absence classes. This is
    *   the right shape when the edge set is far smaller than the id space:
    *   e.g. near-dup closure over an LSH pair graph iterates a pair-sized
    *   fixed point instead of billions of untouched singleton rows
    *   (round-2 verdict #2).
    */
  def run(
      graph: LinkGraph,
      config: WccConfig = WccConfig(),
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 10,
      broadcastVertices: Long = 5000000L,
      sparseVertices: Boolean = false,
      autoContractMinState: Long = 100000L): Result = {
    val spark = graph.edges.sparkSession
    import spark.implicits._

    // ONE evaluation of the (possibly expensive, uncached) upstream edge
    // derivation: the undirected table reads this cut, and its row count
    // (for the fingerprint) and max id (raw keeps self-loop-only vertices)
    // are observed in the same action. Sparse mode cuts the canonical
    // edges instead: it ignores the max id, and its row count bounds the
    // state.
    val (raw, rawMeasures) = Cut.measured(
      graph.edges.select($"src", $"dst")
        .transform(e => if (sparseVertices) canonical(e) else e),
      Seq(count(lit(1)), LinkGraph.nodeCountMeasure))
    val n =
      if (sparseVertices) -1L else graph.nodeCountFrom(rawMeasures.getLong(1))
    require(sparseVertices || n > 0, "WCC on empty graph")
    val rawRows = rawMeasures.getLong(0)
    // sparse mode has no n; its state size is bounded by the endpoint count
    // (<= 2 x canonical edge rows), so gate the broadcast on that instead.
    // The fingerprint names state-determining facts only: the comp
    // labeling at iteration k does not depend on maxIterations.
    val steps = new Supersteps(spark,
      if (sparseVertices) 2L * rawRows else n,
      broadcastVertices, checkpointDir, checkpointEvery, "wcc",
      s"wcc|n=$n|m=$rawRows|sparse=$sparseVertices")
    // a TERMINAL checkpoint (the contraction branch's composed labeling)
    // is final state: return it directly — re-entering the loop would
    // skip the confirming round when iteration >= maxIterations and
    // misreport a finished run as converged=false
    steps.resume.filter(_._1.converged).foreach { case (meta, state) =>
      return Result(Cut(state),
        ConvergenceStats(meta.iteration, 0.0, converged = true))
    }
    val und = undirected(if (sparseVertices) raw else canonical(raw),
      graph.numPartitions)
    var iteration = steps.startIteration
    // One lineage cut per round: the pointer-jump self-join would
    // otherwise DOUBLE the logical plan every round (SURVEY.md §7.4-5).
    var comp = steps.start {
      if (sparseVertices)
        // edge endpoints only — a pair-sized state, never the id space;
        // every endpoint is a src of the undirected table
        und.select($"src".as("id")).distinct()
          .select($"id", $"id".as("comp"))
      // graph-partition-count slices, not the 32-slice session default:
      // every round job runs one task per state partition (round-6)
      else spark.range(0, n, 1, graph.numPartitions)
        .select($"id", $"id".as("comp"))
    }

    var changed = Long.MaxValue
    while (changed > 0 && iteration < config.maxIterations) {
      // the round-start comp rides along as `prev`; the round's own
      // checkpoint observes both the convergence check and the
      // auto-contraction rule's input: total state rows + changed rows.
      val (stepped, counts) = Supersteps.materialize(
        minLabelRound(und,
            comp.select($"id", $"comp".as("lbl"), $"comp".as("prev")),
            steps.side)
          .select($"id", $"lbl".as("comp"), $"prev"),
        count(lit(1)), count(when($"comp" =!= $"prev", lit(1))))
      val stateRows = counts.getLong(0)
      changed = counts.getLong(1)

      comp = stepped
      iteration += 1

      val wantContract =
        if (config.contractAfter < 0)
          autoEngage(iteration, stateRows, changed, autoContractMinState)
        else config.contractAfter > 0 && iteration >= config.contractAfter
      if (wantContract && changed > 0
          && iteration < config.maxIterations) {
        // Afforest-analogue work skipping by CONTRACTION (see WccConfig):
        // rebuild the graph over label-classes and recurse on it. changed>0
        // guarantees comp is non-injective (an injective pointwise-
        // non-increasing self-map of a finite id set is the identity), so
        // the contracted vertex set strictly shrinks — termination. A
        // label-class edge (comp(u), comp(v)) exists iff some edge joins
        // the classes, so contracted components = original components over
        // classes; every vertex is connected to its label (propagation
        // follows real paths), so composing labelings preserves both
        // components and the min-id contract (the component min M always
        // has comp(M)=M and so survives contraction as a class vertex).
        val contracted = und.filter($"src" < $"dst")
          .join(steps.side(
            comp.select($"id".as("src"), $"comp".as("csrc"))), Seq("src"))
          .join(steps.side(
            comp.select($"id".as("dst"), $"comp".as("cdst"))), Seq("dst"))
          .where($"csrc" =!= $"cdst")
          .select($"csrc".as("src"), $"cdst".as("dst"),
            lit(1.0).as("weight"))
        val sub = run(
          LinkGraph(contracted, numPartitions = graph.numPartitions),
          config, checkpointDir = None,
          broadcastVertices = broadcastVertices,
          // class labels are sparse in the id space — never densify
          sparseVertices = true,
          autoContractMinState = autoContractMinState)
        val composed = comp
          .join(steps.side(sub.components
            .select($"id".as("comp"), $"comp".as("fin"))), Seq("comp"),
            "left")
          .select($"id", coalesce($"fin", $"comp").as("comp"))
          .transform(Cut(_))
        val totalIters = iteration + sub.stats.iterations
        // Round-4 verdict #7: this branch RETURNS — without a durable write
        // a crash after a long contracted run would resume from before the
        // contraction. The composed labeling is the final state, so write
        // it as the terminal checkpoint (resume then costs one confirming
        // round that observes changed == 0).
        // converged=true marks the checkpoint TERMINAL: a resume returns
        // it directly instead of re-entering the loop — which would
        // silently report converged=false whenever totalIters already
        // reached maxIterations (the loop guard skips the confirming
        // round entirely in that case)
        if (checkpointDir.isDefined)
          steps.write(totalIters, 0.0, composed,
            converged = sub.stats.converged)
        return Result(composed, ConvergenceStats(
          totalIters, 0.0, sub.stats.converged))
      }

      // a run stopped by the iteration cap has not converged, so its last
      // state stays resumable; only a converged run skips the write
      steps.save(iteration, changed.toDouble, comp, over = changed == 0)
    }

    Result(comp, ConvergenceStats(iteration, changed.toDouble, changed == 0))
  }
}
