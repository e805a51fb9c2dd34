package graft.algos

import graft.{ConvergenceStats, SccConfig}
import graft.graph.LinkGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Cut

/** Strongly connected components.
  *
  * The north rule names "weakly/strongly connected components"; the
  * reference implements only the weak variant (union-find WCC,
  * /root/reference/crates/algos/src/wcc.rs:101-122), so SCC semantics are
  * fixed from first principles to mirror the WCC output contract
  * (dss.rs:183-195): every vertex is labeled with the MINIMUM vertex id of
  * its strongly connected component — mutual-reachability equivalence
  * classes, order- and partitioning-independent, hence exactly testable.
  *
  * Distributed algorithm (trim + forward/backward min-label, the
  * "coloring" family used by Pregel-style SCC):
  *
  *  1. TRIM: a vertex with no incoming or no outgoing edge inside the
  *     active subgraph cannot lie on a cycle -> it is a singleton SCC.
  *     Iterated to a fixed point this peels entire DAG regions (the outer
  *     loop's worst case) in O(peel-depth) cheap distinct+semi-join rounds.
  *  2. FORWARD labels: fwd(v) = min id over {u : u reaches v} ∪ {v},
  *     computed as min-label propagation along edges. Pointer jumping
  *     (lbl(v) <- min(lbl(v), lbl(lbl(v)))) is valid because reachability
  *     is transitive — lbl(v) reaches v and lbl(lbl(v)) reaches lbl(v).
  *     It doubles progress wherever labels form decreasing chains; when
  *     ids run against edge direction it degrades to one hop per round, so
  *     the bound is O(diameter) rounds (the standard Pregel-SCC bound —
  *     shallow on real link graphs). Each round is the WCC hash-min +
  *     pointer-jump round over directed edges, one checkpoint per round
  *     that also observes the changed count ([[Supersteps]]).
  *  3. BACKWARD labels: the same propagation along reversed edges,
  *     bwd(v) = min id over {u : v reaches u} ∪ {v}.
  *  4. CLAIM: fwd(v) = bwd(v) = r  <=>  v and r are mutually reachable and
  *     r is the minimum id of v's SCC (any w in SCC(v) reaches v, so
  *     r <= w). The claimed set per root r is therefore EXACTLY SCC(r).
  *  5. Remove claimed vertices and their edges; repeat. Each outer round
  *     resolves at least the SCC of every currently-minimal reachability
  *     root (the minimum active id always roots one), so rounds are bounded
  *     by the condensation's "min-chain" depth — small for real link
  *     graphs, whose condensation is shallow once TRIM peels the DAG tail.
  *
  * Every step is a Catalyst join/aggregate over the partitioned edge
  * Dataset; state is vertex-sized and cut per round by [[Cut]], which
  * drops the origin size estimate that the self-join supersteps would
  * otherwise compound geometrically until stats estimation dominates the
  * driver. The simple edge set is cut once, row-balanced, for the reason
  * [[Wcc.undirected]] gives. Durable checkpoint/resume via `checkpointDir`
  * writes the total labeling (resolved labels + -1 sentinel for active
  * vertices) once per outer round.
  */
object Scc {

  case class Result(components: DataFrame, stats: ConvergenceStats)

  def run(
      graph: LinkGraph,
      config: SccConfig = SccConfig(),
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 1,
      broadcastVertices: Long = 5000000L): Result = {
    val spark = graph.edges.sparkSession
    import spark.implicits._

    // ONE evaluation of the (possibly expensive, uncached) upstream edge
    // derivation: node count, vertex universe, and the simple directed
    // edge set below all derive from this cut instead of re-running the
    // derivation per consumer. Its row count (for the fingerprint) and max
    // id are observed in the same action.
    val (raw, rawMeasures) = Cut.measured(graph.edges.select($"src", $"dst"),
      Seq(count(lit(1)), LinkGraph.nodeCountMeasure))
    val n = graph.nodeCountFrom(rawMeasures.getLong(1))
    require(n > 0, "SCC on empty graph")
    // Checkpoint state = one total labeling DataFrame: resolved vertices
    // carry their final scc label, still-active vertices the sentinel -1.
    // Written once per `checkpointEvery` outer rounds (outer rounds are
    // few and expensive — the natural durability granularity); resume
    // splits the latest state back into resolved/active and restricts the
    // edge set (north rule §4.8).
    val steps = new Supersteps(spark, n, broadcastVertices, checkpointDir,
      checkpointEvery, "scc", s"scc|n=$n|m=${rawMeasures.getLong(0)}")

    // Min-label propagation along `edges` (label flows src -> dst) to the
    // fixed point lbl(v) = min id over in-reachers of v, with pointer
    // jumping, one round per action (scaladoc step 2).
    // Returns (labels, reachedFixedPoint): the claim step is only sound at
    // the fixed point — claiming from capped labels can split an SCC whose
    // ids run against edge direction across different roots (so callers
    // must NOT claim when reachedFixedPoint is false).
    def propagateMin(verts: DataFrame,
        edges: DataFrame): (DataFrame, Boolean) = {
      // trivial lineage (projection over the checkpointed active set) —
      // no checkpoint needed before the first round materializes
      var lbl = verts.select($"id", $"id".as("lbl"))
      var changed = Long.MaxValue
      var rounds = 0
      while (changed > 0 && rounds < config.maxPropagationRounds) {
        val (stepped, measured) = Supersteps.materialize(
          Wcc.minLabelRound(edges,
            lbl.select($"id", $"lbl", $"lbl".as("prev")), steps.side),
          count(when($"lbl" =!= $"prev", lit(1))))
        changed = measured.getLong(0)
        lbl = stepped
        rounds += 1
      }
      (lbl, changed == 0)
    }

    // Connectivity ignores weights, multiplicity, and self-loops.
    var activeEdges = Cut(raw.where($"src" =!= $"dst").distinct()
      .repartition(graph.numPartitions))
    // graph-partition-count slices (round-6): the active set seeds every
    // trim/propagation state; a 32-slice default re-inflates each of the
    // many per-round jobs to 32 tasks after adaptiveParts sized the graph
    var active = spark.range(0, n, 1, graph.numPartitions).toDF("id")
    var remaining = n

    // Restrict the edge set to the surviving vertex set; one eager cut
    // (single action) instead of a repartition+persist cycle per peel. It
    // ends in a semi-join, not a repartition, so the cut declares no
    // partitioning (broadcast mode is partitioning-agnostic).
    def restrict(edges: DataFrame, verts: DataFrame): DataFrame =
      edges
        .join(steps.side(verts.select($"id".as("dst"))),
          Seq("dst"), "left_semi")
        .join(steps.side(verts.select($"id".as("src"))),
          Seq("src"), "left_semi")
        .select($"src", $"dst")
        .transform(Cut(_))

    val resolved = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var iteration = 0

    steps.resume.foreach { case (meta, st) =>
      iteration = meta.iteration
      resolved += st.filter($"scc" >= 0).select($"id", $"scc")
      active = st.filter($"scc" === -1).select($"id")
      // the checkpoint's error field is the active count it was written
      // with (see the durable write below), so resume reads it, not rows
      remaining = meta.error.toLong
      if (remaining > 0) activeEdges = restrict(activeEdges, active)
    }

    while (remaining > 0 && iteration < config.maxIterations) {
      // ---- TRIM to fixed point (one checkpoint per peel, which also
      // observes the trimmed count: flag every active vertex with has-in
      // AND has-out, then read both the survivors and the trimmed
      // singletons off the materialized df)
      var trimming = true
      while (trimming && remaining > 0) {
        val (flagged, measured) = Supersteps.materialize(
          active
            .join(activeEdges.select($"src".as("id"),
              lit(true).as("has_out")).dropDuplicates("id"), Seq("id"),
              "left")
            .join(activeEdges.select($"dst".as("id"),
              lit(true).as("has_in")).dropDuplicates("id"), Seq("id"),
              "left")
            .select($"id",
              ($"has_out".isNotNull && $"has_in".isNotNull).as("keep")),
          count(when(!$"keep", lit(1))))
        val tCount = measured.getLong(0)
        if (tCount == 0) trimming = false
        else {
          resolved += flagged.filter(!$"keep")
            .select($"id", $"id".as("scc"))
          active = flagged.filter($"keep").select($"id")
          remaining -= tCount
          if (remaining > 0) activeEdges = restrict(activeEdges, active)
        }
      }

      if (remaining > 0) {
        // ---- forward/backward labels + claim; the two propagations are
        // independent fixed points over the same edge set, so their jobs
        // run CONCURRENTLY (Spark schedules parallel actions freely) and
        // the phase's wall time is max, not sum, of the two.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val fwdF = Future(propagateMin(active, activeEdges))
        val bwdF = Future(propagateMin(active,
          activeEdges.select($"dst".as("src"), $"src".as("dst"))))
        val (fwd, fwdFixed) = Await.result(fwdF, Duration.Inf)
        val (bwd, bwdFixed) = Await.result(bwdF, Duration.Inf)
        if (!fwdFixed || !bwdFixed) {
          // Propagation hit maxPropagationRounds before the fixed point
          // (e.g. a cycle whose ids run against edge direction needs ~n
          // one-hop rounds). Claiming now could split an SCC across roots;
          // re-running next outer round would repeat the identical capped
          // propagation, so abort instead — the fail-safe below labels the
          // unresolved actives and reports converged=false honestly.
          iteration = config.maxIterations
        } else {
          val (claimed, measured) = Supersteps.materialize(
            fwd.join(bwd.withColumnRenamed("lbl", "blbl"), Seq("id"))
              .where($"lbl" === $"blbl")
              .select($"id", $"lbl".as("scc")),
            count(lit(1)))
          val cCount = measured.getLong(0)
          resolved += claimed
          remaining -= cCount
          if (remaining > 0) {
            active = active.join(claimed.select($"id"), Seq("id"),
              "left_anti").transform(Cut(_))
            activeEdges = restrict(activeEdges, active)
          }
        }
      }
      if (iteration < config.maxIterations) iteration += 1

      // like WCC, a run stopped by the iteration cap stays resumable
      if (resolved.nonEmpty)
        steps.save(iteration, remaining.toDouble, resolved.reduce(_ union _)
          .union(active.select($"id", lit(-1L).as("scc"))),
          over = remaining == 0)
    }

    val converged = remaining == 0
    // Iteration-cap fail-safe (unreachable at default caps): surface the
    // unresolved vertices as self-labeled so output stays total, and report
    // converged=false.
    if (!converged) resolved += active.select($"id", $"id".as("scc"))

    // parts are checkpointed; the union's lineage is already shallow
    val components = resolved.reduce(_ union _)
      .repartition(graph.numPartitions, $"id")
    Result(components, ConvergenceStats(iteration, remaining.toDouble,
      converged))
  }
}
