package graft.algos

import graft.{ConvergenceStats, LabelPropagationConfig}
import graft.graph.LinkGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Cut

/** Synchronous label propagation (community detection).
  *
  * Absent from the reference (SURVEY.md §2.9 — grep confirms no LP anywhere;
  * "relabel" there is degree reordering). Semantics are therefore defined
  * from the public standard (Raghavan et al. 2007, synchronous variant) with
  * a deterministic tie-break so that results are exact and
  * partitioning-independent:
  *
  *   label(v) init = v
  *   each superstep: label'(v) = the neighbor label with the highest
  *     multiplicity in the undirected neighbor multiset of v (duplicate
  *     edges count); ties broken by SMALLEST label. Vertices with no
  *     neighbors keep their label.
  *   stop when no label changed or maxIterations reached.
  *
  * One superstep = join(edges, labels) + groupBy(dst, label).count +
  * per-dst argmax via max(struct(cnt, -label)) — all partial-aggregatable,
  * no UDAF, no window (SURVEY.md §7.3), over a compressed vote table cut
  * once per run ([[Cut]]) in its placement's layout, which in shuffle
  * mode keeps hash(src) so a round exchanges only the labels. Synchronous
  * LPA can oscillate on bipartite-ish structures; maxIterations bounds
  * that, and the fixed-point check compares against the previous state.
  */
object LabelPropagation {

  case class Result(labels: DataFrame, stats: ConvergenceStats)

  def run(
      graph: LinkGraph,
      config: LabelPropagationConfig = LabelPropagationConfig(),
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 10,
      broadcastVertices: Long = 5000000L): Result = {
    val spark = graph.edges.sparkSession
    import spark.implicits._

    // Undirected multiset view as a compressed multigraph: duplicates count
    // toward the mode via the multiplicity column (identical votes, 8x
    // smaller scan on duplicate-heavy graphs). Built in ONE pass over the
    // raw edges (round-6): a row-local explode fans each edge into both
    // directions ahead of the count aggregation — one edge-input scan and
    // one exchange. Self-loops are KEPT in the table (as (v, v) with
    // doubled cnt) so max-id survives and the node count rides its cut
    // instead of a second evaluation of the uncached upstream derivation;
    // the per-round vote join filters them out (a vertex does not vote for
    // itself).
    val votes = graph.edges.select(explode(array(
        struct($"src", $"dst"),
        struct($"dst".as("src"), $"src".as("dst")))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
      .groupBy($"src", $"dst").agg(count(lit(1)).cast("double").as("cnt"))
    // The vote table is cut once per run in its placement's layout:
    // row-balanced for broadcast joins (hub skew cannot cap a stage),
    // hash(src) in shuffle mode, which the cut declares, so a round
    // exchanges only the labels. The placement reads n; a graph that has
    // not counted its nodes yet observes n in a row-balanced cut, which
    // shuffle mode then cuts again by src.
    val parts = graph.numPartitions
    var balanced: Option[DataFrame] = None
    val n = graph.nodeCountFrom {
      val (cut, m) = Cut.measured(votes.repartition(parts),
        Seq(LinkGraph.nodeCountMeasure))
      balanced = Some(cut)
      m.getLong(0)
    }
    require(n > 0, "LP on empty graph")
    // labels at iteration k do not depend on maxIterations or the
    // earlyStop scheduling flag
    val steps = new Supersteps(spark, n, broadcastVertices, checkpointDir,
      checkpointEvery, "label_propagation",
      s"label_propagation|n=$n|m=${graph.edgeCount}")
    val und = (
      if (steps.broadcastMode)
        balanced.getOrElse(Cut(votes.repartition(parts)))
      else Cut(balanced.getOrElse(votes).repartition(parts, $"src"))
    ).filter($"src" =!= $"dst")
    // No hub salting here, unlike PageRank: LP's voters ride a per-round
    // (vid, label) exchange whose explode + re-shuffle measured slower than
    // the hub straggler it removes at every salt factor tried (BASELINE.md
    // round 5, the 29.5M-edge follower-hub graph at local[32]).

    var iteration = steps.startIteration
    var labels = steps.start(graph.vertices.select($"id", $"id".as("label")))

    // fixed-iteration mode (earlyStop = false) runs the whole budget; a
    // labeling that reaches its fixed point inside it is unchanged by the
    // extra rounds, so results match earlyStop runs.
    var changed = Long.MaxValue
    def stop = config.earlyStop && changed == 0
    while (!stop && iteration < config.maxIterations) {
      // mode of neighbor labels; tie -> smallest label. argmax encoded as
      // max(struct(cnt, -label)): higher count wins, then smaller label.
      val counts = und
        .join(steps.side(labels), und("src") === labels("id"))
        .groupBy(und("dst").as("id"), $"label")
        .agg(sum(und("cnt")).cast("long").as("cnt"))
      val mode = counts
        .groupBy($"id")
        .agg(max(struct($"cnt", (-$"label").as("neg_label"))).as("m"))
        .select($"id", (-$"m.neg_label").as("new_label"))
      // the old label rides along as `prev`: the changed count is observed
      // inside the round's own checkpoint, so it costs no job.
      val (next, measured) = Supersteps.materialize(
        labels.join(steps.side(mode), Seq("id"), "left")
          .select($"id", coalesce($"new_label", $"label").as("label"),
            $"label".as("prev")),
        count(when($"label" =!= $"prev", lit(1))))
      changed = measured.getLong(0)
      labels = next
      iteration += 1
      steps.save(iteration, changed.toDouble, labels,
        over = stop || iteration >= config.maxIterations)
    }

    Result(labels, ConvergenceStats(iteration, changed.toDouble, changed == 0))
  }
}
