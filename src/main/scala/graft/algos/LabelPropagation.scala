package graft.algos

import graft.{ConvergenceStats, LabelPropagationConfig}
import graft.graph.LinkGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  * no UDAF, no window (SURVEY.md §7.3). Synchronous LPA can oscillate on
  * bipartite-ish structures; maxIterations bounds that, and the fixed-point
  * check compares against the previous state.
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
    // directions ahead of the count aggregation, replacing the old
    // two-cache build (materialize `multiplicities`, then union + re-
    // aggregate + re-partition it) — one edge-input scan and one exchange
    // instead of two of each. Self-loops are KEPT in the cache rows (as
    // (v, v) with doubled cnt) so max-id survives and the node count rides
    // this cache instead of a second evaluation of the uncached upstream
    // derivation; the per-round vote join filters them out (a vertex does
    // not vote for itself), exactly as before.
    // Broadcast mode reads row-balanced partitions (hub skew can't cap a
    // stage); shuffle mode reads hash(src) partitions so the per-round
    // state join needs no exchange on the big side (the PageRank cache
    // split).
    val undBase = graph.edges.select(explode(array(
        struct($"src", $"dst"),
        struct($"dst".as("src"), $"src".as("dst")))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
      .groupBy($"src", $"dst").agg(count(lit(1)).cast("double").as("cnt"))
    // The cache materializes ONCE, mode-independent (round-robin balanced —
    // the broadcast-mode layout), and the node count reads off it; shuffle
    // mode then repartitions the IN-MEMORY compressed table by src (one
    // exchange of the small compressed rows, no re-aggregation and no
    // second scan of the raw edges). Replaces the old shape that needed n
    // before it could build anything and so paid a full extra evaluation
    // of the upstream derivation just for the count.
    val undAll = undBase.repartition(graph.numPartitions)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = graph.nodeCountFrom(undAll)
    // release the cache before throwing: a long-running caller (the
    // serving daemon) would otherwise pin one empty InMemoryRelation per
    // failed call (the pre-round-6 shape required n > 0 before
    // persisting anything)
    if (n <= 0) {
      undAll.unpersist()
      throw new IllegalArgumentException("LP on empty graph")
    }
    // labels at iteration k do not depend on maxIterations or the
    // earlyStop scheduling flag
    val steps = new Supersteps(spark, n, broadcastVertices, checkpointDir,
      checkpointEvery, "label_propagation",
      s"label_propagation|n=$n|m=${graph.edgeCount}")
    val undCache =
      if (steps.broadcastMode) undAll
      else {
        val bySrc = undAll.repartition(graph.numPartitions, $"src")
          .persist(StorageLevel.MEMORY_AND_DISK)
        bySrc.count()
        undAll.unpersist()
        bySrc
      }
    // self-loop rows stay in the CACHE (they carry the max id); the vote
    // scan filters them per round, same votes as the old pre-filtered build
    val und = undCache.filter($"src" =!= $"dst")
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

    undCache.unpersist()
    Result(labels, ConvergenceStats(iteration, changed.toDouble, changed == 0))
  }
}
