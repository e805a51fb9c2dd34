package graft.algos

import graft.{LabelPropagationConfig, PageRankConfig, SparkSpec, WccConfig}
import graft.fixtures.Fixtures
import graft.graph.LinkGraph
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Cut, JobCounter}

/** Convergence probes ride the action that materializes each round
  * (Supersteps rule 2): a probe costs no job, and the observed measure is
  * the one a separate scan would have computed.
  */
class ObservedProbesSpec extends SparkSpec {

  private lazy val graph =
    LinkGraph(edgesDF(Fixtures.randomEdges(300, 1500, seed = 11L)))

  test("converging PageRank runs the jobs of a fixed run of equal " +
      "supersteps, both placements") {
    Seq(5000000L, 0L).foreach { bv =>
      // warm the graph's caches so both counted runs see the same ones
      PageRank.run(graph, broadcastVertices = bv).scores.count()
      val (conv, convJobs) = JobCounter.counted(spark) {
        val r = PageRank.run(graph, PageRankConfig(tolerance = 1e-3),
          broadcastVertices = bv)
        r.scores.count(); r.stats
      }
      assert(conv.converged && conv.iterations > 1, s"bv=$bv: $conv")
      val (fixed, fixedJobs) = JobCounter.counted(spark) {
        val r = PageRank.run(graph, PageRankConfig(conv.iterations, 0.0),
          broadcastVertices = bv)
        r.scores.count(); r.stats
      }
      assert(fixed.iterations == conv.iterations && !fixed.converged)
      assert(convJobs == fixedJobs, s"bv=$bv")
    }
    graph.unpersistCaches()
  }

  test("LP runs the same jobs with earlyStop on and off") {
    val (stop, stopJobs) = JobCounter.counted(spark) {
      val r = LabelPropagation.run(graph, LabelPropagationConfig(30))
      r.labels.count(); r.stats
    }
    assert(stop.converged && stop.iterations > 1, s"$stop")
    val (fixed, fixedJobs) = JobCounter.counted(spark) {
      val r = LabelPropagation.run(graph,
        LabelPropagationConfig(stop.iterations, earlyStop = false))
      r.labels.count(); r.stats
    }
    assert(fixed.iterations == stop.iterations)
    assert(stopJobs == fixedJobs)
  }

  test("PageRank's observed error is the sum of score changes of its " +
      "last superstep") {
    def scores(k: Int) = PageRank.run(graph, PageRankConfig(k, 0.0))
    Seq(1, 2, 5).foreach { k =>
      val r = scores(k)
      val now = r.scores.collect().map(x => x.getLong(0) -> x.getDouble(1))
      val before =
        if (k == 1) now.map(_._1 -> 1.0 / graph.nodeCount).toMap
        else scores(k - 1).scores.collect()
          .map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val want = now.map { case (id, s) => math.abs(s - before(id)) }.sum
      assert(math.abs(r.stats.error - want) <= 1e-9 * want,
        s"k=$k: observed ${r.stats.error}, recomputed $want")
    }
  }

  test("WCC's observed changed count is the recomputed one") {
    // a path with ids against the edge order needs several rounds
    val chain = LinkGraph(edgesDF((0L until 40L).map(i => (i + 1, i))))
    def comps(k: Int) = {
      val r = Wcc.run(chain, WccConfig(k, contractAfter = 0))
      (r.components.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap,
        r.stats)
    }
    Seq(1, 2, 3).foreach { k =>
      val (now, stats) = comps(k)
      val before =
        if (k == 1) now.keys.map(id => id -> id).toMap else comps(k - 1)._1
      val want = now.count { case (id, c) => c != before(id) }
      assert(want > 0 && stats.error == want.toDouble,
        s"k=$k: observed ${stats.error}, recomputed $want")
    }
  }

  test("an observed measure over no rows reads as 0; sparse WCC on an " +
      "edgeless graph") {
    val s = spark
    import s.implicits._
    val (mat, m) = Supersteps.materialize(
      Seq.empty[(Long, Double)].toDF("id", "x"),
      sum($"x"), count(lit(1)), min($"x"))
    assert(mat.count() == 0L)
    assert(m.getDouble(0) == 0.0 && m.getLong(1) == 0L && m.getDouble(2) == 0.0)

    // only self-loops: the canonical edge set, and so the state, is empty
    val loops = LinkGraph(edgesDF(Seq(3L -> 3L, 5L -> 5L)))
    val r = Wcc.run(loops, sparseVertices = true)
    assert(r.components.count() == 0L)
    assert(r.stats.converged && r.stats.error == 0.0)
  }

  test("PageRank's scores carry the same size estimate at 2 and 20 " +
      "supersteps, both placements") {
    Seq(5000000L, 0L).foreach { bv =>
      def estimate(k: Int) = PageRank.run(graph, PageRankConfig(k, 0.0),
        broadcastVertices = bv)
        .scores.queryExecution.optimizedPlan.stats.sizeInBytes
      val (two, twenty) = (estimate(2), estimate(20))
      assert(two == twenty, s"bv=$bv")
    }
    graph.unpersistCaches()
  }

  test("per-vertex triangle counts read their formulation's edge count " +
      "off the oriented table's own checkpoint") {
    val s = spark
    import s.implicits._
    // warm the graph's node count so both counted blocks see it memoized
    TriangleCount.perVertex(graph)
    val (_, alone) = JobCounter.counted(spark) {
      Cut(TriangleCount.orientedEdges(graph)
        .repartition(graph.numPartitions, $"a"))
    }
    val (_, built) = JobCounter.counted(spark)(TriangleCount.perVertex(graph))
    assert(alone > 0 && built == alone)
  }

  test("with the node count unknown, LP (both placements), WCC and SCC " +
      "run no more jobs than when the count was a scan of its own") {
    val edges = edgesDF(Fixtures.randomEdges(300, 1500, seed = 11L))
    def jobs(run: LinkGraph => Long) =
      JobCounter.counted(spark)(run(LinkGraph(edges)))._2
    // the same runs at 0d5fce9, where the node count scanned a cut or cache
    // the run had already built, in a job of its own
    val before = Map("lp broadcast" -> 23, "lp shuffle" -> 24, "wcc" -> 29,
      "scc" -> 85)
    val now = Map(
      "lp broadcast" -> jobs(g => LabelPropagation.run(g,
        LabelPropagationConfig(3)).labels.count()),
      "lp shuffle" -> jobs(g => LabelPropagation.run(g,
        LabelPropagationConfig(3), broadcastVertices = 0L).labels.count()),
      "wcc" -> jobs(g => Wcc.run(g).components.count()),
      "scc" -> jobs(g => Scc.run(g).components.count()))
    before.foreach { case (run, jobs) =>
      assert(now(run) <= jobs, s"$run: ${now(run)} jobs, $jobs before")
    }
  }
}
