package graft

import graft.algos.{PageRank, Wcc}
import graft.checkpoint.Checkpointer
import graft.fixtures.Fixtures
import graft.graph.LinkGraph
import java.nio.file.Files
import org.apache.spark.sql.functions.spark_partition_id

/** Checkpoint/resume (north rule §4.8): a run killed mid-sequence and
  * resumed from its checkpoint must produce exactly the uninterrupted
  * result; checkpoints carry per-partition lineage + convergence metrics.
  */
class CheckpointSpec extends SparkSpec {

  private val edges = Fixtures.randomEdges(80, 400, seed = 7L)

  test("PageRank resume from checkpoint equals uninterrupted run exactly") {
    val dir = Files.createTempDirectory("graft-ckpt-pr").toString
    val g = LinkGraph(edgesDF(edges))
    val cfg = PageRankConfig(maxIterations = 12, tolerance = 0.0)

    val full = PageRank.run(g, cfg).scores.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // "crash" after 6 iterations: run with maxIterations=6 + checkpointing.
    // The final iteration is never checkpointed (the caller holds the
    // result), so the latest durable checkpoint is iteration 3.
    PageRank.run(g, PageRankConfig(6, 0.0, 0.85),
      checkpointDir = Some(dir), checkpointEvery = 3)
    val (meta, _) = Checkpointer.latest(spark, dir).get
    assert(meta.algorithm == "page_rank")
    assert(meta.iteration == 3)
    assert(meta.numPartitions > 0)
    assert(meta.partitionRows.sum == meta.totalRows)
    assert(meta.totalRows == 80L)

    // resume: fresh run picks up at iteration 6 and finishes 12
    val resumed = PageRank.run(g, cfg, checkpointDir = Some(dir))
    assert(resumed.stats.iterations == 12)
    val got = resumed.scores.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == full.keySet)
    // checkpointed doubles round-trip losslessly through parquet, but the
    // gather's double-sum merge order across shuffle partitions is not
    // bit-stable between runs — tolerance 1e-12 (vs the 1e-6 contract).
    got.foreach { case (k, v) =>
      assert(math.abs(v - full(k)) <= 1e-12, s"node $k: $v vs ${full(k)}") }
  }

  test("WCC resume equals uninterrupted run exactly") {
    val dir = Files.createTempDirectory("graft-ckpt-wcc").toString
    val chain = (0L until 40L).map(i => (i, i + 1)) ++ edges
    val g = LinkGraph(edgesDF(chain))
    val full = Wcc.run(g).components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    Wcc.run(g, WccConfig(maxIterations = 2),
      checkpointDir = Some(dir), checkpointEvery = 2)
    val (meta, _) = Checkpointer.latest(spark, dir).get
    assert(meta.algorithm == "wcc" && meta.iteration == 2)

    val resumed = Wcc.run(g, checkpointDir = Some(dir))
    assert(resumed.stats.converged)
    val got = resumed.components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)
  }

  test("WCC batched shuffle rounds checkpoint at every multiple of " +
      "checkpointEvery") {
    // Every shuffle-mode round materializes on its own, so a durable write
    // lands at each multiple of checkpointEvery (3, 6, ...), not only where
    // a multi-round batch happens to end.
    val dir = Files.createTempDirectory("graft-ckpt-wcc-cadence").toString
    val chain = (0L until 600L).map(i => (i, i + 1))
    val g = LinkGraph(edgesDF(chain))
    val res = Wcc.run(g, WccConfig(contractAfter = 0),
      checkpointDir = Some(dir), checkpointEvery = 3, broadcastVertices = 0L)
    assert(res.stats.converged && res.stats.iterations >= 7,
      s"${res.stats.iterations} rounds")
    Seq("ckpt-000003", "ckpt-000006").foreach { c =>
      assert(Files.exists(java.nio.file.Paths.get(dir, c, "_meta.json")), c)
    }
  }

  test("WCC contraction branch writes a terminal checkpoint; resume " +
      "restores the composed labeling exactly") {
    // Round-4 verdict #7: the contraction branch RETURNS the composed
    // labeling — before the fix nothing durable was written past the
    // decision round, so a crash after a long contracted run resumed from
    // round <= contractAt.
    val dir = Files.createTempDirectory("graft-ckpt-wcc-contract").toString
    val chain = (0L until 40L).map(i => (i, i + 1)) ++ edges
    val g = LinkGraph(edgesDF(chain))
    val cfg = WccConfig(contractAfter = 1)

    val full = Wcc.run(g, cfg, checkpointDir = Some(dir)).components
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // the terminal checkpoint IS the composed labeling ("kill after
    // contraction": the durable state on disk must already be final)
    val (meta, state) = Checkpointer.latest(spark, dir).get
    assert(meta.algorithm == "wcc" && meta.iteration >= 2)
    val onDisk = state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(onDisk == full)

    // the checkpoint is marked TERMINAL (converged=true): resume returns
    // it directly — no confirming round, and crucially no dependence on
    // iteration < maxIterations (a contracted run whose totalIters
    // reached the cap would otherwise skip the loop and misreport a
    // finished run as converged=false)
    assert(meta.converged)
    val resumed = Wcc.run(g, cfg, checkpointDir = Some(dir))
    assert(resumed.stats.converged)
    assert(resumed.stats.iterations == meta.iteration)
    val got = resumed.components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)

    // the maxIterations edge itself: resuming with a cap at/below the
    // terminal iteration must still report the finished run as converged
    val capped = Wcc.run(g,
      cfg.copy(maxIterations = meta.iteration), checkpointDir = Some(dir))
    assert(capped.stats.converged)
    assert(capped.components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == full)
  }

  test("SCC resume mid-outer-round equals uninterrupted run exactly") {
    import graft.algos.Scc
    val dir = Files.createTempDirectory("graft-ckpt-scc").toString
    // two 3-cycles chained one-way: round 1 claims {0,1,2}, round 2 claims
    // {3,4,5} — so an interrupted run has genuine mid-sequence state
    val cyc = Seq[(Long, Long)](
      (0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3))
    val g = LinkGraph(edgesDF(cyc))
    val full = Scc.run(g).components.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // "crash" after outer round 1 (maxIterations=1) with checkpointing on
    val partial = Scc.run(g, SccConfig(maxIterations = 1),
      checkpointDir = Some(dir))
    assert(!partial.stats.converged)
    val (meta, _) = Checkpointer.latest(spark, dir).get
    assert(meta.algorithm == "scc")
    assert(meta.iteration == 1)
    assert(meta.totalRows == 6L) // total labeling: resolved + sentinel rows

    // resume with the full budget: picks up round 2 and finishes
    val resumed = Scc.run(g, SccConfig(), checkpointDir = Some(dir))
    assert(resumed.stats.converged)
    val got = resumed.components.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == full)
  }

  test("SSSP resume from checkpoint equals uninterrupted run exactly") {
    import graft.algos.Sssp
    val dir = Files.createTempDirectory("graft-ckpt-sssp").toString
    val wedges = edges.zipWithIndex.map { case ((u, v), i) =>
      (u, v, 1.0 + (i % 5)) }
    def g() = LinkGraph(
      edgesDF(wedges.map(e => (e._1, e._2)), wedges.map(_._3)))
    val full = Sssp.run(g(), SsspConfig(0L)).distances.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq

    // "crash" after 4 relaxation rounds, checkpointing every 2; the write
    // at the final capped iteration is skipped (same guard as PR/WCC/LP —
    // a checkpoint that the loop immediately abandons buys nothing), so
    // the latest durable state is iteration 2
    val partial = Sssp.run(g(), SsspConfig(0L, maxIterations = 4),
      checkpointDir = Some(dir), checkpointEvery = 2)
    assert(!partial.stats.converged)
    val (meta, _) = Checkpointer.latest(spark, dir).get
    assert(meta.algorithm == "sssp")
    assert(meta.iteration == 2)

    val resumed = Sssp.run(g(), SsspConfig(0L), checkpointDir = Some(dir))
    assert(resumed.stats.converged)
    val got = resumed.distances.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(got == full)
  }

  test("checkpoint with a different config fingerprint is not resumed") {
    val dir = Files.createTempDirectory("graft-ckpt-fp").toString
    val g = LinkGraph(edgesDF(edges))
    // leave checkpoints from a damping=0.5 run in the dir
    PageRank.run(g, PageRankConfig(6, 0.0, 0.5),
      checkpointDir = Some(dir), checkpointEvery = 3)
    assert(Checkpointer.latest(spark, dir).nonEmpty)
    // a damping=0.85 run must ignore them (stale-resume guard) and match a
    // checkpoint-free run exactly
    val clean = PageRank.run(g, PageRankConfig(6, 0.0, 0.85)).scores
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val guarded = PageRank.run(g, PageRankConfig(6, 0.0, 0.85),
      checkpointDir = Some(dir)).scores
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    guarded.foreach { case (k, v) =>
      assert(math.abs(v - clean(k)) <= 1e-12, s"node $k") }
  }

  test("incomplete checkpoint (no _meta.json) is ignored") {
    val dir = Files.createTempDirectory("graft-ckpt-bad").toString
    // simulate crash mid-write: state parquet exists, no meta
    val g = LinkGraph(edgesDF(edges))
    g.vertices.write.parquet(s"$dir/ckpt-000003/state")
    assert(Checkpointer.latest(spark, dir).isEmpty)
  }

  test("checkpoint meta with delimiters in its strings and a NaN error " +
      "round-trips exactly and resumes by fingerprint") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-ckpt-codec").toString
    val algorithm = "pr,{\"x\"}]"
    val fp = "fp|m=1,\"a\":[2]}"
    val state = spark.range(0, 50, 1, 3).select($"id", ($"id" * 2).as("v"))
    Checkpointer.write(dir, algorithm, 7, Double.NaN, state, fp,
      converged = true)
    // a newer checkpoint of another configuration must not be resumed
    Checkpointer.write(dir, algorithm, 9, 0.5, state, fp + "]")

    val (meta, df) = Checkpointer.latest(spark, dir, fp).get
    val perPart = df.groupBy(spark_partition_id().as("pid")).count()
      .orderBy("pid").collect().map(_.getLong(1)).toSeq
    assert(meta.error.isNaN)
    assert(meta.copy(error = 0.0) == Checkpointer.Meta(algorithm, 7, 0.0,
      perPart.size, perPart, 50L, fp, converged = true))
    assert(meta.partitionRows.sum == 50L)
    assert(df.orderBy("id").as[(Long, Long)].collect().toSeq ==
      (0L until 50L).map(i => (i, 2 * i)))
    assert(Checkpointer.latest(spark, dir, fp + "]").get._1.iteration == 9)
    assert(Checkpointer.latest(spark, dir, "fp").isEmpty)
  }
}
