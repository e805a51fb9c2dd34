package graft.bench

/** Per-stage diagnostics for one measured PageRank run: stage wall time,
  * summed task time, max task (straggler), shuffle bytes — the evidence
  * base for scaling-efficiency analysis. Usage:
  *   runMain graft.bench.StageStats <edgesPath> <NxC|cores> <steps> <bcast>
  */
object StageStats {
  def main(args: Array[String]): Unit = {
    val Array(path, cores, steps, bcast) = args
    val (master, total) = Pair.master(cores)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("/dev/shm/graft-spark-local"))
    val spark = Scaling.sessionFor(master,
      sys.env.get("GRAFT_PARTS").map(_.toInt)
        .getOrElse(math.max(total, 8)), Scaling.measureConf)
    import org.apache.spark.scheduler._
    val stats = new scala.collection.concurrent.TrieMap[
      Int, (String, Long, Long, Long, Long, Long, Int)]()
    val maxTask = new scala.collection.concurrent.TrieMap[Int, Long]()
    // per-task (partition index, run ms) per stage: distinguishes a FIXED
    // straggler partition (skew — same index every superstep) from a roving
    // one (GC / host noise)
    val taskDetail = new scala.collection.concurrent.TrieMap[
      Int, List[(Int, Long)]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      private val t0 = new scala.collection.concurrent.TrieMap[Int, Long]()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        t0(s.stageInfo.stageId) = System.nanoTime()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          val rt = t.taskMetrics.executorRunTime
          maxTask.updateWith(t.stageId) {
            case Some(m) => Some(math.max(m, rt)); case None => Some(rt)
          }: Unit
          taskDetail.updateWith(t.stageId) {
            case Some(l) => Some((t.taskInfo.index, rt) :: l)
            case None => Some(List((t.taskInfo.index, rt)))
          }: Unit
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val wall = (System.nanoTime() -
          t0.getOrElse(i.stageId, System.nanoTime())) / 1000000L
        val m = i.taskMetrics
        stats(i.stageId) = (i.name.takeWhile(_ != '\n').take(60), wall,
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.executorCpuTime / 1000000L,
          i.numTasks)
      }
    })
    try {
      val g = graft.graph.LinkGraph(spark.read.parquet(path),
        numPartitions = sys.env.get("GRAFT_PARTS").map(_.toInt)
          .getOrElse(math.max(total, 8)))
      val cfg = graft.PageRankConfig(steps.toInt, 0.0, 0.85)
      val bv = if (bcast.toBoolean) 5000000L else 0L
      graft.algos.PageRank.run(g, cfg, broadcastVertices = bv)
        .scores.count() // warmup (builds caches)
      stats.clear()
      val t0 = System.nanoTime()
      graft.algos.PageRank.run(g, cfg, broadcastVertices = bv)
        .scores.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"STAGESTATS total=$sec%.2f s cores=$total")
      val rows = stats.toSeq.sortBy(_._1)
      println(f"${"id"}%5s ${"wall_ms"}%8s ${"task_ms"}%9s ${"cpu_ms"}%9s " +
        f"${"max_t"}%7s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"tasks"}%5s  name")
      rows.foreach { case (id, (name, wall, task, shr, shw, cpu, nt)) =>
        println(f"$id%5d $wall%8d $task%9d $cpu%9d " +
          f"${maxTask.getOrElse(id, 0L)}%7d ${shr / 1048576}%7d " +
          f"${shw / 1048576}%7d $nt%5d  $name")
        if (nt > 8) {
          val top = taskDetail.getOrElse(id, Nil).sortBy(-_._2).take(5)
            .map { case (idx, ms) => s"p$idx:${ms}ms" }.mkString(" ")
          println(s"      top tasks: $top")
        }
      }
      val agg = rows.map(_._2).foldLeft((0L, 0L, 0L)) {
        case ((w, t, c), (_, wall, task, _, _, cpu, _)) =>
          (w + wall, t + task, c + cpu)
      }
      println(f"SUM wall=${agg._1}ms task=${agg._2}ms cpu=${agg._3}ms " +
        f"parallelism=${agg._2.toDouble / agg._1}%.1f " +
        f"cpuFrac=${agg._3.toDouble / agg._2}%.2f")
    } finally spark.stop()
  }
}

object GenBench {
  def main(args: Array[String]): Unit = {
    val Array(path, convs, turns, actors) = args
    val n = Scaling.materializeBenchEdges(path, convs.toInt, turns.toInt,
      actors.toInt)
    println(s"GEN edges=$n path=$path")
  }
}
