package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as Spark's listener event timestamps.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def ms: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** One timed call into a layer, recorded by the benchmark around a public
  * engine call or a daemon request. `pass` is the pass it belongs to;
  * set-ups are numbered -1, -2, ...
  */
final case class Span(layer: String, name: String, pass: Int,
    start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** Spark jobs and their task totals, recorded in memory by a listener the
  * benchmark registers in traced runs only.
  */
final class Recorder extends SparkListener {
  import Recorder._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageTotals = mutable.HashMap[Int, Totals]()
  private val execSites = mutable.HashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, e.time, exec,
      e.stageInfos.map(_.details).mkString("\n"))
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stageTotals.getOrElseUpdate(e.stageId, new Totals)
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.output += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSites(s.executionId) = s.details }
    case _ =>
  }

  /** Every finished job with its layer (from the call site of its SQL
    * execution, else of its stages) and task totals.
    */
  def finished: Seq[(Job, Option[String], Totals)] = synchronized {
    val perJob = mutable.HashMap[Int, Totals]()
    stageTotals.foreach { case (s, t) =>
      stageJob.get(s).foreach(j => perJob.getOrElseUpdate(j, new Totals).add(t))
    }
    jobs.values.toSeq.map { j =>
      val site = execSites.getOrElse(j.execId, j.site)
      (j, Layers.of(site), perJob.getOrElse(j.id, new Totals))
    }
  }
}

object Recorder {
  final class Totals {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var output = 0L
    def add(o: Totals): Unit = {
      tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; spill += o.spill; output += o.output
    }
  }

  final case class Job(id: Int, start: Long, execId: Long, site: String) {
    var end: Long = start
  }
}

/** The engine's modules as benchmark layers. */
object Layers {

  val All: Seq[String] = Seq("ingest", "graph", "algos.pr", "algos.wcc",
    "algos.lp", "algos.tc", "checkpoint", "io", "server", "spark")

  private val byPrefix = Seq(
    "graft.ingest." -> "ingest",
    "graft.graph." -> "graph",
    "graft.algos.PageRank" -> "algos.pr",
    "graft.algos.Wcc" -> "algos.wcc",
    "graft.algos.LabelPropagation" -> "algos.lp",
    "graft.algos.TriangleCount" -> "algos.tc",
    "graft.checkpoint." -> "checkpoint",
    "graft.io." -> "io",
    "graft.server." -> "server")

  /** Layer of the first engine frame of a long-form call site, if any. */
  def of(callSite: String): Option[String] =
    callSite.split("\n").iterator.map(_.trim).flatMap { frame =>
      byPrefix.collectFirst { case (p, l) if frame.startsWith(p) => l }
    }.nextOption()
}

/** Per-layer numbers for one timed pass. Jobs are attributed to the layer
  * of their call site; a job whose call site has no engine frame (the
  * benchmark's own result collection) goes to the layer of the span it
  * ran in. A layer with spans in the pass reports their total wall time as
  * `s` and the part of it with no job running as `driver_s`; a layer that
  * only runs inside another layer's call (checkpoint writes inside
  * PageRank, catalog writes inside a daemon request) reports the union of
  * its jobs' wall intervals as `s` and no driver time.
  */
object LayerTable {

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def clip(iv: Seq[(Double, Double)], s: Double, e: Double) =
    iv.flatMap { case (a, b) =>
      val x = math.max(a, s); val y = math.min(b, e)
      if (y > x) Some((x, y)) else None
    }

  def forPass(pass: Span, spans: Seq[Span],
      jobs: Seq[(Recorder.Job, Option[String], Recorder.Totals)],
      cores: Int): Map[String, Double] = {
    val inPass = jobs.filter { case (j, _, _) =>
      j.start >= pass.start - 1 && j.start <= pass.end + 1 }
    val ivAll = inPass.map { case (j, _, _) => (j.start.toDouble,
      j.end.toDouble) }
    def spanOf(t: Double): Option[Span] =
      spans.find(s => t >= s.start - 1 && t <= s.end + 1)
    val attributed = inPass.map { case (j, layer, t) =>
      (layer.orElse(spanOf(j.start.toDouble).map(_.layer)), j, t) }
    val out = mutable.LinkedHashMap[String, Double]()
    def put(layer: String, s: Double, driver: Double,
        js: Seq[(Recorder.Job, Recorder.Totals)]): Unit = {
      val run = js.map(_._2.runMs).sum / 1000.0
      out(s"$layer.s") = s
      out(s"$layer.jobs") = js.size.toDouble
      out(s"$layer.tasks") = js.map(_._2.tasks).sum.toDouble
      out(s"$layer.task_cpu_s") = js.map(_._2.cpuNs).sum / 1e9
      out(s"$layer.gc_s") = js.map(_._2.gcMs).sum / 1000.0
      out(s"$layer.shuffle_write_mb") = js.map(_._2.shuffleWrite).sum / 1e6
      out(s"$layer.spill_mb") = js.map(_._2.spill).sum / 1e6
      out(s"$layer.driver_s") = driver
      out(s"$layer.util") = if (s > 0) run / (s * cores) else 0.0
    }
    Layers.All.filterNot(_ == "spark").foreach { layer =>
      val own = attributed.collect { case (Some(`layer`), j, t) => (j, t) }
      val ls = spans.filter(_.layer == layer)
      if (ls.nonEmpty) {
        val driver = ls.map { s =>
          (s.end - s.start) - union(clip(ivAll, s.start, s.end)) }.sum
        put(layer, ls.map(_.seconds).sum, driver / 1000.0, own)
      } else {
        val iv = own.map { case (j, _) => (j.start.toDouble, j.end.toDouble) }
        put(layer, union(iv) / 1000.0, 0.0, own)
      }
      out(s"$layer.mb_written") = own.map(_._2.output).sum / 1e6
    }
    put("spark", pass.seconds,
      (pass.end - pass.start - union(clip(ivAll, pass.start, pass.end)))
        / 1000.0,
      inPass.map { case (j, _, t) => (j, t) })
    out.toMap
  }
}
