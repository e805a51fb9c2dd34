package graftbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Metric definitions, the run artifact and the result line. */
object Report {

  /** Metrics every workload reports with tracing off (BENCHMARK.json
    * end_to_end), as (name, unit).
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "pr_s" -> "s",
    "pr_edges_per_s" -> "edges/s")

  /** End-to-end metrics only some workloads have; printed and kept in the
    * run artifact, but not in the result line.
    */
  val WorkloadOnly: Seq[(String, String)] = Seq(
    "lp_s" -> "s", "wcc_s" -> "s", "tc_s" -> "s", "resume_s" -> "s",
    "ingest_s" -> "s",
    "create_s" -> "s", "getb_s" -> "s", "cache_mb" -> "MB")

  private val base = Seq("s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "task_cpu_s" -> "s", "gc_s" -> "s", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "driver_s" -> "s", "util" -> "ratio")

  /** Per-layer metrics of a traced run (BENCHMARK.json per_layer). */
  val PerLayer: Seq[(String, String)] =
    Layers.All.flatMap(l => base.map { case (m, u) => s"$l.$m" -> u }) ++
      Seq("graph.build_s" -> "s", "graph.cache_mb" -> "MB") ++
      Seq("pr", "wcc", "lp").flatMap(a => Seq(
        s"algos.$a.supersteps" -> "count",
        s"algos.$a.jobs_per_superstep" -> "count")) ++
      Seq("checkpoint.writes" -> "count", "checkpoint.mb" -> "MB",
        "io.mb_written" -> "MB", "server.overhead_s" -> "s",
        "server.getb_rows_per_s" -> "rows/s")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def host(spark: SparkSession): Map[String, Any] = {
    val memKb = scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong)
      .getOrElse(0L)
    Map(
      "cores" -> Session.cores,
      "heap_gb" -> Runtime.getRuntime.maxMemory / 1e9,
      "mem_total_gb" -> memKb / 1e6,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" ->
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "scaling_gate" -> ("not measured: the N->4N executor scaling gate " +
        "needs a host with at least 4N cores; no scaling number is " +
        "published from this benchmark"))
  }

  def emit(run: Run, w: Workload, seed: Long, traced: Boolean,
      host: Map[String, Any], setupS: Seq[Double],
      setupExtras: Seq[Map[String, Double]], warmup: Seq[Double],
      samples: Seq[Map[String, Double]], layerRows: Seq[Map[String, Double]],
      jobs: Seq[(Recorder.Job, Option[String], Recorder.Totals)],
      workDir: java.nio.file.Path): Unit = {
    val o = run.oracle
    val input = Map("spec" -> w.input.toString, "seed" -> seed,
      "edges" -> o.m, "vertices" -> o.n, "distinct_pairs" -> o.distinctPairs,
      "triangles" -> o.tc)

    def stat(xs: Seq[Double], unit: String): Map[String, Any] =
      Map("value" -> median(xs), "unit" -> unit, "samples" -> xs.size,
        "min" -> (if (xs.isEmpty) Double.NaN else xs.min),
        "max" -> (if (xs.isEmpty) Double.NaN else xs.max))
    val perPass = (name: String) => samples.flatMap(_.get(name))
    val e2e = (EndToEnd ++ WorkloadOnly).flatMap { case (name, unit) =>
      val xs = name match {
        case "setup_s" => setupS
        case "cache_mb" =>
          if (w.input.isInstanceOf[ZipfInput])
            setupExtras.map(_("graph.cache_mb")) else Seq.empty
        case _ => perPass(name)
      }
      if (xs.isEmpty) None else Some(name -> stat(xs, unit))
    }.toMap

    // per-layer: the listener's table per pass, completed with the
    // counts the benchmark measured itself
    val layerPasses = layerRows.zip(samples).map { case (row, smp) =>
      val merged = row ++ smp.filter { case (k, _) => k.contains('.') }
      merged ++ Seq("pr", "wcc", "lp").map { a =>
        val steps = merged.getOrElse(s"algos.$a.supersteps", 0.0)
        s"algos.$a.jobs_per_superstep" ->
          (if (steps > 0) merged(s"algos.$a.jobs") / steps else 0.0)
      } ++ Seq(
        "graph.build_s" -> median(setupExtras.map(_("graph.build_s"))),
        "graph.cache_mb" -> median(setupExtras.map(_("graph.cache_mb"))))
    }
    val perLayer = if (!traced) Map.empty[String, Map[String, Any]] else
      PerLayer.map { case (name, unit) =>
        name -> stat(layerPasses.map(_.getOrElse(name, 0.0)), unit)
      }.toMap

    val correct = run.failed == 0
    val artifact = Map(
      "workload" -> w.name, "traced" -> traced, "host" -> host,
      "input" -> input, "setups" -> setupS, "warmup_pass_s" -> warmup,
      "timed_passes" -> samples.size, "metrics" -> e2e,
      "per_layer" -> perLayer, "per_layer_passes" -> layerPasses,
      "samples" -> samples, "correct" -> correct,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "failures" -> run.failures.toSeq,
      "spans" -> run.spans.toSeq.map(s => Map("layer" -> s.layer,
        "name" -> s.name, "pass" -> s.pass, "start_ms" -> s.start,
        "end_ms" -> s.end)),
      "jobs" -> jobs.map { case (j, layer, t) => Map("id" -> j.id,
        "start_ms" -> j.start, "end_ms" -> j.end,
        "layer" -> layer.getOrElse(""), "tasks" -> t.tasks,
        "run_ms" -> t.runMs, "cpu_ms" -> t.cpuNs / 1e6,
        "gc_ms" -> t.gcMs, "shuffle_write_bytes" -> t.shuffleWrite,
        "spill_bytes" -> t.spill, "output_bytes" -> t.output) })
    val runs = workDir.resolve("runs")
    Files.createDirectories(runs)
    Files.writeString(
      runs.resolve(s"${w.name}-seed$seed-trace${if (traced) 1 else 0}.json"),
      Json(artifact) + "\n")

    println(s"graftbench host ${Json(host)}")
    println(s"graftbench input ${Json(input)}")
    println(s"graftbench setup_s samples ${Json(setupS)}, warm-up pass_s " +
      Json(warmup) + s", timed passes ${samples.size}")
    (EndToEnd ++ WorkloadOnly).foreach { case (name, _) =>
      e2e.get(name).foreach(m => println(s"graftbench metric $name " +
        Json(m)))
    }
    run.failures.take(20).foreach(f => println(s"graftbench FAILED $f"))
    val shown = if (traced) PerLayer.map { case (n, u) =>
      n -> Map("value" -> perLayer(n)("value"), "unit" -> u) }
    else EndToEnd.map { case (n, u) =>
      n -> Map("value" -> e2e.get(n).map(_("value")).getOrElse(Double.NaN),
        "unit" -> u) }
    println(Json(Map("correct" -> correct, "attempted" -> run.attempted,
      "failed" -> run.failed, "metrics" -> shown.toMap)))
  }
}

/** Minimal JSON encoder for the artifact and the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
