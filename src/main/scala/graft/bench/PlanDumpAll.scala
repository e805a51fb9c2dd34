package graft.bench

import java.nio.file.{Files, Paths}

/** Plan inspector for driver queries: writes `<outDir>/<query>_<suffix>.txt`
  * with the formatted physical plan of SparkEntry.queries(query) for each
  * named query (one name inspects one query), after one execution, so
  * AQE's final plan with its reuse markers is what prints: PushedFilters,
  * ReadSchema, WholeStageCodegen spans, ReusedExchange/ReusedSubquery
  * markers, join strategies — the artifact the "explain and iterate until
  * it's the plan you'd want" loop reads, and the round-6 before/after plan
  * evidence (plans/r06/). One JVM for all queries.
  *
  * Usage: runMain graft.bench.PlanDumpAll <outDir> <suffix> <q1,q2,...> [sfDir]
  */
object PlanDumpAll {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Scaling.session(cpus)
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.count()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      println(s"PLANDUMP $name -> ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
