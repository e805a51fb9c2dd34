package org.apache.spark.sql.graft

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** A cut declares a partitioning only when its executed plan proves it,
  * and then every row sits where the declaration says.
  */
class CutSpec extends SparkSpec {

  private def declared(cut: DataFrame): Partitioning =
    cut.queryExecution.analyzed.collectFirst {
      case r: LogicalRDD => r.outputPartitioning
    }.get

  private def keyed = {
    val s = spark
    import s.implicits._
    spark.range(0, 5000, 1, 3).select(($"id" * 7919 % 1013).as("k"), $"id")
  }

  test("a cut of repartition(P, key) declares hash(key, P), every row " +
      "sits in partition pmod(hash(key), P), and no size estimate is " +
      "carried; with AQE on and off, measured or not") {
    val s = spark
    import s.implicits._
    for (aqe <- Seq("true", "false"); measured <- Seq(false, true))
      withConf("spark.sql.adaptive.enabled" -> aqe) {
        val input = keyed.repartition(8, $"k")
        val cut =
          if (measured) {
            val (c, m) = Cut.measured(input, Seq(count(lit(1))))
            assert(m.getLong(0) == 5000L)
            c
          } else Cut(input)
        val what = s"aqe=$aqe measured=$measured"
        declared(cut) match {
          case h: HashPartitioning =>
            assert(h.numPartitions == 8, what)
            assert(h.references.map(_.name).toSet == Set("k"), what)
          case p => fail(s"$what: declared $p")
        }
        assert(cut.count() == 5000L, what)
        assert(cut.filter(spark_partition_id() =!= pmod(hash($"k"), lit(8)))
          .count() == 0L, what)
        assert(cut.queryExecution.optimizedPlan.stats.sizeInBytes ==
          spark.asInstanceOf[ClassicSession].sessionState.conf
            .defaultSizeInBytes, what)
      }
  }

  test("cuts of round-robin, range-partitioned, AQE-coalesced groupBy and " +
      "single-partition inputs declare nothing") {
    val s = spark
    import s.implicits._
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "true") {
      Seq(
        "round-robin" -> keyed.repartition(8),
        "range" -> keyed.repartitionByRange(8, $"k"),
        "coalesced groupBy" -> keyed.groupBy($"k").agg(count(lit(1))),
        "single partition" -> spark.range(0, 100, 1, 1).toDF("k"),
        "coalesce(1)" -> keyed.repartition(8, $"k").coalesce(1),
        "projection over repartition" ->
          keyed.repartition(8, $"k").select(($"k" + 1).as("k"))
      ).foreach { case (what, df) =>
        val p = declared(Cut(df))
        assert(!p.isInstanceOf[HashPartitioning], s"$what declared $p")
      }
    }
  }
}
