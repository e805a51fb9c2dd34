package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{CollectMetricsExec, LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{coalesce, lit}

/** The engine's one lineage cut for run-scoped intermediates (loop state,
  * per-run edge tables, the operators' shared intermediates), nested in
  * Spark's package because it builds a plan node the public API does not.
  *
  * An eager `localCheckpoint` (blocks are freed when the frame is GC'd, so
  * a long-running caller pins no cache), re-wrapped in a `LogicalRDD` that
  *  - carries no size estimate. Spark's carries the origin plan's, which
  *    self-join supersteps multiply every round until the driver spends its
  *    time in BigInteger arithmetic (the SCC inner loop's estimate went
  *    from 119 to 10,252,259 digits in five batches). Joins that relied on
  *    the estimate hint their strategy instead;
  *  - declares `HashPartitioning` only when the executed final plan proves
  *    it: the root is an engine-requested `repartition(P, cols)` shuffle
  *    (origin REPARTITION_BY_NUM, which AQE never coalesces) and the
  *    checkpoint has exactly P partitions. Anything else declares nothing,
  *    and no caller can supply a partitioning. Loop state never ends in
  *    such a repartition: a declared 32-partition state made
  *    EnsureRequirements re-shuffle an 8-partition edge table to 32.
  */
object Cut {

  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val spark = ds.sparkSession
    val cp = ds.localCheckpoint().logicalPlan.asInstanceOf[LogicalRDD]
    val declared =
      proven(CollectMetricsExec.stripAQEPlan(ds.queryExecution.executedPlan),
        cp.rdd.getNumPartitions)
    ClassicDataset.ofRows(spark,
      LogicalRDD(cp.output, cp.rdd, declared)(spark).newInstance())
  }

  /** [[apply]], with the aggregate `measures` (at least one) evaluated over
    * `df`'s rows inside the cut's own action (Dataset.observe) instead of
    * by a second job over the cut. Columns named in `drop` are measured
    * but not kept. Returns the cut and the measures in order; a measure
    * over no rows (sum, min, max of nothing) reads as 0, so a caller that
    * needs "nothing there" observes a count beside it.
    */
  def measured(df: DataFrame, measures: Seq[Column],
      drop: String*): (DataFrame, Row) = {
    val named = measures.zipWithIndex.map { case (m, i) =>
      coalesce(m, lit(0)).as(s"m$i") }
    val obs = Observation()
    val cut = apply(df.observe(obs, named.head, named.tail: _*)
      .drop(drop: _*))
    val got = obs.get
    (cut, Row.fromSeq(named.indices.map(i => got(s"m$i"))))
  }

  private def proven(root: SparkPlan, partitions: Int): Partitioning = {
    val shuffle = root match {
      case c: CollectMetricsExec => c.child
      case p => p
    }
    val origin = shuffle match {
      case s: ShuffleQueryStageExec => Some(s.shuffle.shuffleOrigin)
      case e: ShuffleExchangeLike => Some(e.shuffleOrigin)
      case _ => None
    }
    shuffle.outputPartitioning match {
      case h: HashPartitioning if origin.contains(REPARTITION_BY_NUM) &&
          h.numPartitions == partitions => h
      case _ => UnknownPartitioning(0)
    }
  }
}
