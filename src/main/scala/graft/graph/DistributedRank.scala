package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Cut

/** Distributed dense 0-based rank by a total order — the scale-safe
  * replacement for `row_number() OVER (ORDER BY ...)` (which shuffles every
  * row into ONE task): range-partition by the sort key, rank within each
  * partition off the per-partition row index, then add broadcast partition
  * offsets. The only driver-side data is the partition-count-sized offset
  * array. The order must be TOTAL (include a unique tie-breaker column) or
  * ranks are partitioning-dependent.
  */
object DistributedRank {

  /** Returns `df` plus a `rankCol` long column = 0-based position in the
    * `order` sort. Materializes an intermediate (eager localCheckpoint —
    * the offset collect and the returned join MUST read one materialization
    * of the partition-local indices; blocks are GC-reclaimed with the
    * frame, so library callers in a long-running process accumulate no
    * CacheManager entries). Callers doing repeated lookups should persist
    * the result themselves.
    */
  def withDenseRank(
      df: DataFrame, order: Seq[Column], numPartitions: Int,
      rankCol: String): DataFrame = {
    val spark = df.sparkSession
    val ranked = Cut(df
      .repartitionByRange(numPartitions, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      // monotonically_increasing_id = (pid << 33) + row-index-in-partition,
      // evaluated in the sorted per-partition order -> the local rank.
      .withColumn("__local",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))))
    val counts = ranked.groupBy(col("__pid")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until numPartitions)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val offsetDf = spark.createDataFrame(
      (0 until numPartitions).map(p => (p, offsets(p)))).toDF("__pid", "__off")
    ranked.join(broadcast(offsetDf), Seq("__pid"))
      .withColumn(rankCol, col("__off") + col("__local"))
      .drop("__pid", "__local", "__off")
  }
}
