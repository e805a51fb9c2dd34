package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming ingest: transcript stream -> reply-edge stream.
  *
  * The reference is strictly batch (SURVEY.md §1.4 — nothing streaming in
  * any crate; the Flight server streams results, not computations), so this
  * is an extension for continuous pipelines: new transcript files landing in
  * a directory become edge-table appends, which a periodic batch job folds
  * into the analytics graph.
  *
  * The batch derivation's lag-window over (conv_id, turn_idx) is not
  * stream-expressible (unbounded state per conversation); the streaming
  * formulation uses a self-join within a watermark instead: turn k joins
  * turn k-1 of the same conv_id where both sides are within the lateness
  * bound. Results are identical for conversations whose turns arrive within
  * the watermark (the at-most-once-per-(conv,turn) invariant carries the
  * dedup).
  */
object StreamingIngest {

  val transcriptSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  def readTranscriptStream(
      spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(transcriptSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Streaming reply-edge derivation via watermarked self-join:
    * edge = actor(turn k) -> actor(turn k-1), weight from `w=` in text.
    * Emits (src_actor, dst_actor, weight, ts) string-keyed edges; the dense
    * actor-id mapping stays a batch concern (the dictionary is global).
    */
  def edgeStream(transcripts: DataFrame, lateness: String = "10 minutes")
      : DataFrame = {
    // each join branch carries exactly one watermark, defined directly on
    // its own copy of the source (re-watermarking a derived branch is
    // disallowed)
    val cur = transcripts
      .select(col("conv_id"), col("turn_idx"),
        coalesce(col("tool"), col("role")).as("actor"),
        col("text"), col("ts"))
      .withWatermark("ts", lateness)
      .alias("cur")
    val prev = transcripts
      .select(col("conv_id"), (col("turn_idx") + 1).as("next_idx"),
        coalesce(col("tool"), col("role")).as("prev_actor"),
        col("ts").as("prev_ts"))
      .withWatermark("prev_ts", lateness)
      .alias("prev")
    cur.join(prev,
      col("cur.conv_id") === col("prev.conv_id") &&
        col("cur.turn_idx") === col("next_idx") &&
        col("prev_ts") >= col("cur.ts") - expr(s"INTERVAL $lateness") &&
        col("prev_ts") <= col("cur.ts"))
      .select(
        col("cur.actor").as("src_actor"),
        col("prev_actor").as("dst_actor"),
        coalesce(
          nullif(regexp_extract(col("cur.text"), "w=([0-9.eE+-]+)", 1),
            lit("")).cast("double"),
          lit(1.0)).as("weight"),
        col("cur.ts").as("ts"))
  }

  /** foreachBatch sink: every micro-batch of derived (string-keyed) edges
    * is APPENDED to a named catalog staging table as a new manifest
    * snapshot (io.TableIO.append) — the streaming end of the reference's
    * incremental add_edge mutation path (adj_list.rs:371-404). Restart-safe
    * END TO END: the streaming checkpoint replays the last micro-batch
    * after a failure (foreachBatch is at-least-once), so the append is
    * keyed by batchId — a replayed batch whose tag already sits in the
    * table manifest is skipped, never double-committed.
    */
  def sinkToCatalog(
      edges: DataFrame, catalog: graft.io.GraphCatalog,
      stagingTable: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    edges.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          catalog.appendTable(stagingTable, batch, s"b$batchId")
      }
      .start()

  /** Fold the accumulated staging table into the dense-id analytics graph:
    * global actor dictionary (a batch concern — the stream can't assign
    * stable dense ids) via the distributed rank, then (src, dst, weight)
    * written as `graphName`. Periodic batch job in a continuous pipeline.
    */
  def foldIntoGraph(
      spark: SparkSession, catalog: graft.io.GraphCatalog,
      stagingTable: String, graphName: String): Unit = {
    val staged = catalog.table(spark, stagingTable)
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val dict = graft.graph.DistributedRank.withDenseRank(
      staged.select(col("src_actor").as("actor"))
        .union(staged.select(col("dst_actor"))).distinct(),
      Seq(col("actor").asc), parts, "actor_id")
    val edges = staged
      .join(broadcast(dict
        .withColumnRenamed("actor", "src_actor")
        .withColumnRenamed("actor_id", "src")), Seq("src_actor"))
      .join(broadcast(dict
        .withColumnRenamed("actor", "dst_actor")
        .withColumnRenamed("actor_id", "dst")), Seq("dst_actor"))
      .select(col("src"), col("dst"), col("weight"))
    catalog.create(graphName, edges)
  }

  /** Windowed edge-rate aggregation (operational metric stream): edges per
    * (window, dst_actor) — watermark + tumbling window, append mode.
    */
  def edgeRates(edges: DataFrame, window: String = "1 minute"): DataFrame =
    // the edge stream already carries its watermark on ts (from the
    // derivation join); re-watermarking a derived stream is disallowed
    edges
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("dst_actor"))
      .agg(count(lit(1)).as("n_edges"), sum(col("weight")).as("w_sum"))
}
