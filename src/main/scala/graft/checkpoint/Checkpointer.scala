package graft.checkpoint

import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import graft.io.Sidecar
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path}
import scala.util.Try

/** Iteration-state checkpointing with per-partition lineage + convergence
  * metrics (north rule; reference analogue is the binary CSR
  * serialize/deserialize round-trip, crates/app/src/serialize.rs:45-69 and
  * csr.rs:247-314).
  *
  * Every k supersteps the algorithm driver writes the full vertex state as
  * parquet under `ckpt-NNNNNN/state` plus a `_meta.json` sidecar, the
  * [[Meta]] record (algorithm, iteration, error, partition count,
  * per-partition row counts, total rows, fingerprint, converged) written
  * and read by [[graft.io.Sidecar]], the engine's one sidecar codec. A
  * checkpoint is only considered complete once `_meta.json` exists —
  * parquet is written first and the sidecar lands by atomic move, so a
  * crash mid-write leaves the previous checkpoint authoritative.
  * `latest` finds the newest complete checkpoint so a restarted run resumes
  * mid-iteration-sequence instead of from scratch. A write leaves the
  * caller's frame as it was: the loops cut their state's lineage every
  * round anyway (algos.Supersteps rule 2), so the frame they hold is
  * already shallow.
  */
object Checkpointer {

  case class Meta(
      algorithm: String,
      iteration: Int,
      error: Double,
      numPartitions: Int,
      // element type for Jackson: Seq[Long] erases to Seq[Object]
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      partitionRows: Seq[Long],
      totalRows: Long,
      fingerprint: String = "",
      converged: Boolean = false)

  private def dir(root: String, iteration: Int): Path =
    Paths.get(root, f"ckpt-$iteration%06d")

  /** Write state + meta; returns the meta written. The per-partition row
    * counts are read back off the written parquet, so they describe the
    * frame [[latest]] loads. `fingerprint` identifies (config, input) —
    * see [[latest]].
    */
  def write(
      root: String,
      algorithm: String,
      iteration: Int,
      error: Double,
      state: DataFrame,
      fingerprint: String = "",
      converged: Boolean = false): Meta = {
    val spark = state.sparkSession
    val d = dir(root, iteration)
    val dataPath = d.resolve("state").toString
    state.write.mode("overwrite").parquet(dataPath)
    val perPart = spark.read.parquet(dataPath)
      .groupBy(spark_partition_id().as("pid")).count()
      .orderBy(col("pid")).collect().map(_.getLong(1)).toSeq
    val meta = Meta(algorithm, iteration, error,
      numPartitions = perPart.size, partitionRows = perPart,
      totalRows = perPart.sum, fingerprint = fingerprint,
      converged = converged)
    Sidecar.write(d.resolve("_meta.json"), meta)
    meta
  }

  /** Newest complete checkpoint under `root`, if any. When
    * `expectedFingerprint` is non-empty, checkpoints whose recorded
    * fingerprint differs are IGNORED — a stale dir from a different graph /
    * damping / tolerance must not silently resume bogus state (round-1
    * advice: with warmup/timed re-runs it also under-measured later runs by
    * resuming from the previous run's checkpoints).
    */
  def latest(spark: SparkSession, root: String,
      expectedFingerprint: String = "")
      : Option[(Meta, DataFrame)] = {
    val rootPath = Paths.get(root)
    if (!Files.isDirectory(rootPath)) return None
    val listing = Files.list(rootPath) // close the directory handle
    val candidates =
      try listing.toArray.toSeq.map(_.asInstanceOf[Path])
      finally listing.close()
    val ordered = candidates
      .filter(p => p.getFileName.toString.startsWith("ckpt-")
        && Files.exists(p.resolve("_meta.json")))
      .sortBy(_.getFileName.toString)
      .reverse
    ordered.view.flatMap { p =>
      Try {
        val meta = Sidecar.read[Meta](p.resolve("_meta.json"))
        (meta, spark.read.parquet(p.resolve("state").toString))
      }.toOption
    }.find { case (meta, _) =>
      expectedFingerprint.isEmpty || meta.fingerprint == expectedFingerprint
    }
  }
}
