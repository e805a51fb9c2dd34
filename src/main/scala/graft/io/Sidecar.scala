package graft.io

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID
import scala.reflect.ClassTag

/** The one codec for the engine's JSON sidecar files: the checkpoint
  * `_meta.json` ([[graft.checkpoint.Checkpointer.Meta]]) and the catalog
  * `_graft_meta.json` ([[ParquetTableIO.Manifest]]). A sidecar is a case
  * class, written and read by Spark's bundled Jackson with the Scala
  * module, so any string survives the round trip and a new field is one
  * more constructor parameter.
  *
  * Reads are strict: a sidecar that lacks a field, or carries one the
  * class does not know, fails loudly instead of reading as a default.
  * Writes are atomic: the value lands in a temp file in the same
  * directory and is moved over the target with ATOMIC_MOVE, so a
  * concurrent reader sees the old sidecar or the new one, never a torn
  * one (the serving daemon reads catalog manifests unlocked while
  * mutations commit).
  */
object Sidecar {

  private val mapper = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m.enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    m.enable(DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)
    m.enable(DeserializationFeature.FAIL_ON_NULL_FOR_PRIMITIVES)
    m
  }

  def read[T: ClassTag](path: Path): T = mapper.readValue[T](path.toFile)

  def write(path: Path, value: AnyRef): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    val tmp =
      path.resolveSibling(s".${path.getFileName}.${UUID.randomUUID}.tmp")
    try {
      mapper.writeValue(tmp.toFile, value)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}
