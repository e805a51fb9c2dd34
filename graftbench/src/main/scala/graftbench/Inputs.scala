package graftbench

import graft.fixtures.Fixtures
import java.nio.file.{Files, Path, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** Seeded workload inputs. An input directory holds what its workload
  * reads: the transcript table (`transcripts/`, parquet) that
  * uniform_serve ingests on every pass, or the reply-edge table (`edges/`,
  * parquet, derived by the oracle) that zipf_shuffle_ckpt loads once;
  * plus the sequential oracle (`oracle.bin`) and the spec marker
  * `_GRAFT_SPEC`, written last. An input is reused only when its marker
  * names exactly this workload's sizes, settings and seed, so a stale input
  * of another size or seed is regenerated, never measured.
  *
  * Generation needs no Spark session: the transcripts are the rows
  * `Fixtures.zipfTranscripts` and `Fixtures.transcriptsFromEdges` produce
  * (both deterministic per conversation), built here directly and written
  * with the parquet library, so preparing an input costs a plain JVM start
  * rather than a Spark start.
  */
object Inputs {

  val Marker = "_GRAFT_SPEC"

  def spec(w: Workload, seed: Long): String =
    s"graftbench-inputs v3 ${w.name} ${w.input} seed=$seed " +
      s"pr=${w.prMaxIter}/${w.prTolerance} lp=${w.lpMaxIter}/${w.lpEarlyStop}"

  def ready(dir: Path, w: Workload, seed: Long): Boolean = {
    val marker = dir.resolve(Marker)
    Files.exists(marker) && Files.readString(marker) == spec(w, seed)
  }

  def transcripts(dir: Path): String = dir.resolve("transcripts").toString

  /** The reply-edge table (src, dst, weight) derived by the oracle. */
  def edges(dir: Path): String = dir.resolve("edges").toString

  private val Epoch = 1700000000000L

  /** One transcript row, as `Fixtures.Turn` with ts in epoch millis. */
  final case class Turn(conv: String, turn: Int, role: String, text: String,
      tool: String, tsMs: Long)

  /** `Fixtures.zipfTranscripts(convs, turns, actors, s, seed)` row for row. */
  def zipfTurns(z: ZipfInput, seed: Long): Seq[Turn] = {
    val weights = (1 to z.actors).map(r => 1.0 / math.pow(r, z.s))
    val total = weights.sum
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    def pick(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, z.actors - 1)
    }
    val roles = Array("user", "assistant", "tool")
    (0L until z.convs.toLong).flatMap { c =>
      val rng = new java.util.Random(seed ^ (c * 0x9E3779B97F4A7C15L))
      (0 until z.turns).map { t =>
        val actor = pick(rng.nextDouble())
        Turn(s"c-$c", t, roles(t % roles.length), s"txt-$c-$t",
          "a%06d".format(actor), Epoch + c * 3600000L + t * 1000L)
      }
    }
  }

  /** `Fixtures.transcriptsFromEdges(randomEdges(nodes, edges, seed), nodes)`
    * row for row: edge i = (u, v) is conversation "e-i" whose second turn
    * (actor u) replies to the first (actor v), plus one single-turn anchor
    * conversation per node.
    */
  def uniformTurns(u: UniformInput, seed: Long): Seq[Turn] = {
    def actor(v: Long): String = "a%05d".format(v)
    val edgeTurns = Fixtures.randomEdges(u.nodes, u.edges, seed).zipWithIndex
      .flatMap { case ((a, b), i) => Seq(
        Turn(s"e-$i", 0, "user", s"t-$i-0", actor(b), Epoch + i * 60000L),
        Turn(s"e-$i", 1, "assistant", s"t-$i-1", actor(a),
          Epoch + (i * 60L + 1) * 1000L)) }
    val anchors = (0L until u.nodes.toLong).map(v => Turn(s"n-$v", 0, "user",
      s"anchor-$v", actor(v), Epoch - 1000L * (u.nodes - v)))
    edgeTurns ++ anchors
  }

  /** Generate the input and its oracle into `dir` (replacing any stale
    * content), then write the marker.
    */
  def prepare(dir: Path, w: Workload, seed: Long): Unit = {
    Files.createDirectories(dir)
    Files.deleteIfExists(dir.resolve(Marker))
    val turns = w.input match {
      case z: ZipfInput => zipfTurns(z, seed)
      case u: UniformInput => uniformTurns(u, seed)
    }
    val (src, dst) = Oracle.replyEdges(turns.map(_.conv).toArray,
      turns.map(_.turn).toArray, turns.map(_.tool).toArray)
    w.input match {
      case _: UniformInput =>
        write(transcripts(dir), """message transcripts {
          optional binary conv_id (STRING); required int32 turn_idx;
          optional binary role (STRING); optional binary text (STRING);
          optional binary tool (STRING);
          optional int64 ts (TIMESTAMP(MICROS,true)); }""", turns) {
          (g, t) => g.append("conv_id", t.conv).append("turn_idx", t.turn)
            .append("role", t.role).append("text", t.text)
            .append("tool", t.tool).append("ts", t.tsMs * 1000L)
        }
      case _: ZipfInput =>
        write(edges(dir), """message edges { required int64 src;
          required int64 dst; required double weight; }""", src.indices) {
          (g, i) => g.append("src", src(i).toLong)
            .append("dst", dst(i).toLong).append("weight", 1.0)
        }
    }
    Oracle.compute(src, dst, w.prMaxIter, w.prTolerance, w.lpMaxIter,
      w.lpEarlyStop).save(dir.resolve("oracle.bin").toString)
    Files.writeString(dir.resolve(Marker), spec(w, seed))
  }

  /** Write `rows` as a one-file parquet table directory. */
  private def write[A](table: String, schema: String, rows: Iterable[A])(
      fill: (Group, A) => Any): Unit = {
    val tableDir = Paths.get(table)
    Session.deleteTree(tableDir)
    Files.createDirectories(tableDir)
    val tpe = MessageTypeParser.parseMessageType(schema)
    val groups = new SimpleGroupFactory(tpe)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(
        tableDir.resolve("part-00000.parquet").toUri))
      .withType(tpe).withConf(new Configuration())
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach { r =>
      val g = groups.newGroup(); fill(g, r); writer.write(g) }
    finally writer.close()
  }
}
