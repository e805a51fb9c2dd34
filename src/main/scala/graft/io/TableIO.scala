package graft.io

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import java.nio.file.{Files, Paths}

/** Named-table IO + graph catalog (SURVEY.md §2.1 S5/S7, §2.14).
  *
  * The reference serializes CSR graphs to raw binary snapshots
  * (crates/builder/src/input/binary.rs:15-38, csr.rs:247-314) and serves a
  * named in-memory catalog over Arrow Flight (crates/server/src/catalog.rs).
  * Our serialized graph IS a columnar table: Iceberg in deployment, a
  * parquet directory + `_graft_meta.json` sidecar (snapshot id, row count,
  * data-dir manifest) in this sandbox — same trait, drop-in backend
  * (SURVEY.md §7 preamble: no Iceberg runtime jar offline, so core never
  * imports org.apache.iceberg).
  */
trait TableIO {
  /** Replace the table with a fresh snapshot. `attrs` commit ATOMICALLY
    * with the data manifest — a concurrent reader never observes the new
    * snapshot without its attributes (e.g. a transform's orientation tag
    * or a graph500 declared node count).
    */
  def write(
      name: String, df: DataFrame,
      attrs: Map[String, String] = Map.empty,
      runningMax: Option[TableIO.RunningMax] = None): Unit

  /** Append rows as a new snapshot WITHOUT rewriting existing data — the
    * distributed analogue of the reference's incremental
    * EdgeMutation::add_edge path (crates/builder/src/graph/adj_list.rs:
    * 371-404, trait at lib.rs:414-456): the increment lands in its own
    * data dir and the snapshot manifest grows by one entry, exactly how an
    * Iceberg append commits a new manifest. Readers of the new snapshot see
    * old + new rows; readers mid-flight keep their snapshot.
    */
  def append(name: String, df: DataFrame,
      runningMax: Option[TableIO.RunningMax] = None): Unit

  /** Idempotent [[append]]: the tag names the increment (e.g. a streaming
    * micro-batch id), and an increment whose tag is already in the current
    * manifest is silently skipped. foreachBatch is at-least-once — after a
    * failure/restart the sink replays the last micro-batch, and a plain
    * append would commit it twice (round-2 advice on
    * StreamingIngest.sinkToCatalog).
    */
  def appendTagged(name: String, df: DataFrame, tag: String,
      runningMax: Option[TableIO.RunningMax] = None): Unit

  /** Rewrite the current snapshot's (possibly many) data dirs into one —
    * Iceberg's compaction/rewrite action. A no-op on single-dir snapshots.
    */
  def compact(spark: SparkSession, name: String): Unit

  def read(spark: SparkSession, name: String): DataFrame =
    snapshot(spark, name)._1

  /** The current snapshot's rows and attributes, from one manifest read:
    * a reader never pairs one snapshot's rows with another's attributes.
    */
  def snapshot(spark: SparkSession, name: String)
      : (DataFrame, Map[String, String])

  def list(): Seq[String]
  def drop(name: String): Unit
  def exists(name: String): Boolean

  /** Current snapshot id — changes on every committed mutation, attribute
    * updates included.
    */
  def version(name: String): Long

  /** Row count of the current snapshot, straight from the manifest — no
    * scan (the reference's in-memory `edge_count()`, catalog.rs:134-142).
    */
  def rows(name: String): Long

  /** Small string attributes riding on the table (e.g. graph orientation).
    * Attributes survive appends/compaction (they describe the table, not a
    * snapshot) and are cleared by a full `write` (a replaced table is a new
    * table).
    */
  def attr(name: String, key: String): Option[String]
  def setAttr(name: String, key: String, value: String): Unit
}

object TableIO {

  /** A table attribute kept as the running maximum of `measure`, a long
    * aggregate over the rows written (e.g. a graph's node count, max id +
    * 1). A write or append given one observes the measure inside its own
    * action, so it costs no job, and commits `key` = max(value before,
    * observed) in the same manifest as the rows. The value before is the
    * write's declared attribute, or 0 for a table with no rows; a table
    * that already holds rows but no value keeps none, since those rows
    * were never measured.
    */
  final case class RunningMax(key: String, measure: Column)
}

/** Parquet-directory backend. Snapshot semantics: each write/append creates
  * data under a new `snap-<n>` dir and atomically flips the table's
  * `_graft_meta.json` sidecar, the [[ParquetTableIO.Manifest]] written and
  * read by [[Sidecar]], the engine's one sidecar codec. Its `dirs` list
  * names the data dirs making up the current snapshot — writes replace
  * it, appends extend it. Readers always see a complete snapshot; history
  * is retained for lineage. Every mutation reads the manifest once and
  * commits its successor.
  */
class ParquetTableIO(root: String) extends TableIO {
  import ParquetTableIO.Manifest

  // One lock for every sidecar read-modify-write: two concurrent mutators
  // (e.g. a streaming append racing a daemon transform on the same
  // instance) would otherwise both read snapshot n and both commit n+1 —
  // the ATOMIC_MOVE prevents torn READS, not lost updates, and whichever
  // manifest lands second silently erases the other's committed rows.
  // Readers stay lock-free (they see the old or the new manifest).
  // Contract: one writer PROCESS per catalog root (same as a
  // lock-service-less Iceberg hadoop catalog); this lock makes the
  // single-process case safe.
  private val mutateLock = new Object

  private def dir(name: String) = {
    // names come off the network (the serving daemon's verbs) and become
    // a filesystem path: reject separators/'..' (path traversal out of
    // the catalog root) in one charset check
    require(name.matches("[A-Za-z0-9_.-]+") && name.exists(_.isLetterOrDigit),
      s"bad table name: $name")
    Paths.get(root, name)
  }
  private def metaPath(name: String) = dir(name).resolve("_graft_meta.json")

  private def manifest(name: String): Manifest =
    Sidecar.read[Manifest](metaPath(name))

  /** The table's manifest, or the empty one a first write grows from. */
  private def current(name: String): Manifest =
    if (exists(name)) manifest(name)
    else Manifest(name, -1L, 0L, Seq.empty, Seq.empty, Map.empty)

  // Paths come from the caller's table name, never from the manifest's
  // stored `name`: a table folder copied under a new name is its own table.
  private def commit(name: String, m: Manifest): Unit =
    Sidecar.write(metaPath(name), m.copy(name = name))

  /** `m` grown by `df` written as one more data dir `snap-<n><suffix>` of
    * table `name`'s next snapshot. The row count, and the running max's
    * measure when one is given, are observed inside the write's own job
    * (Dataset.observe) rather than by a second scan of the files.
    */
  private def appended(name: String, m: Manifest, df: DataFrame,
      suffix: String, runningMax: Option[TableIO.RunningMax]): Manifest = {
    val snap = m.snapshot + 1
    val dataDir = s"snap-$snap$suffix"
    val seen = Observation()
    df.observe(seen, count(lit(1)).as("rows"),
      runningMax.toSeq.map(_.measure.cast("long").as("max")): _*)
      .write.mode("overwrite").parquet(dir(name).resolve(dataDir).toString)
    val got = seen.get
    val attrs = runningMax.fold(m.attrs) { r =>
      val before = m.attrs.get(r.key).map(_.toLong)
        .orElse(if (m.rows == 0) Some(0L) else None)
      before.fold(m.attrs)(b => m.attrs +
        (r.key -> math.max(b, got("max").asInstanceOf[Long]).toString))
    }
    m.copy(snapshot = snap, dirs = m.dirs :+ dataDir,
      rows = m.rows + got("rows").asInstanceOf[Long], attrs = attrs)
  }

  private def data(spark: SparkSession, name: String,
      m: Manifest): DataFrame =
    spark.read.parquet(m.dirs.map(d => dir(name).resolve(d).toString): _*)

  override def write(
      name: String, df: DataFrame,
      attrs: Map[String, String] = Map.empty,
      runningMax: Option[TableIO.RunningMax] = None): Unit =
    mutateLock.synchronized {
      // a replaced table is a new table: attrs AND consumed tags reset
      commit(name, appended(name,
        Manifest(name, current(name).snapshot, 0L, Seq.empty, Seq.empty,
          attrs),
        df, "", runningMax))
    }

  override def append(name: String, df: DataFrame,
      runningMax: Option[TableIO.RunningMax] = None): Unit =
    mutateLock.synchronized {
      commit(name, appended(name, current(name), df, "", runningMax))
    }

  override def appendTagged(name: String, df: DataFrame, tag: String,
      runningMax: Option[TableIO.RunningMax] = None): Unit =
    mutateLock.synchronized {
      require(tag.matches("[A-Za-z0-9_-]+"), s"bad tag: $tag")
      // The consumed-tag set lives in the manifest's `tags`, so the
      // replay-dedup contract SURVIVES compaction (which rewrites the data
      // dirs to one untagged snap dir); the tag also rides the data-dir
      // name for human lineage. Matching is exact: tags may contain '-'.
      val m = current(name)
      if (!m.tags.contains(tag)) // else: replayed micro-batch, skip
        commit(name,
          appended(name, m, df, s"-$tag", runningMax)
            .copy(tags = m.tags :+ tag))
    }

  override def compact(spark: SparkSession, name: String): Unit =
    mutateLock.synchronized {
      require(exists(name), s"table $name not found under $root")
      val m = manifest(name)
      // tags and attrs carry forward: a replayed micro-batch after
      // compaction must still be recognized as committed
      if (m.dirs.size > 1) {
        val all = data(spark, name, m)
        commit(name,
          appended(name, m.copy(rows = 0L, dirs = Seq.empty), all, "", None))
      }
    }

  override def snapshot(spark: SparkSession, name: String)
      : (DataFrame, Map[String, String]) = {
    require(exists(name), s"table $name not found under $root")
    val m = manifest(name)
    (data(spark, name, m), m.attrs)
  }

  // Files.list/walk return streams backed by an OPEN directory handle —
  // close them deterministically: the serving daemon calls list() per LIST
  // request, and unclosed handles leak fds until GC gets around to them.
  override def list(): Seq[String] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) Seq.empty
    else {
      val s = Files.list(r)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.exists(p.resolve("_graft_meta.json")))
        .map(_.getFileName.toString).sorted
      finally s.close()
    }
  }

  override def drop(name: String): Unit =
    if (Files.isDirectory(dir(name))) {
      val s = Files.walk(dir(name))
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally s.close()
    }

  override def exists(name: String): Boolean = Files.exists(metaPath(name))

  override def version(name: String): Long = manifest(name).snapshot

  override def rows(name: String): Long = manifest(name).rows

  override def attr(name: String, key: String): Option[String] =
    manifest(name).attrs.get(key)

  override def setAttr(name: String, key: String, value: String): Unit =
    mutateLock.synchronized {
      // keys and values come off the network (the daemon's verbs)
      require(key.matches("[A-Za-z0-9_-]+"), s"bad attr key: $key")
      require(value.matches("[A-Za-z0-9_. -]*"), s"bad attr value: $value")
      // Commit the merged attrs under a BUMPED snapshot id (dirs are
      // unchanged): version() changes on every committed mutation.
      val m = manifest(name)
      commit(name, m.copy(snapshot = m.snapshot + 1,
        attrs = m.attrs + (key -> value)))
    }
}

object ParquetTableIO {

  /** The `_graft_meta.json` sidecar of one table. `dirs` names the data
    * dirs of snapshot `snapshot` (relative to the table dir), `rows` their
    * total row count, `tags` the consumed appendTagged tags, kept apart
    * from the dir names so compaction cannot lose them.
    */
  case class Manifest(
      name: String,
      snapshot: Long,
      rows: Long,
      dirs: Seq[String],
      tags: Seq[String],
      attrs: Map[String, String])
}

/** Graph catalog over TableIO: the Flight server's create/list/remove/
  * compute surface (crates/server/src/server.rs:296-339) re-expressed as
  * named edge tables, plus computed-property tables as catalog citizens
  * (the reference's do_get result streaming, server.rs:70-107 /
  * catalog.rs:270-288: a computed property is retrievable BY NAME after the
  * algorithm ran, not just dumped to a directory).
  *
  * Every edge table the catalog writes records its node count, the
  * `node_count` attribute, in the same manifest commit as its rows: the
  * reference serves a graph's node count from its catalog for free
  * (catalog.rs:125-132), and so does the manifest. The count is max id + 1
  * observed inside the write itself ([[TableIO.RunningMax]]), raised to
  * any count the create declares, and grown by each append. A table with
  * rows but no recorded count (written before counts were recorded, or
  * directly through TableIO) derives it lazily from its edges, and
  * appends leave it unrecorded.
  */
class GraphCatalog(io: TableIO) {
  private val nodeCounted = Some(TableIO.RunningMax("node_count",
    graft.graph.LinkGraph.nodeCountMeasure))

  /** Create/replace a named graph. Orientation rides on the table (the
    * reference's GraphType tag, catalog.rs:125-142); CREATE loads directed
    * unless `attrs` says otherwise (actions.rs:99-103 Orientation
    * default). All attrs — gtype, a declared node_count — commit in the
    * SAME manifest as the edge snapshot, so a concurrent reader (the
    * daemon's LIST runs unlocked against COMPUTE/transforms) never sees a
    * fresh snapshot with the attrs still missing. A declared node count
    * (graph500's m/16, a transform's carried universe) is recorded as
    * given unless the edges' max id + 1 exceeds it.
    */
  def create(
      name: String, edges: DataFrame,
      attrs: Map[String, String] = Map.empty): Unit =
    io.write(name, edges, Map("gtype" -> "directed") ++ attrs, nodeCounted)

  /** Graph orientation tag — "directed" unless a `toUndirected` transform
    * replaced the edge table (a table first created by an append carries
    * no gtype and reads as directed).
    */
  def graphType(name: String): String =
    io.attr(name, "gtype").getOrElse("directed")

  /** Manifest-tracked edge count — no scan (catalog.rs:134-142). */
  def edgeCount(name: String): Long = io.rows(name)

  /** Node count: the manifest's, else max id + 1 over the edges. */
  def nodeCount(spark: SparkSession, name: String): Long =
    io.attr(name, "node_count").fold(graph(spark, name).nodeCount)(_.toLong)

  /** Append an edge increment to a named graph; algorithms on the next
    * `graph()` call see the union. The recorded node count grows to cover
    * the increment in the same commit — the reference's mutable add_edge
    * growing its adjacency — so no reader sees the new edges under the
    * old universe, where their new vertices would be silently missing
    * from the dense vertex set (degrees, PageRank's n, SSSP init).
    */
  def appendEdges(name: String, edges: DataFrame): Unit =
    io.append(name, edges, nodeCounted)

  /** Idempotent append keyed by an increment tag (replay safety — see
    * TableIO.appendTagged); a replayed tag commits nothing.
    */
  def appendEdgesTagged(name: String, edges: DataFrame, tag: String): Unit =
    io.appendTagged(name, edges, tag, nodeCounted)

  def compact(spark: SparkSession, name: String): Unit =
    io.compact(spark, name)

  def graph(spark: SparkSession, name: String): graft.graph.LinkGraph = {
    val (edges, attrs) = io.snapshot(spark, name)
    graft.graph.LinkGraph(edges,
      nodeCount = attrs.get("node_count").fold(-1L)(_.toLong))
  }

  /** Raw named-table read (non-edge schemas, e.g. streaming staging). */
  def table(spark: SparkSession, name: String): DataFrame =
    io.read(spark, name)

  /** Raw idempotent append, the twin of [[table]]: rows of any schema
    * (e.g. streaming staging rows keyed by actor name), no node count.
    */
  def appendTable(name: String, df: DataFrame, tag: String): Unit =
    io.appendTagged(name, df, tag)

  private def propTable(graph: String, prop: String) = s"$graph.prop.$prop"

  /** Store an algorithm result (id -> value frame) as a named property of
    * the graph.
    */
  def writeProperty(graph: String, prop: String, df: DataFrame): Unit =
    io.write(propTable(graph, prop), df)

  def readProperty(
      spark: SparkSession, graph: String, prop: String): DataFrame =
    io.read(spark, propTable(graph, prop))

  def listProperties(graph: String): Seq[String] =
    io.list().filter(_.startsWith(s"$graph.prop."))
      .map(_.stripPrefix(s"$graph.prop."))

  def list(): Seq[String] =
    io.list().filterNot(_.contains(".prop."))

  /** Drop every computed property of `name` (without touching the edge
    * table) — CREATE over an existing graph name replaces the DATA, and
    * properties computed against the old data must not survive to be
    * served as if they described the new one.
    */
  def dropProperties(name: String): Unit =
    io.list().filter(_.startsWith(s"$name.prop.")).foreach(io.drop)

  def remove(name: String): Unit = {
    dropProperties(name)
    io.drop(name)
  }
}
