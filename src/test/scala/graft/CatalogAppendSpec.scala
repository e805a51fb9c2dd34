package graft

import graft.algos.Wcc
import graft.io.{GraphCatalog, ParquetTableIO}
import java.nio.file.Files
import org.apache.spark.sql.graft.JobCounter

/** Incremental edge append + compaction + computed-property catalog
  * citizenship (reference: EdgeMutation::add_edge, adj_list.rs:371-404;
  * do_get property serving, server.rs:70-107).
  */
class CatalogAppendSpec extends SparkSpec {

  test("append grows a named graph across snapshots; compact preserves") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-cat").toString
    val cat = new GraphCatalog(new ParquetTableIO(root))

    cat.create("g", Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"))
    assert(cat.graph(spark, "g").edgeCount == 1)

    // two appends: algorithms on the re-opened graph see the union
    cat.appendEdges("g", Seq((1L, 2L, 1.0)).toDF("src", "dst", "weight"))
    cat.appendEdges("g", Seq((3L, 4L, 1.0)).toDF("src", "dst", "weight"))
    val g = cat.graph(spark, "g")
    assert(g.edgeCount == 3)
    val comps = Wcc.run(g).components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(2L) == 0L && comps(4L) == 3L)

    // compaction rewrites to one dir with identical content
    cat.compact(spark, "g")
    assert(cat.graph(spark, "g").edgeCount == 3)
    val dataDirs = Files.list(java.nio.file.Paths.get(root, "g")).toArray
      .map(_.toString).count(_.contains("snap-"))
    assert(dataDirs >= 3) // history retained (snapshots are immutable)
  }

  test("manifest row counts match the data after write, append, " +
      "tagged append, compaction and an empty write") {
    val s = spark
    import s.implicits._
    val io = new ParquetTableIO(
      Files.createTempDirectory("graft-rows").toString)
    def rowsMatch(step: String, want: Long): Unit = {
      assert(io.read(spark, "t").count() == want, step)
      assert(io.rows("t") == want, step)
    }
    io.write("t", spark.range(0, 1000, 1, 4).toDF().filter($"id" % 3 === 0))
    rowsMatch("write", 334L)
    io.append("t", spark.range(0, 10, 1, 3).toDF())
    rowsMatch("append", 344L)
    io.appendTagged("t", spark.range(0, 5).toDF(), "b1")
    io.appendTagged("t", spark.range(0, 5).toDF(), "b1")
    rowsMatch("tagged append, replayed", 349L)
    io.setAttr("t", "node_count", "349")
    rowsMatch("setAttr", 349L)
    io.compact(spark, "t")
    rowsMatch("compact", 349L)
    io.appendTagged("t", spark.range(0, 5).toDF(), "b1")
    rowsMatch("tagged append replayed after compaction", 349L)
    assert(io.version("t") == 4L)
    assert(io.attr("t", "node_count").contains("349"))
    io.write("t", spark.range(0, 0).toDF())
    rowsMatch("empty write", 0L)
    io.write("t", Seq.empty[(Long, Double)].toDF("id", "x"))
    rowsMatch("empty local write", 0L)
    io.append("u", spark.range(0, 7).toDF())
    assert(io.rows("u") == 7L && io.read(spark, "u").count() == 7L)
  }

  test("attrs commit atomically with write; setAttr bumps version") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-cat-attr").toString
    val io = new ParquetTableIO(root)

    // attrs passed to write() land in the SAME manifest commit as the
    // data — there is no window where a reader sees the snapshot without
    // them (the daemon's unlocked LIST races transforms on exactly this)
    io.write("t", Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"),
      Map("gtype" -> "undirected", "node_count" -> "7"))
    assert(io.attr("t", "gtype").contains("undirected"))
    assert(io.attr("t", "node_count").contains("7"))

    // version() changes on EVERY committed mutation, attr mutations
    // included — a version-keyed cache of attr-derived facts (the daemon's
    // node-count cache) must see a new key after setAttr
    val v0 = io.version("t")
    io.setAttr("t", "node_count", "9")
    assert(io.version("t") > v0)
    assert(io.attr("t", "node_count").contains("9"))
    assert(io.rows("t") == 1L) // data manifest untouched by the attr bump
    assert(io.read(spark, "t").count() == 1L)

    // readers run unlocked against mutations: every manifest they read is
    // whole, and versions only grow
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val readers = Seq.fill(2)(new Thread(() =>
      try {
        var last = -1L
        while (!stop.get) {
          val v = io.version("t")
          assert(v >= last, s"version went back: $last -> $v")
          last = v
          assert(io.rows("t") == 1L)
          io.read(spark, "t")
        }
      } catch { case t: Throwable => failures.add(t) }))
    readers.foreach(_.start())
    (1 to 40).foreach(i => io.setAttr("t", "n", i.toString))
    stop.set(true)
    readers.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
    assert(io.version("t") == v0 + 41 && io.attr("t", "n").contains("40"))

    // a full write replaces the table: attrs reset to exactly what the
    // new commit carries
    io.write("t", Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"))
    assert(io.attr("t", "node_count").isEmpty)
  }

  test("tagged appends are idempotent under micro-batch replay") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-cat").toString
    val cat = new GraphCatalog(new ParquetTableIO(root))

    // first-ever increment creates the table
    cat.appendEdgesTagged("g",
      Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"), "b0")
    assert(cat.graph(spark, "g").edgeCount == 1)
    // replay of b0 (foreachBatch at-least-once) must be a no-op
    cat.appendEdgesTagged("g",
      Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"), "b0")
    assert(cat.graph(spark, "g").edgeCount == 1)
    // a new tag commits; replaying it again does not
    cat.appendEdgesTagged("g",
      Seq((1L, 2L, 1.0)).toDF("src", "dst", "weight"), "b1")
    cat.appendEdgesTagged("g",
      Seq((1L, 2L, 1.0)).toDF("src", "dst", "weight"), "b1")
    assert(cat.graph(spark, "g").edgeCount == 2)
    // untagged appends still stack freely alongside
    cat.appendEdges("g", Seq((3L, 4L, 1.0)).toDF("src", "dst", "weight"))
    assert(cat.graph(spark, "g").edgeCount == 3)

    // COMPACTION must not forget consumed tags: it rewrites the tagged
    // data dirs into one untagged dir, and a post-compaction replay of an
    // already-committed micro-batch (failure/restart straddling the
    // compaction) would otherwise append duplicate rows — the exact
    // at-least-once corruption appendTagged exists to prevent
    cat.compact(spark, "g")
    assert(cat.graph(spark, "g").edgeCount == 3)
    cat.appendEdgesTagged("g",
      Seq((1L, 2L, 1.0)).toDF("src", "dst", "weight"), "b1")
    assert(cat.graph(spark, "g").edgeCount == 3) // b1 still recognized
    cat.appendEdgesTagged("g",
      Seq((5L, 6L, 1.0)).toDF("src", "dst", "weight"), "b2")
    assert(cat.graph(spark, "g").edgeCount == 4) // new tags still commit
  }

  test("appends past a declared node universe grow it") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-cat-grow").toString
    val io = new ParquetTableIO(root)
    val cat = new GraphCatalog(io)

    // a graph500-style declared universe: 4 nodes, edges among 0-1
    cat.create("g", Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"),
      Map("node_count" -> "4"))
    assert(cat.graph(spark, "g").nodeCount == 4)

    // appending an edge INSIDE the universe keeps the declared count
    cat.appendEdges("g", Seq((2L, 3L, 1.0)).toDF("src", "dst", "weight"))
    assert(cat.graph(spark, "g").nodeCount == 4)

    // an edge PAST it grows the declared count to cover the new max id —
    // the old behavior silently dropped node 9 from the dense universe
    // (degrees, PageRank's n) while its edges sat in the table
    cat.appendEdgesTagged("g",
      Seq((9L, 0L, 1.0)).toDF("src", "dst", "weight"), "t0")
    assert(cat.graph(spark, "g").nodeCount == 10)
    assert(cat.graph(spark, "g").degrees.count() == 10)
  }

  test("one append commits its rows and the grown node count in one " +
      "snapshot, with and without a declared count") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-cat-nc").toString
    val io = new ParquetTableIO(root)
    val cat = new GraphCatalog(io)
    def edges(es: (Long, Long)*) =
      es.map { case (u, v) => (u, v, 1.0) }.toDF("src", "dst", "weight")

    // no declared count: the create records the observed max id + 1
    cat.create("g", edges((0L, 1L)))
    assert(io.attr("g", "node_count").contains("2"))
    val v0 = io.version("g")
    cat.appendEdges("g", edges((5L, 2L)))
    assert(io.version("g") == v0 + 1)
    assert(io.attr("g", "node_count").contains("6"))
    assert(cat.graph(spark, "g").degrees.count() == 6)

    // a declared count wins while it covers the edges, and an append
    // past it grows it in the append's own commit
    cat.create("d", edges((0L, 1L)), Map("node_count" -> "4"))
    assert(io.attr("d", "node_count").contains("4"))
    val d0 = io.version("d")
    cat.appendEdges("d", edges((2L, 3L)))
    assert(io.version("d") == d0 + 1)
    assert(io.attr("d", "node_count").contains("4"))
    cat.appendEdges("d", edges((9L, 0L)))
    assert(io.version("d") == d0 + 2)
    assert(io.attr("d", "node_count").contains("10"))

    // tagged: the same one commit; a replayed tag commits nothing
    cat.appendEdgesTagged("d", edges((11L, 0L)), "t0")
    assert(io.version("d") == d0 + 3)
    assert(io.attr("d", "node_count").contains("12"))
    cat.appendEdgesTagged("d", edges((20L, 0L)), "t0")
    assert(io.version("d") == d0 + 3)
    assert(io.attr("d", "node_count").contains("12"))

    // the count costs no job: the append runs what a raw append runs
    val (_, raw) = JobCounter.counted(spark)(io.append("r", edges((1L, 2L))))
    val (_, grown) =
      JobCounter.counted(spark)(cat.appendEdges("d", edges((30L, 0L))))
    assert(grown == raw, s"appendEdges ran $grown jobs, a raw append $raw")
    assert(io.attr("d", "node_count").contains("31"))
  }

  test("a raw staging append records no node count; appends to a table " +
      "without one leave it unrecorded") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-cat-stage").toString
    val io = new ParquetTableIO(root)
    val cat = new GraphCatalog(io)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // the streaming staging shape: actor names, not ids
    cat.appendTable("stage",
      Seq(("user", "assistant", 1.0, ts)).toDF(
        "src_actor", "dst_actor", "weight", "ts"), "b0")
    cat.appendTable("stage",
      Seq(("assistant", "tool", 2.0, ts)).toDF(
        "src_actor", "dst_actor", "weight", "ts"), "b1")
    assert(io.rows("stage") == 2L)
    assert(io.attr("stage", "node_count").isEmpty)

    // an edge table written straight through TableIO has no count; an
    // append leaves it unrecorded and readers derive max id + 1
    io.write("raw", Seq((0L, 3L, 1.0)).toDF("src", "dst", "weight"))
    cat.appendEdges("raw", Seq((1L, 2L, 1.0)).toDF("src", "dst", "weight"))
    assert(io.attr("raw", "node_count").isEmpty)
    assert(cat.graph(spark, "raw").nodeCount == 4L)
    assert(cat.nodeCount(spark, "raw") == 4L)
  }

  test("tag matching is exact, not suffix-based (tags may contain '-')") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-cat").toString
    val cat = new GraphCatalog(new ParquetTableIO(root))

    // round-3 verdict #2: endsWith("-$tag") considered tag "b" already
    // committed once any dir carried tag "a-b" — the increment was
    // SILENTLY DROPPED (data loss). Exact matching must commit both.
    cat.appendEdgesTagged("g",
      Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"), "a-b")
    cat.appendEdgesTagged("g",
      Seq((1L, 2L, 1.0)).toDF("src", "dst", "weight"), "b")
    assert(cat.graph(spark, "g").edgeCount == 2)
    // replays of each still skip
    cat.appendEdgesTagged("g",
      Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"), "a-b")
    cat.appendEdgesTagged("g",
      Seq((1L, 2L, 1.0)).toDF("src", "dst", "weight"), "b")
    assert(cat.graph(spark, "g").edgeCount == 2)
  }

  test("computed properties are catalog citizens (write/read/list)") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-cat").toString
    val cat = new GraphCatalog(new ParquetTableIO(root))
    cat.create("g", Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"))

    val comps = Wcc.run(cat.graph(spark, "g")).components
    cat.writeProperty("g", "wcc", comps)
    assert(cat.listProperties("g") == Seq("wcc"))
    val back = cat.readProperty(spark, "g", "wcc").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(back == Map(0L -> 0L, 1L -> 0L))
    // property tables don't pollute the graph listing
    assert(cat.list() == Seq("g"))
    cat.remove("g")
    assert(cat.list().isEmpty && cat.listProperties("g").isEmpty)
  }

  test("a manifest that lacks a field fails loudly on read") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-manifest-old")
    val io = new ParquetTableIO(root.toString)
    io.write("t", Seq(1L).toDF("id"))
    // a sidecar without `tags`: no fallback reads it as "no tags"
    Files.writeString(root.resolve("t").resolve("_graft_meta.json"),
      """{"name":"t","snapshot":0,"rows":1,"dirs":["snap-0"],"attrs":{}}""")
    intercept[Exception](io.rows("t"))
    intercept[Exception](io.appendTagged("t", Seq(2L).toDF("id"), "b0"))
  }

  test("a table folder copied under a new name is its own table") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-manifest-copy")
    val io = new ParquetTableIO(root.toString)
    io.write("a", Seq(1L, 2L).toDF("id"))
    io.append("a", Seq(3L).toDF("id"))
    val src = root.resolve("a")
    val walk = Files.walk(src)
    try walk.forEach(p =>
      Files.copy(p, root.resolve("b").resolve(src.relativize(p).toString)))
    finally walk.close()

    io.append("b", Seq(4L).toDF("id"))
    io.appendTagged("b", Seq(5L).toDF("id"), "t0")
    io.setAttr("b", "k", "v")
    io.compact(spark, "b")
    def ids(t: String) = io.read(spark, t).as[Long].collect().sorted.toSeq
    assert(ids("a") == Seq(1L, 2L, 3L))
    assert(io.rows("a") == 3L && io.version("a") == 1L)
    assert(io.attr("a", "k").isEmpty)
    assert(ids("b") == Seq(1L, 2L, 3L, 4L, 5L) && io.rows("b") == 5L)

    io.drop("a")
    assert(ids("b") == Seq(1L, 2L, 3L, 4L, 5L))
    assert(io.list() == Seq("b"))
  }
}
