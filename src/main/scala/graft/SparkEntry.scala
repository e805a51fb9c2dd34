package graft

import graft.algos._
import graft.graph.LinkGraph
import graft.sources.EventEdges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Cut

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Graph queries run over the reply-edge graph derived from the `events`
  * table (graft.sources.EventEdges — same derivation stated in ANSI SQL for
  * the DuckDB oracle). Iterative algorithms are pinned to a fixed superstep
  * count in the query (tolerance=0) so the oracle can state the identical
  * unrolled recurrence; convergence-mode behavior is covered by ScalaTest
  * golden/oracle suites.
  */
object SparkEntry {

  private def graph(s: SparkSession, dir: String): LinkGraph =
    LinkGraph(EventEdges.edges(s, dir))

  /** Flagship: PageRank over the sf0.001 events reply graph. */
  def entry(spark: SparkSession): DataFrame =
    PageRank.run(graph(spark, "/root/testdata/sf0.001"),
      PageRankConfig(5, 0.0, 0.85)).scores

  /** One scratch root per process for the round-trip queries, removed on
    * JVM exit. Each invocation overwrites the same paths instead of
    * minting a fresh createTempDirectory — repeated bench/verify rolls on
    * a long-lived host were accumulating an unbounded pile of full edge
    * copies in /tmp (round-5 review).
    */
  private lazy val rtScratch: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-rt")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.deleteIfExists(q))
        finally s.close()
      } catch { case _: Throwable => () }
    }, "graft-rt-scratch-cleanup"))
    p
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_edges" -> ((s, dir) => EventEdges.edges(s, dir)),

    // S1 text edge-list round-trip, driver-gated: derive the reply edges,
    // write them as `src dst weight` text (distributed), parse them back
    // through the production reader. The oracle states only the derivation
    // — a lossy writer or parser (weight rendering, CRLF, multiplicity)
    // breaks the hash.
    "src_el_roundtrip" -> ((s, dir) => {
      val tmp = rtScratch.resolve("el").toString + "/edges.el"
      graft.sources.GraphSources.writeEdgeList(EventEdges.edges(s, dir), tmp)
      graft.sources.GraphSources.edgeList(s, tmp)
    }),

    // S5 snapshot serialize/deserialize round-trip, driver-gated: half the
    // edges committed by write, half appended as a second snapshot dir —
    // the read-back union must equal the input exactly (manifest commit,
    // dir union, row multiplicity).
    "src_snapshot_roundtrip" -> ((s, dir) => {
      val root = java.nio.file.Files.createDirectories(
        rtScratch.resolve("snap")).toString
      val io = new graft.io.ParquetTableIO(root)
      // snapshots retain history for lineage, so without this drop every
      // invocation in a long-lived JVM (interleaved bench passes) would
      // stack two MORE full edge copies under rtScratch until process exit
      if (io.exists("g")) io.drop("g")
      // ONE evaluation of the edge derivation: the write and append
      // branches filter the same checkpointed frame instead of each
      // re-running the full window derivation (round-6; same rows)
      val e = Cut(EventEdges.edges(s, dir))
      io.write("g", e.filter(pmod(col("src"), lit(2)) === 0))
      io.append("g", e.filter(pmod(col("src"), lit(2)) =!= 0))
      io.read(s, "g")
    }),

    // S2 graph500 binary round-trip, driver-gated: pack the reply edges
    // into 12-byte little-endian records (fixture writer, driver-sized by
    // design — see GraphSources.writeGraph500), read them back through the
    // production record-parallel reader. The oracle states the (src, dst)
    // derivation only — a mispacked/misparsed 48-bit split breaks the hash.
    "src_g500_roundtrip" -> ((s, dir) => {
      val root = java.nio.file.Files.createDirectories(
        rtScratch.resolve("g500"))
      val path = root.resolve("edges.graph500").toString
      graft.sources.GraphSources.writeGraph500(EventEdges.edges(s, dir),
        path)
      graft.sources.GraphSources.graph500(s, path)._1
        .select(col("src"), col("dst"))
    }),

    // S3 .graph labeled-text round-trip, driver-gated: derive a node table
    // (label = id % 7, degree = incident endpoint count) from the reply
    // edges, write nodes+edges as v/e lines (distributed) + t header,
    // parse back through the production reader, and emit only node rows
    // whose stored degree EQUALS a recount over the read-back edges — a
    // corrupted v-line drops the row (hash breaks), a corrupted e-line
    // skews the recount (row vanishes, count breaks), so one DataFrame
    // gates both parse lanes.
    "src_dotgraph_roundtrip" -> ((s, dir) => {
      // ONE evaluation of the edge derivation: referenced by the node-table
      // derivation (twice, via the union) and the e-line writer (round-6)
      val e = Cut(EventEdges.edges(s, dir))
      val ids = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id")))
      val nodes = ids.groupBy(col("id"))
        .agg(count(lit(1)).as("degree"))
        .select(col("id"), (col("id") % 7).as("label"), col("degree"))
      val out = rtScratch.resolve("dot").toString
      graft.sources.GraphSources.writeDotGraph(nodes, e, out)
      val (rn, re) = graft.sources.GraphSources.dotGraph(s, out)
      val deg = re.select(col("src").as("id"))
        .unionAll(re.select(col("dst").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("re_deg"))
      rn.join(deg, Seq("id"))
        .filter(col("degree") === col("re_deg"))
        .select(col("id"), col("label"), col("degree"))
    }),

    "g_degrees" -> ((s, dir) => graph(s, dir).degrees),

    // build-time Deduplicated layout (§2.13, builder.rs:123-381): self-
    // loops pruned, min weight per surviving directed edge — the same
    // deterministic rule as the merged-adjacency dedup
    "g_build_dedup" -> ((s, dir) =>
      LinkGraph(EventEdges.edges(s, dir), Layout.Deduplicated).edges),

    "g_to_undirected" -> ((s, dir) =>
      graph(s, dir).undirected),

    // to_undirected with the Deduplicated CSR layout (graph_ops.rs:229):
    // dedup applies to the MERGED adjacency, self-loops dropped, min
    // weight kept per surviving edge
    "g_to_undirected_dedup" -> ((s, dir) =>
      graph(s, dir).toUndirectedGraph(Layout.Deduplicated).edges),

    // degree-descending relabel map (SURVEY.md §2.12, graph_ops.rs:511-638):
    // old id -> new id by (deg DESC, id ASC), via the DISTRIBUTED dense rank
    // (round-1 verdict #3 killed the single-partition global window).
    "g_relabel_map" -> ((s, dir) => graph(s, dir).relabelMap),

    "g_pagerank5" -> ((s, dir) =>
      PageRank.run(graph(s, dir), PageRankConfig(5, 0.0, 0.85))
        .scores.select(col("id"), round(col("score"), 6).as("score"))),

    "g_wcc" -> ((s, dir) => Wcc.run(graph(s, dir)).components),

    // strongly connected components (north-rule algorithm; absent from the
    // reference): label = min member id, trim + fwd/bwd min-label rounds.
    "g_scc" -> ((s, dir) => Scc.run(graph(s, dir)).components),

    "g_lp4" -> ((s, dir) =>
      // pinned iterations -> fixed-iteration mode (identical labels, see
      // LabelPropagation)
      LabelPropagation.run(graph(s, dir),
        LabelPropagationConfig(4, earlyStop = false)).labels),

    "g_triangle_count" -> ((s, dir) => {
      val tc = TriangleCount.run(graph(s, dir))
      s.range(1).select(lit(tc).as("triangles"))
    }),

    // per-vertex (local) triangle counts — same degree-oriented wedge plan
    // plus a corner explode + groupBy
    "g_triangles_local" -> ((s, dir) =>
      TriangleCount.perVertex(graph(s, dir))),

    "g_sssp" -> ((s, dir) =>
      Sssp.run(graph(s, dir), SsspConfig(0L)).distances
        .filter(col("dist") =!= lit(Double.PositiveInfinity))
        .select(col("id"), round(col("dist"), 6).as("dist"))),

    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
            4).as("sum_revenue"),
          count(lit(1)).as("count_order"))),

    // ------------------- training-data pipeline ops (documents/embeddings)
    "t_stats" -> ((s, dir) =>
      graft.text.TextAnalysis.stats(docs(s, dir))),

    // deterministic hashed-id train/val/test assignment (map-only; the
    // oracle states the identical portable-hash bucket arithmetic)
    "t_split" -> ((s, dir) =>
      graft.text.Curation.assignSplits(docs(s, dir))),

    // per-language quality top-k (two-phase bucketed ranking; the oracle
    // states the equivalent single-window form)
    "t_curate" -> ((s, dir) =>
      graft.text.Curation.topKByQuality(docs(s, dir), CURATE_K)),

    // benchmark decontamination: per-training-doc count of distinct
    // word-3-shingles shared with the benchmark slice (doc_id % 10 == 7) +
    // 0/1 flag; benchmark shingle set broadcast, corpus probes map-side
    "t_decontam" -> ((s, dir) =>
      graft.text.Curation.decontaminate(docs(s, dir))),

    // language-mixture sampling weights: target_share / observed_share per
    // detected language ('es' deliberately absent from targets -> weight 0)
    "t_mix" -> ((s, dir) =>
      graft.text.Curation.mixtureWeights(docs(s, dir), MIX_TARGETS)),

    // per-doc repetition metrics, entirely row-local (sorted-array fold for
    // top-token multiplicity — no corpus-sized explode/groupBy shuffle)
    "t_rep" -> ((s, dir) =>
      graft.text.TextAnalysis.repetitionStats(docs(s, dir))),

    // deterministic epoch-repeat materializer over the mixture weights:
    // floor(w) copies + hash-thresholded fractional copy, row-local explode
    "t_resample" -> ((s, dir) =>
      graft.text.Curation.resampleByWeight(docs(s, dir), MIX_TARGETS)),

    // fixed-size token chunking with stride (context-window prep); chunk
    // payload carried as md5 so rows stay compact
    "t_chunks" -> ((s, dir) =>
      graft.text.TextAnalysis.chunk(docs(s, dir))),

    // PII counts + redacted fingerprint; phones counted after email/IP
    // redaction (no double-count), patterns shared verbatim with DuckDB
    "t_pii" -> ((s, dir) =>
      graft.text.TextAnalysis.piiScrub(docs(s, dir))),

    // sequence packing into fixed-token-budget bins by distributed prefix
    // sum (doc_id order); the oracle states the single-window cumsum form
    "t_pack" -> ((s, dir) =>
      graft.text.Curation.packSequences(docs(s, dir), PACK_BUDGET)),

    // one-row corpus report card (volume, language spread, dup rate,
    // mean quality) — fully partial-aggregatable single pass
    "t_corpus" -> ((s, dir) =>
      graft.text.TextAnalysis.corpusSummary(docs(s, dir))),

    // global top-k vocabulary by occurrence count (tokenizer-building
    // primitive); distributed TakeOrdered cut, deterministic tie-break
    "t_vocab" -> ((s, dir) =>
      graft.text.TextAnalysis.vocabulary(docs(s, dir), VOCAB_K)),

    "d_exact_dup" -> ((s, dir) =>
      graft.dedup.Dedup.exact(docs(s, dir))),

    // df cap = 100: candidate generation skips stop-shingles (quadratic
    // blowup guard, round-1 verdict #5); jaccard itself stays exact over
    // full shingle sets and the oracle states the identical cap.
    "d_ngram_jaccard" -> ((s, dir) =>
      graft.dedup.Dedup.ngramJaccard(docs(s, dir), 0.5,
        maxShingleDf = NGRAM_DF_CAP)),

    "d_minhash_lsh" -> ((s, dir) =>
      graft.dedup.Dedup.minHashLsh(docs(s, dir), 0.5)),

    // near-dup clusters: WCC closure over the LSH pair graph (similarity
    // is not transitive; keep-one-per-cluster needs components)
    "d_dup_groups" -> ((s, dir) =>
      graft.dedup.Dedup.dupGroups(docs(s, dir), 0.5)),

    // streaming reconciliation, driver-gated: replay the stream's staged
    // first-batch-wins output under a deterministic arrival order
    // (batch = doc_id % 3; StreamingSpec pins the replay == the real
    // flatMapGroupsWithState stream), then run the REAL recanonicalize job
    // over it — final canonicals must meet batch Dedup.exact's global-min
    // contract while dup_rank stays the arrival-order fact.
    "d_stream_recanon" -> ((s, dir) => {
      val staged = graft.streaming.StreamingDedup.stagedArrivalOrder(
        docs(s, dir), STREAM_BATCHES)
      graft.streaming.StreamingDedup.recanonicalize(staged)
        .select(col("doc_id"), col("canonical_id"),
          col("is_duplicate").cast("long").as("is_duplicate"),
          col("dup_rank"), col("fingerprint"))
    }),

    "d_simhash_pairs" -> ((s, dir) =>
      graft.dedup.Dedup.simHashPairs(docs(s, dir), SIMHASH_MAX_HAMMING)),

    "d_embed_dup" -> ((s, dir) =>
      graft.dedup.Dedup.embeddingDuplicates(embs(s, dir), 0.4,
        numPlanes = EMB_PLANES, numTables = EMB_TABLES, dims = EMB_DIMS)),

    "s_ann_topk" -> ((s, dir) =>
      graft.sim.Similarity.bruteForceTopK(embs(s, dir), 10L, 5)),

    "s_ann_lsh" -> ((s, dir) =>
      graft.sim.Similarity.lshTopK(embs(s, dir), 10L, 5,
        numPlanes = ANN_PLANES, dims = EMB_DIMS, numTables = ANN_TABLES,
        probeHamming = 2)),

    "s_ann_ivf" -> ((s, dir) =>
      graft.sim.Similarity.ivfTopK(embs(s, dir), 10L, 5,
        nlist = IVF_NLIST, nprobe = IVF_NPROBE)),

    "m_blob_meta" -> ((s, dir) =>
      graft.multimodal.Multimodal.asBlobs(docs(s, dir))
        .select(col("doc_id"), col("media_type"), col("n_bytes"))),

    // driver-comparable scalars + one rounded column per feature lane (the
    // raw array<double> crashed the driver's pandas comparator, round-1
    // verdict #1); the FakeDecoder is pure integer arithmetic over payload
    // bytes, stated identically in the DuckDB oracle.
    "m_features" -> ((s, dir) => {
      val f = graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.asBlobs(docs(s, dir))).toDF()
      val cols = Seq(col("doc_id"), col("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height")) ++
        (0 until 8).map(j =>
          round(element_at(col("features"), j + 1), 4).as(s"f$j"))
      f.select(cols: _*)
    }),

    // nearest-neighbor resize to a 4x4 grid through the decoder lane; the
    // pixel array is flattened to p0..p15 long columns for the driver's
    // comparator (same reason m_features rounds its lanes)
    "m_resize" -> ((s, dir) => {
      val r = graft.multimodal.Multimodal.resize(
        graft.multimodal.Multimodal.asBlobs(docs(s, dir)), t = 4).toDF()
      val cols = Seq(col("doc_id"), col("width"), col("height")) ++
        (0 until 16).map(j =>
          element_at(col("pixels"), j + 1).as(s"p$j"))
      r.select(cols: _*)
    }),

    // every-2nd 32-byte frame of the fake video: one->many rows through
    // the decoder lane (iterator flatMap, partition-preserving)
    "m_frames" -> ((s, dir) =>
      graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.asBlobs(docs(s, dir)),
        frameLen = 32, every = 2).toDF())
  )

  // LSH / banding parameters shared between the Spark queries and the
  // generated DuckDB oracle SQL.
  private val NGRAM_DF_CAP = 100L
  private val STREAM_BATCHES = 3
  private val SIMHASH_MAX_HAMMING = 16
  private val EMB_DIMS = 64
  private val EMB_PLANES = 6
  private val EMB_TABLES = 4
  private val CURATE_K = 10
  // mixture targets shared between t_mix and its oracle; 'es' deliberately
  // absent so the zero-weight (drop-from-mix) path is driver-gated too
  private val MIX_TARGETS =
    Map("en" -> 0.5, "und" -> 0.3, "de" -> 0.1, "fr" -> 0.1)
  private val PACK_BUDGET = 256L
  private val VOCAB_K = 50
  private val ANN_PLANES = 4
  private val ANN_TABLES = 2
  private val IVF_NLIST = 16
  private val IVF_NPROBE = 4

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  // ---------------------------------------------------------------- oracle

  import graft.functions.PortableHash.phashSql

  /** Word-token + distinct 3-gram shingle CTEs over `documents` (the DuckDB
    * statement of TextAnalysis.tokens / .shingles + Dedup.docShingles).
    */
  private val TOKS_SH_CTES =
    """toks AS (SELECT doc_id,
      |  regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |  FROM toks, unnest(generate_series(1, len(w)-2)) AS t(i)
      |  WHERE len(w) >= 3
      |  UNION
      |  SELECT DISTINCT doc_id, array_to_string(w, ' ') AS s
      |  FROM toks WHERE len(w) < 3)""".stripMargin

  /** Embeddings CTE: doubles, quantized ints (Similarity.quantize), norm. */
  private val EMB_CTE =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
      |  list_transform(embedding::DOUBLE[],
      |    x -> floor(x*1000000)::BIGINT) AS q,
      |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |    AS norm FROM embeddings)""".stripMargin

  /** The DuckDB statement of Similarity.planeComponent/lshBucket: integer
    * hyperplane components + per-(vector, table) sign-bit buckets.
    */
  private def planesBucketsSql(tables: Int, planes: Int, dims: Int): String =
    s"""planes AS (SELECT t, p, d,
       |  (${phashSql("t", "p", "d")} % 2001) - 1000 AS c
       |  FROM unnest(generate_series(0, ${tables - 1})) AS gt(t),
       |       unnest(generate_series(0, ${planes - 1})) AS gp(p),
       |       unnest(generate_series(0, ${dims - 1})) AS gd(d)),
       |dots AS (SELECT vec_id, t, p, sum(q[d+1] * c) AS dot
       |  FROM e, planes GROUP BY 1, 2, 3),
       |buckets AS (SELECT vec_id, t,
       |  sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT
       |    AS bucket
       |  FROM dots GROUP BY 1, 2)""".stripMargin

  /** Shared MinHash/LSH CTE chain (the DuckDB statement of
    * Dedup.minHashSignatures/minHashLsh candidate generation + exact
    * verification inputs): shingles -> 16 seeded-min signatures -> 4-band
    * buckets -> candidate pairs -> shingle-set sizes + intersections.
    */
  /** The affine minhash family's seed rows — the SAME driver-derived
    * constants Dedup.minHashSignatures bakes into its Column expressions.
    */
  private lazy val MINHASH_SEEDS_SQL = (0 until 16).map { i =>
    val (a, b, c) = graft.dedup.Dedup.minHashSeed(i)
    s"($i, ${a}::BIGINT, ${b}::BIGINT, ${c}::BIGINT)"
  }.mkString(", ")

  private lazy val MINHASH_CTES =
    s"""$TOKS_SH_CTES,
       |hs AS (SELECT doc_id, ${phashSql("s")} AS h FROM sh),
       |seeds AS (SELECT * FROM (VALUES $MINHASH_SEEDS_SQL)
       |  AS t(i, a, b, c)),
       |mh AS (SELECT doc_id, i,
       |  min((a * (h & 1073741823) + b * (h >> 30) + c)
       |    % ${graft.dedup.Dedup.minHashMod}) AS mh
       |  FROM hs, seeds GROUP BY 1, 2),
       |sig AS (SELECT doc_id, list(mh ORDER BY i) AS mhs
       |  FROM mh GROUP BY 1),
       |banded AS (SELECT doc_id, b AS band,
       |  ${phashSql("b", "mhs[4*b+1]", "mhs[4*b+2]",
            "mhs[4*b+3]", "mhs[4*b+4]")} AS bucket
       |  FROM sig, unnest(generate_series(0, 3)) AS g(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |  ON x.band = y.band AND x.bucket = y.bucket
       |    AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s GROUP BY 1, 2)"""
      .stripMargin

  private val EDGES_CTE =
    "edges AS (" + EventEdges.edgesSql.replace("\n", " ") + ")"
  private val VERTS_CTE =
    "verts AS (SELECT unnest(generate_series(0, " +
      "(SELECT max(greatest(src,dst)) FROM edges)))::BIGINT AS id)"

  private def prSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""i$k AS MATERIALIZED (SELECT d.id,
         | (SELECT 0.15/n FROM n) + 0.85 * COALESCE(g.in_sum, 0.0) AS score
         | FROM deg d LEFT JOIN (
         |   SELECT e.dst AS id, sum(s.score / dg.out_deg) AS in_sum
         |   FROM edges e JOIN i${k - 1} s ON e.src = s.id
         |   JOIN deg dg ON e.src = dg.id GROUP BY e.dst) g USING (id))"""
        .stripMargin.replace("\n", " ")
    }.mkString(",\n")
    s"""WITH $EDGES_CTE,
       |$VERTS_CTE,
       |n AS (SELECT count(*)::DOUBLE AS n FROM verts),
       |deg AS (SELECT v.id, COALESCE(o.c, 0.0) AS out_deg FROM verts v
       | LEFT JOIN (SELECT src AS id, count(*)::DOUBLE AS c FROM edges
       |  GROUP BY 1) o USING (id)),
       |i0 AS (SELECT id, (SELECT 1.0/n FROM n) AS score FROM verts),
       |$steps
       |SELECT id, round(score, 6) AS score FROM i$iters""".stripMargin
  }

  private def lpSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""i$k AS MATERIALIZED (SELECT l.id,
         | COALESCE(m.new_label, l.label) AS label FROM i${k - 1} l
         | LEFT JOIN (SELECT id, label AS new_label FROM (
         |   SELECT u.b AS id, l2.label, count(*) AS cnt,
         |     row_number() OVER (PARTITION BY u.b
         |       ORDER BY count(*) DESC, l2.label ASC) AS rn
         |   FROM undm u JOIN i${k - 1} l2 ON u.a = l2.id
         |   GROUP BY u.b, l2.label) WHERE rn = 1) m ON l.id = m.id)"""
        .stripMargin.replace("\n", " ")
    }.mkString(",\n")
    s"""WITH $EDGES_CTE,
       |undm AS (SELECT src AS a, dst AS b FROM edges WHERE src <> dst
       | UNION ALL SELECT dst, src FROM edges WHERE src <> dst),
       |$VERTS_CTE,
       |i0 AS (SELECT id, id AS label FROM verts),
       |$steps
       |SELECT id, label FROM i$iters""".stripMargin
  }

  private def ssspSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
         | SELECT id, dist FROM d${k - 1} UNION ALL
         | SELECT e.dst AS id, p.dist + e.weight AS dist
         | FROM d${k - 1} p JOIN edges e ON e.src = p.id) GROUP BY id)"""
        .stripMargin.replace("\n", " ")
    }.mkString(",\n")
    s"""WITH $EDGES_CTE,
       |d0 AS (SELECT 0::BIGINT AS id, 0.0 AS dist),
       |$steps
       |SELECT id, round(dist, 6) AS dist FROM d$iters""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "g_edges" -> EventEdges.edgesSql,

    // round-trips must reproduce the derivation EXACTLY — same oracle
    "src_el_roundtrip" -> EventEdges.edgesSql,
    "src_snapshot_roundtrip" -> EventEdges.edgesSql,

    // graph500 carries (src, dst) only — the derivation minus weight
    "src_g500_roundtrip" ->
      s"""WITH $EDGES_CTE
         |SELECT src, dst FROM edges""".stripMargin,

    "g_build_dedup" ->
      s"""WITH $EDGES_CTE
         |SELECT src, dst, min(weight) AS weight FROM edges
         |WHERE src <> dst GROUP BY src, dst""".stripMargin,

    // the .graph node-table derivation: the Spark side only emits rows
    // whose stored degree survives an edge-recount through the parser, so
    // a lossless round-trip reproduces exactly this table
    "src_dotgraph_roundtrip" ->
      s"""WITH $EDGES_CTE,
         |ids AS (SELECT src AS id FROM edges
         |        UNION ALL SELECT dst AS id FROM edges)
         |SELECT id, id % 7 AS label, count(*) AS degree
         |FROM ids GROUP BY id""".stripMargin,

    "g_degrees" ->
      s"""WITH $EDGES_CTE, $VERTS_CTE
         |SELECT v.id, COALESCE(o.c, 0)::BIGINT AS out_deg,
         |  COALESCE(i.c, 0)::BIGINT AS in_deg,
         |  (COALESCE(o.c, 0) + COALESCE(i.c, 0))::BIGINT AS deg
         |FROM verts v
         |LEFT JOIN (SELECT src AS id, count(*) AS c FROM edges GROUP BY 1)
         |  o USING (id)
         |LEFT JOIN (SELECT dst AS id, count(*) AS c FROM edges GROUP BY 1)
         |  i USING (id)""".stripMargin,

    "g_to_undirected" ->
      s"""WITH $EDGES_CTE
         |SELECT src, dst, weight FROM edges
         |UNION ALL SELECT dst AS src, src AS dst, weight FROM edges"""
        .stripMargin,

    "g_to_undirected_dedup" ->
      s"""WITH $EDGES_CTE,
         |und AS (SELECT src, dst, weight FROM edges
         |  UNION ALL SELECT dst AS src, src AS dst, weight FROM edges)
         |SELECT src, dst, min(weight) AS weight FROM und
         |WHERE src <> dst GROUP BY src, dst""".stripMargin,

    "g_relabel_map" ->
      s"""WITH $EDGES_CTE, $VERTS_CTE,
         |deg AS (SELECT v.id,
         |  (COALESCE(o.c, 0) + COALESCE(i.c, 0))::BIGINT AS deg
         | FROM verts v
         | LEFT JOIN (SELECT src AS id, count(*) AS c FROM edges GROUP BY 1)
         |   o USING (id)
         | LEFT JOIN (SELECT dst AS id, count(*) AS c FROM edges GROUP BY 1)
         |   i USING (id))
         |SELECT id, (row_number() OVER (ORDER BY deg DESC, id ASC) - 1)
         |  ::BIGINT AS new_id FROM deg""".stripMargin,

    "g_pagerank5" -> prSql(5),

    "g_wcc" ->
      s"""WITH RECURSIVE $EDGES_CTE,
         |und AS (SELECT DISTINCT src AS a, dst AS b FROM edges
         | WHERE src <> dst
         | UNION SELECT DISTINCT dst, src FROM edges WHERE src <> dst),
         |$VERTS_CTE,
         |reach(id, r) AS (SELECT id, id FROM verts
         | UNION SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id)
         |SELECT id, min(r) AS comp FROM reach GROUP BY id""".stripMargin,

    "g_lp4" -> lpSql(4),

    // SCC oracle: directed transitive closure (recursive CTE; fine at the
    // 150-actor verify scale), mutual pairs, label = min mutual partner.
    "g_scc" ->
      s"""WITH RECURSIVE $EDGES_CTE,
         |$VERTS_CTE,
         |e AS (SELECT DISTINCT src AS a, dst AS b FROM edges
         | WHERE src <> dst),
         |reach(a, b) AS (SELECT a, b FROM e
         | UNION SELECT reach.a, e.b FROM reach JOIN e ON e.a = reach.b),
         |mutual AS (SELECT r1.a, r1.b FROM reach r1
         | JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a)
         |SELECT v.id, least(v.id, coalesce(min(m.b), v.id))::BIGINT AS scc
         |FROM verts v LEFT JOIN mutual m ON m.a = v.id
         |GROUP BY v.id""".stripMargin,

    "g_triangle_count" ->
      s"""WITH $EDGES_CTE,
         |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |      FROM edges WHERE src <> dst)
         |SELECT count(*)::BIGINT AS triangles
         |FROM e e1 JOIN e e2 ON e1.b = e2.a
         |JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b""".stripMargin,

    "g_sssp" -> ssspSql(12),

    "g_triangles_local" ->
      s"""WITH $EDGES_CTE, $VERTS_CTE,
         |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |      FROM edges WHERE src <> dst),
         |t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |      FROM e e1 JOIN e e2 ON e1.b = e2.a
         |      JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
         |corners AS (SELECT u AS id FROM t
         | UNION ALL SELECT v FROM t UNION ALL SELECT w FROM t)
         |SELECT vts.id, coalesce(c.n, 0)::BIGINT AS triangles
         |FROM verts vts LEFT JOIN (SELECT id, count(*) AS n FROM corners
         |  GROUP BY 1) c USING (id)""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_revenue,
        |  count(*)::BIGINT AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "t_stats" -> {
      def mk(markers: Seq[String]): String =
        "len(list_filter(w, x -> x IN (" +
          markers.map(m => s"'$m'").mkString(",") + ")))"
      val en = mk(Seq("the", "a", "of", "and", "is"))
      val es = mk(Seq("el", "la", "los", "de", "y"))
      val de = mk(Seq("der", "die", "das", "und", "ist"))
      val fr = mk(Seq("le", "la", "les", "et", "est"))
      s"""WITH t AS (SELECT doc_id, text,
         |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents)
         |SELECT doc_id,
         |  len(w)::BIGINT AS n_tokens,
         |  list_sum(list_transform(w, x -> ceil(length(x)/4.0)::BIGINT))
         |    ::BIGINT AS n_subwords,
         |  length(text)::BIGINT AS n_chars_computed,
         |  round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0
         |    / greatest(length(text), 1), 6) AS alpha_ratio,
         |  round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))*1.0
         |    / greatest(length(text), 1), 6) AS punct_ratio,
         |  round($en*1.0 / greatest(len(w), 1), 6) AS stopword_ratio,
         |  CASE WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1) < 10
         |    THEN 'und'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 4 THEN 'en'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 3 THEN 'es'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 2 THEN 'de'
         |    ELSE 'fr' END AS lang_detected,
         |  round(0.4 * least(len(w)/64.0, 1.0)
         |    + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0
         |        / greatest(length(text), 1))
         |    + 0.2 * (1.0 -
         |        length(regexp_replace(text, '[^.,;:!?]', '', 'g'))*1.0
         |        / greatest(length(text), 1))
         |    + 0.1 * least(($en*1.0 / greatest(len(w), 1)) * 5.0, 1.0), 6)
         |    AS quality,
         |  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
         |FROM t""".stripMargin
    },

    "t_split" ->
      s"""WITH b AS (SELECT doc_id,
         |  ${graft.functions.PortableHash.phashSql("doc_id")} % 100
         |    AS bucket FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin,

    "t_curate" -> {
      def mk(markers: Seq[String]): String =
        "len(list_filter(w, x -> x IN (" +
          markers.map(m => s"'$m'").mkString(",") + ")))"
      val en = mk(Seq("the", "a", "of", "and", "is"))
      val es = mk(Seq("el", "la", "los", "de", "y"))
      val de = mk(Seq("der", "die", "das", "und", "ist"))
      val fr = mk(Seq("le", "la", "les", "et", "est"))
      s"""WITH t AS (SELECT doc_id, text,
         |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1) < 10
         |    THEN 'und'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 4 THEN 'en'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 3 THEN 'es'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 2 THEN 'de'
         |    ELSE 'fr' END AS lang,
         |  round(0.4 * least(len(w)/64.0, 1.0)
         |    + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0
         |        / greatest(length(text), 1))
         |    + 0.2 * (1.0 -
         |        length(regexp_replace(text, '[^.,;:!?]', '', 'g'))*1.0
         |        / greatest(length(text), 1))
         |    + 0.1 * least(($en*1.0 / greatest(len(w), 1)) * 5.0, 1.0), 6)
         |    AS quality FROM t),
         |r AS (SELECT doc_id, lang, quality,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY quality DESC, doc_id) AS rank FROM s)
         |SELECT doc_id, lang, quality, rank FROM r
         |WHERE rank <= $CURATE_K""".stripMargin
    },

    // decontamination: shares the corpus' one shingle definition
    // (TOKS_SH_CTES); benchmark slice = doc_id % 10 = 7; sh is DISTINCT
    // per (doc_id, shingle) so count(*) counts distinct shared shingles
    "t_decontam" ->
      s"""WITH $TOKS_SH_CTES,
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 7),
         |hits AS (SELECT sh.doc_id, count(*)::BIGINT AS n_hits
         |  FROM sh JOIN bench USING (s)
         |  WHERE sh.doc_id % 10 <> 7 GROUP BY 1)
         |SELECT d.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
         |  (CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END)::BIGINT
         |    AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % 10 <> 7""".stripMargin,

    "t_mix" -> {
      def mk(markers: Seq[String]): String =
        "len(list_filter(w, x -> x IN (" +
          markers.map(m => s"'$m'").mkString(",") + ")))"
      val en = mk(Seq("the", "a", "of", "and", "is"))
      val es = mk(Seq("el", "la", "los", "de", "y"))
      val de = mk(Seq("der", "die", "das", "und", "ist"))
      val fr = mk(Seq("le", "la", "les", "et", "est"))
      val tgt = MIX_TARGETS.map { case (l, w) => s"WHEN '$l' THEN $w" }
        .mkString(" ")
      s"""WITH t AS (SELECT doc_id, text,
         |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1) < 10
         |    THEN 'und'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 4 THEN 'en'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 3 THEN 'es'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 2 THEN 'de'
         |    ELSE 'fr' END AS lang FROM t),
         |c AS (SELECT lang, count(*) AS n FROM s GROUP BY 1),
         |tot AS (SELECT sum(n) AS total FROM c)
         |SELECT s.doc_id, s.lang,
         |  round((CASE s.lang $tgt ELSE 0.0 END)
         |    * tot.total / c.n, 6) AS weight
         |FROM s JOIN c USING (lang) CROSS JOIN tot""".stripMargin
    },

    // repetition metrics: the oracle may use the unnest/groupBy form —
    // oracles need correctness, not the engine's map-only scale shape
    "t_rep" ->
      """WITH t AS (SELECT doc_id,
        |  regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |u AS (SELECT doc_id, unnest(w) AS tok FROM t),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY 1, 2),
        |m AS (SELECT doc_id, max(c) AS top FROM cnt GROUP BY 1)
        |SELECT t.doc_id, len(w)::BIGINT AS n_tokens,
        |  round(len(list_distinct(w))*1.0 / greatest(len(w), 1), 6)
        |    AS distinct_ratio,
        |  round(m.top*1.0 / greatest(len(w), 1), 6) AS top_token_ratio
        |FROM t JOIN m USING (doc_id)""".stripMargin,

    "t_resample" -> {
      def mk(markers: Seq[String]): String =
        "len(list_filter(w, x -> x IN (" +
          markers.map(m => s"'$m'").mkString(",") + ")))"
      val en = mk(Seq("the", "a", "of", "and", "is"))
      val es = mk(Seq("el", "la", "los", "de", "y"))
      val de = mk(Seq("der", "die", "das", "und", "ist"))
      val fr = mk(Seq("le", "la", "les", "et", "est"))
      val tgt = MIX_TARGETS.map { case (l, w) => s"WHEN '$l' THEN $w" }
        .mkString(" ")
      s"""WITH t AS (SELECT doc_id, text,
         |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1) < 10
         |    THEN 'und'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 4 THEN 'en'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 3 THEN 'es'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 2 THEN 'de'
         |    ELSE 'fr' END AS lang FROM t),
         |c AS (SELECT lang, count(*) AS n FROM s GROUP BY 1),
         |tot AS (SELECT sum(n) AS total FROM c),
         |wt AS (SELECT s.doc_id, s.lang,
         |  round((CASE s.lang $tgt ELSE 0.0 END)
         |    * tot.total / c.n, 6) AS weight
         |  FROM s JOIN c USING (lang) CROSS JOIN tot),
         |k AS (SELECT doc_id, lang,
         |  (floor(weight) + CASE WHEN
         |     ${graft.functions.PortableHash.phashSql("doc_id")} % 1000000
         |       < floor((weight - floor(weight)) * 1000000)
         |     THEN 1 ELSE 0 END)::BIGINT AS copies FROM wt)
         |SELECT doc_id, lang, i AS copy
         |FROM k, unnest(generate_series(1, copies)) AS u(i)
         |WHERE copies > 0""".stripMargin
    },

    // chunking: windows of 32 tokens every 24; list_slice is 1-based
    // inclusive and clamps at the end like Spark's slice
    "t_chunks" ->
      """WITH t AS (SELECT doc_id,
        |  regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |ns AS (SELECT doc_id, w,
        |  (ceil(greatest(len(w) - 32, 0) / 24.0) + 1)::BIGINT AS n_starts
        |  FROM t)
        |SELECT doc_id, i AS chunk_idx,
        |  len(list_slice(w, i*24 + 1, i*24 + 32))::BIGINT
        |    AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(w, i*24 + 1, i*24 + 32), ' '))
        |    AS chunk_hash
        |FROM ns, unnest(generate_series(0, n_starts - 1)) AS u(i)"""
        .stripMargin,

    "t_pii" -> {
      val e = graft.text.TextAnalysis.EMAIL_RE
      val ip = graft.text.TextAnalysis.IP_RE
      val ph = graft.text.TextAnalysis.PHONE_RE
      s"""WITH r AS (SELECT doc_id, text,
         |  regexp_replace(regexp_replace(text, '$e', '<EMAIL>', 'g'),
         |    '$ip', '<IP>', 'g') AS no_email_ip FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$e'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(text, '$ip'))::BIGINT AS n_ips,
         |  len(regexp_extract_all(no_email_ip, '$ph'))::BIGINT AS n_phones,
         |  md5(regexp_replace(no_email_ip, '$ph', '<PHONE>', 'g'))
         |    AS redacted_fingerprint
         |FROM r""".stripMargin
    },

    // packing: the oracle states the plain single-window cumsum; the
    // engine's distributed prefix sum is semantically identical
    "t_pack" ->
      s"""WITH t AS (SELECT doc_id,
         |  len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
         |    AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS cum FROM t)
         |SELECT doc_id, n_tokens, (cum // $PACK_BUDGET)::BIGINT AS bin
         |FROM c""".stripMargin,

    "t_corpus" -> {
      def mk(markers: Seq[String]): String =
        "len(list_filter(w, x -> x IN (" +
          markers.map(m => s"'$m'").mkString(",") + ")))"
      val en = mk(Seq("the", "a", "of", "and", "is"))
      val es = mk(Seq("el", "la", "los", "de", "y"))
      val de = mk(Seq("der", "die", "das", "und", "ist"))
      val fr = mk(Seq("le", "la", "les", "et", "est"))
      s"""WITH t AS (SELECT doc_id, text,
         |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
         |s AS (SELECT doc_id, len(w)::BIGINT AS n,
         |  CASE WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1) < 10
         |    THEN 'und'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 4 THEN 'en'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 3 THEN 'es'
         |    WHEN greatest($en*10+4, $es*10+3, $de*10+2, $fr*10+1)
         |      % 10 = 2 THEN 'de'
         |    ELSE 'fr' END AS lang,
         |  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
         |  round(0.4 * least(len(w)/64.0, 1.0)
         |    + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0
         |        / greatest(length(text), 1))
         |    + 0.2 * (1.0 -
         |        length(regexp_replace(text, '[^.,;:!?]', '', 'g'))*1.0
         |        / greatest(length(text), 1))
         |    + 0.1 * least(($en*1.0 / greatest(len(w), 1)) * 5.0, 1.0), 6)
         |    AS q FROM t)
         |SELECT count(*)::BIGINT AS n_docs,
         |  sum(n)::BIGINT AS n_tokens,
         |  count(DISTINCT lang)::BIGINT AS n_langs,
         |  round(1.0 - count(DISTINCT fp)*1.0 / count(*), 6) AS dup_rate,
         |  round(avg(q), 6) AS mean_quality
         |FROM s""".stripMargin
    },

    "t_vocab" ->
      s"""WITH u AS (SELECT doc_id,
         |  unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
         |  FROM documents),
         |c AS (SELECT token, count(*)::BIGINT AS n_occurrences,
         |  count(DISTINCT doc_id)::BIGINT AS n_docs FROM u GROUP BY 1),
         |r AS (SELECT token, n_occurrences, n_docs,
         |  row_number() OVER (ORDER BY n_occurrences DESC, token)::BIGINT
         |    AS rank FROM c)
         |SELECT token, n_occurrences, n_docs, rank FROM r
         |WHERE rank <= $VOCAB_K""".stripMargin,

    "d_exact_dup" ->
      """WITH fp AS (SELECT doc_id,
        |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |g AS (SELECT fp, min(doc_id) AS canonical_id,
        |  count(*)::BIGINT AS group_size FROM fp GROUP BY fp)
        |SELECT f.doc_id, g.canonical_id, g.group_size
        |FROM fp f JOIN g USING (fp)""".stripMargin,

    "d_ngram_jaccard" ->
      s"""WITH $TOKS_SH_CTES,
         |dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
         |capped AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfreq USING (s)
         |  WHERE df <= $NGRAM_DF_CAP),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b
         |  ON a.s = b.s AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s GROUP BY 1, 2)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT c.doc_a, c.doc_b,
         |    round(coalesce(i.i, 0)*1.0 / (sa.n + sb.n - coalesce(i.i, 0)),
         |      6) AS jaccard
         |  FROM cand c
         |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  JOIN sizes sa ON sa.doc_id = c.doc_a
         |  JOIN sizes sb ON sb.doc_id = c.doc_b)
         |WHERE jaccard >= 0.5""".stripMargin,

    "d_minhash_lsh" ->
      s"""WITH $MINHASH_CTES,
         |est AS (SELECT c.doc_a, c.doc_b,
         |  len(list_filter(generate_series(1, 16),
         |    i -> sa.mhs[i] = sb.mhs[i])) * 1.0 / 16 AS est_jaccard
         |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
         |  JOIN sig sb ON sb.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, est_jaccard, jaccard FROM (
         |  SELECT e.doc_a, e.doc_b, e.est_jaccard,
         |    round(coalesce(i.i, 0)*1.0 / (sa.n + sb.n - coalesce(i.i, 0)),
         |      6) AS jaccard
         |  FROM est e
         |  LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
         |  JOIN sizes sa ON sa.doc_id = e.doc_a
         |  JOIN sizes sb ON sb.doc_id = e.doc_b)
         |WHERE jaccard >= 0.5""".stripMargin,

    // pair graph (same CTEs) -> undirected closure via recursive CTE ->
    // per-component min doc_id + size: the DuckDB statement of
    // Dedup.dupGroups (LSH pairs + WCC).
    "d_dup_groups" ->
      s"""WITH RECURSIVE $MINHASH_CTES,
         |pairs AS (SELECT doc_a, doc_b FROM (
         |  SELECT c.doc_a, c.doc_b,
         |    coalesce(i.i, 0)*1.0 / (sa.n + sb.n - coalesce(i.i, 0))
         |      AS jaccard
         |  FROM cand c
         |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  JOIN sizes sa ON sa.doc_id = c.doc_a
         |  JOIN sizes sb ON sb.doc_id = c.doc_b)
         | WHERE jaccard >= 0.5),
         |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         | UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, r) AS (SELECT doc_id, doc_id FROM documents
         | UNION SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id),
         |comp AS (SELECT id AS doc_id, min(r) AS group_id FROM reach
         | GROUP BY id),
         |gs AS (SELECT group_id, count(*)::BIGINT AS group_size FROM comp
         | GROUP BY 1)
         |SELECT c.doc_id, c.group_id, g.group_size
         |FROM comp c JOIN gs g USING (group_id)""".stripMargin,

    // the end contract recanonicalize must restore: canonical = GLOBAL min
    // doc_id per fingerprint (batch Dedup.exact), dup_rank = arrival-order
    // rank under the same (batch = doc_id % 3, doc_id) order the Spark side
    // replays. The staged intermediate (running min) is deliberately absent
    // here — the oracle states the reconciled truth, the Spark side has to
    // reach it through the real recanonicalize job.
    "d_stream_recanon" ->
      s"""WITH fp AS (SELECT doc_id,
         |  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
         |  doc_id % $STREAM_BATCHES AS batch FROM documents),
         |r AS (SELECT doc_id, fingerprint,
         |  (row_number() OVER (PARTITION BY fingerprint
         |     ORDER BY batch, doc_id) - 1)::BIGINT AS dup_rank,
         |  min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id
         |  FROM fp)
         |SELECT doc_id, canonical_id,
         |  (CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END)::BIGINT
         |    AS is_duplicate,
         |  dup_rank, fingerprint FROM r""".stripMargin,

    "d_simhash_pairs" ->
      s"""WITH toks AS (SELECT doc_id,
         |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
         |wh AS (SELECT doc_id, ${phashSql("x")} AS h
         |  FROM toks, unnest(w) AS u(x)),
         |votes AS (SELECT doc_id, b,
         |  sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM wh, unnest(generate_series(0, 59)) AS g(b) GROUP BY 1, 2),
         |sig AS (SELECT doc_id,
         |  sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
         |    AS simhash FROM votes GROUP BY 1),
         |banded AS (SELECT doc_id, simhash, b AS band,
         |  (simhash >> (b*15)) & 32767 AS bucket
         |  FROM sig, unnest(generate_series(0, 3)) AS g(b))
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    bit_count(xor(x.simhash, y.simhash))::INT AS hamming
         |  FROM banded x JOIN banded y
         |  ON x.band = y.band AND x.bucket = y.bucket
         |    AND x.doc_id < y.doc_id)
         |WHERE hamming <= $SIMHASH_MAX_HAMMING""".stripMargin,

    "d_embed_dup" ->
      s"""WITH $EMB_CTE,
         |${planesBucketsSql(EMB_TABLES, EMB_PLANES, EMB_DIMS)},
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM buckets a JOIN buckets b
         |  ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT c.id_a, c.id_b,
         |    round(list_dot_product(ea.emb, eb.emb) / (ea.norm * eb.norm),
         |      4) AS cosine
         |  FROM cand c JOIN e ea ON ea.vec_id = c.id_a
         |  JOIN e eb ON eb.vec_id = c.id_b)
         |WHERE cosine >= 0.4""".stripMargin,

    "s_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |    AS norm FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm
        |  FROM e WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round(list_dot_product(q.q_emb, e.emb) / (q.q_norm * e.norm), 4)
        |    AS cosine
        |  FROM e JOIN q ON e.vec_id <> q.query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, neighbor_id ASC)::BIGINT AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cosine, rank FROM r
        |WHERE rank <= 5""".stripMargin,

    "s_ann_lsh" -> {
      // Hamming-0/1/2 probe ring — must mirror Similarity.lshTopK's masks
      // (probeHamming = 2) exactly
      val probes = ("bucket" +:
        (0 until ANN_PLANES).map(p => s"xor(bucket, ${1L << p})")) ++
        (for (p <- 0 until ANN_PLANES; q <- p + 1 until ANN_PLANES)
          yield s"xor(bucket, ${(1L << p) | (1L << q)})")
      s"""WITH $EMB_CTE,
         |${planesBucketsSql(ANN_TABLES, ANN_PLANES, EMB_DIMS)},
         |eb AS (SELECT e.vec_id, e.emb, e.norm, b.t, b.bucket
         |  FROM e JOIN buckets b USING (vec_id)),
         |qp AS (SELECT vec_id AS query_id, t, emb AS q_emb,
         |    norm AS q_norm, pr.probe AS bucket
         |  FROM eb, unnest([${probes.mkString(", ")}]) AS pr(probe)
         |  WHERE vec_id < 10),
         |cand AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
         |  FROM eb c JOIN qp q ON c.t = q.t AND c.bucket = q.bucket
         |    AND c.vec_id <> q.query_id),
         |scored AS (SELECT cand.query_id, cand.neighbor_id,
         |    round(list_dot_product(eq.emb, en.emb)
         |      / (eq.norm * en.norm), 4) AS cosine
         |  FROM cand JOIN e eq ON eq.vec_id = cand.query_id
         |  JOIN e en ON en.vec_id = cand.neighbor_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, neighbor_id ASC)::BIGINT AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cosine, rank FROM r
         |WHERE rank <= 5""".stripMargin
    },

    "s_ann_ivf" ->
      // mirrors Similarity.ivfTopK exactly: seeded centroids (vec_id <
      // nlist), rounded-cosine argmax assignment (smaller cid on ties),
      // nprobe nearest cells per query, exact rerank within probed cells
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         |    AS norm FROM embeddings),
         |c AS (SELECT vec_id AS cid, emb AS c_emb, norm AS c_norm
         |  FROM e WHERE vec_id < $IVF_NLIST),
         |a AS (SELECT e.vec_id, e.emb, e.norm, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      round(list_dot_product(e.emb, c.c_emb)
         |        / (e.norm * c.c_norm), 4) DESC, c.cid ASC) AS rn
         |  FROM e CROSS JOIN c),
         |inv AS (SELECT vec_id, emb, norm, cid AS cell FROM a WHERE rn = 1),
         |qp AS (SELECT e.vec_id AS query_id, e.emb AS q_emb,
         |    e.norm AS q_norm, c.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      round(list_dot_product(e.emb, c.c_emb)
         |        / (e.norm * c.c_norm), 4) DESC, c.cid ASC) AS pr
         |  FROM e CROSS JOIN c WHERE e.vec_id < 10),
         |p AS (SELECT query_id, q_emb, q_norm, cell FROM qp
         |  WHERE pr <= $IVF_NPROBE),
         |scored AS (SELECT p.query_id, i.vec_id AS neighbor_id,
         |    round(list_dot_product(p.q_emb, i.emb)
         |      / (p.q_norm * i.norm), 4) AS cosine
         |  FROM p JOIN inv i ON i.cell = p.cell AND i.vec_id <> p.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, neighbor_id ASC)::BIGINT AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cosine, rank FROM r
         |WHERE rank <= 5""".stripMargin,

    "m_blob_meta" ->
      """SELECT doc_id, 'application/fake-image' AS media_type,
        |  octet_length(encode(text))::BIGINT AS n_bytes
        |FROM documents""".stripMargin,

    "m_features" -> {
      val laneSums = (0 until 8).map(j =>
        s"coalesce(sum(CASE WHEN lane = $j THEN byte END), 0) AS s$j")
      val feats = (0 until 8).map(j =>
        s"round(coalesce(f.s$j, 0) / 255.0, 4) AS f$j")
      s"""WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
         |  octet_length(encode(text))::BIGINT AS n FROM documents),
         |bytes AS (SELECT doc_id,
         |    (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
         |      + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1)
         |      AS byte,
         |    (i-1) % 8 AS lane
         |  FROM b, unnest(generate_series(1, n::INT)) AS t(i)),
         |f AS (SELECT doc_id, ${laneSums.mkString(", ")}
         |  FROM bytes GROUP BY 1)
         |SELECT b.doc_id, b.n AS n_bytes,
         |  (16 + b.n % 16)::BIGINT AS width,
         |  (16 + (b.n // 16) % 16)::BIGINT AS height,
         |  ${feats.mkString(",\n  ")}
         |FROM b LEFT JOIN f USING (doc_id)""".stripMargin
    },

    // nearest-neighbor 4x4 resize: source pixel (r,c) is payload byte
    // ((r*h/4)*w + c*w/4) mod n under FakeDecoder's w/h rule — the exact
    // integer arithmetic Multimodal.resize runs; empty payloads resize to
    // all-zero pixels (the LEFT JOIN + coalesce path)
    "m_resize" -> {
      val pcols = (0 until 16).map(j =>
        s"coalesce(max(CASE WHEN v.p = $j THEN v.val END), 0)::BIGINT AS p$j")
      s"""WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
         |    octet_length(encode(text))::BIGINT AS n FROM documents),
         |px AS (SELECT b.doc_id, (r * 4 + c) AS p,
         |    ((r * (16 + (b.n // 16) % 16) // 4) * (16 + b.n % 16)
         |      + (c * (16 + b.n % 16) // 4)) % b.n AS idx
         |  FROM b, unnest(generate_series(0, 3)) AS tr(r),
         |       unnest(generate_series(0, 3)) AS tc(c)
         |  WHERE b.n > 0),
         |v AS (SELECT px.doc_id, px.p,
         |    (strpos('0123456789ABCDEF',
         |       substr(b.h, (2*(px.idx+1)-1)::INT, 1)) - 1) * 16
         |      + (strpos('0123456789ABCDEF',
         |         substr(b.h, (2*(px.idx+1))::INT, 1)) - 1) AS val
         |  FROM px JOIN b USING (doc_id))
         |SELECT b.doc_id,
         |  (16 + b.n % 16)::BIGINT AS width,
         |  (16 + (b.n // 16) % 16)::BIGINT AS height,
         |  ${pcols.mkString(",\n  ")}
         |FROM b LEFT JOIN v USING (doc_id)
         |GROUP BY 1, 2, 3""".stripMargin
    },

    // every-2nd 32-byte frame: group payload bytes by (i-1)/32, keep even
    // frame indices, count + sum — Multimodal.sampleFrames restated
    "m_frames" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text))::BIGINT AS n FROM documents),
        |bytes AS (SELECT b.doc_id, (i - 1) // 32 AS f,
        |    (strpos('0123456789ABCDEF', substr(b.h, 2*i-1, 1)) - 1) * 16
        |      + (strpos('0123456789ABCDEF', substr(b.h, 2*i, 1)) - 1)
        |      AS byte
        |  FROM b, unnest(generate_series(1, b.n::INT)) AS t(i))
        |SELECT doc_id, f::BIGINT AS frame_idx, count(*)::BIGINT AS frame_len,
        |  sum(byte)::BIGINT AS byte_sum
        |FROM bytes WHERE f % 2 = 0 GROUP BY 1, 2""".stripMargin
  )
}
