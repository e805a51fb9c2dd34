package graft.algos

import graft.graph.LinkGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Cut
import org.apache.spark.sql.internal.SQLConf

/** Exact global triangle count.
  *
  * The reference counts each triangle once via the ordering u > v > w with
  * merge-intersection of sorted adjacency lists on a deduplicated,
  * self-loop-free undirected CSR
  * (/root/reference/crates/algos/src/triangle_count.rs:22-86), after an
  * optional degree-descending relabel that tames hub intersections
  * (triangle_count.rs:12-20, graph_ops.rs:511-638).
  *
  * Distributed formulation: orient every undirected edge from the
  * lower-(degree, id) endpoint to the higher one — the direct analogue of the
  * degree relabel (SURVEY.md §2.5) — so each triangle is an oriented DAG
  * u→v, u→w, v→w counted exactly once. Two equivalent counting shapes,
  * switched on the measured simple-edge count (the repo's AUTO-lever
  * pattern, like broadcast-vs-shuffle supersteps):
  *
  *  - below [[wedgeMaxEdges]]: the three-way WEDGE JOIN
  *    (e1(u,v) ⋈ e2(v,w) on v, closed by e3(u,w)) — fewest jobs, fastest
  *    on correctness/bench-suite graphs (round-6: 0.4–0.6 s less
  *    fixed overhead at sf0.1 than the intersection shape);
  *  - at or above it: ADJACENCY-INTERSECTION ([[edgesWithAdjacency]]) —
  *    the only scale-safe shape. Orientation bounds OUT-degree by
  *    O(sqrt m) but not in-degree, and the wedge join shuffles
  *    Σ_v indeg(v)·outdeg(v) materialized rows: 9.87 BILLION on the
  *    112M-raw-edge Zipf bench graph (max oriented in-degree 1.21M),
  *    which OOM-killed a 24 GiB driver; the intersection shape finished
  *    the same graph in 125.7 s (round-6 TcBench, BASELINE.md).
  *
  * Counts are exact and identical to the reference on the Deduplicated
  * layout (its correctness precondition, SURVEY.md §7.4-3); both shapes
  * are spec'd equal on random graphs (GoldenAlgosSpec forces the
  * intersection path below the threshold).
  */
object TriangleCount {

  /** Oriented edge table (each undirected simple edge exactly once, pointing
    * low-degree -> high-degree).
    */
  def orientedEdges(graph: LinkGraph): DataFrame = {
    val spark = graph.edges.sparkSession
    import spark.implicits._
    // (src < dst), dedup, no loops — cut once: the degree and
    // orientation branches below reference it three times, and the
    // upstream derivation is not cached
    val simple = Cut(graph.canonicalUndirected)
    // undirected degree over the simple graph
    val deg = simple.select($"src".as("id"))
      .union(simple.select($"dst".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("deg"))
    val withDeg = simple
      .join(deg.withColumnRenamed("id", "src")
        .withColumnRenamed("deg", "sdeg"), Seq("src"))
      .join(deg.withColumnRenamed("id", "dst")
        .withColumnRenamed("deg", "ddeg"), Seq("dst"))
    withDeg.select(
      when($"sdeg" < $"ddeg" ||
        ($"sdeg" === $"ddeg" && $"src" < $"dst"), $"src")
        .otherwise($"dst").as("a"),
      when($"sdeg" < $"ddeg" ||
        ($"sdeg" === $"ddeg" && $"src" < $"dst"), $"dst")
        .otherwise($"src").as("b"))
  }

  /** Edge table decorated with the two endpoint adjacency arrays
    * (sorted oriented out-neighbor lists) — the shared core of [[run]]
    * and [[perVertex]].
    *
    * Why adjacency-intersection instead of the wedge join
    * `e1(u,v) ⋈ e2(v,w) ⋈ e3(u,w)` (the round-1..5 formulation): the
    * wedge join MATERIALIZES Σ_v indeg(v)·outdeg(v) rows through a
    * shuffle before the closing join can drop them. Orientation caps
    * OUT-degree at O(sqrt m) but leaves in-degree unbounded — every
    * edge of a hub orients TOWARD it — so a hub-heavy graph explodes:
    * on the 112M-raw-edge Zipf bench graph (34.4M simple edges, max
    * oriented out-degree 937, max oriented IN-degree 1.21M) the wedge
    * shuffle is 9.87 BILLION rows and OOM-killed a 24 GiB driver
    * (round-6 TcBench measurement; BASELINE.md). Here the only
    * shuffled intermediates are the m-row edge table and the adjacency
    * arrays (Σ sizes = m entries, ~8 bytes each); the
    * wedge-sized work still happens — Σ_e (|adj(u)|+|adj(v)|) hash-set
    * probes inside `array_intersect` — but as STREAMED per-row compute
    * feeding a partial aggregation in the same stage, never as shuffle
    * rows (guide §2.3 "shuffle keys and metadata instead of payloads",
    * §8's decide-small/move-once discipline). Same triangles: each
    * oriented DAG triangle u→v, u→w, v→w is found exactly once at its
    * base edge (u,v) as common out-neighbor w = adj(u) ∩ adj(v); the
    * arrays are duplicate-free (simple graph), so set-semantics
    * `array_intersect` is exact.
    */
  private def edgesWithAdjacency(oriented: DataFrame): DataFrame = {
    val spark = oriented.sparkSession
    import spark.implicits._
    val adj = oriented.groupBy($"a")
      .agg(sort_array(collect_list($"b")).as("nbrs"))
    oriented
      .join(adj.select($"a".as("u"), $"nbrs".as("u_nbrs")), $"a" === $"u")
      .join(adj.select($"a".as("v"), $"nbrs".as("v_nbrs")), $"b" === $"v")
  }

  /** Simple-edge count at which counting switches from the wedge join to
    * adjacency-intersection. Any value well above the correctness-suite
    * graphs and well below the measured blowup scale works — the lever
    * trades ~0.5 s of fixed job overhead (small graphs) against
    * wedge-shuffle volume that grows with hub in-degree (large graphs);
    * both sides compute identical results (spec'd).
    */
  val wedgeMaxEdges: Long = 1000000L

  /** Triangle rows (u, v, w) via the small-graph wedge join over the
    * oriented cut of `rows` rows. A cut carries no size estimate, so the
    * joins hint the broadcasts the session's threshold would have chosen
    * for that size (Spark's own estimate: 8 bytes of row header plus 8
    * per long); unhinted, AQE shuffles both sides first and broadcasts
    * only after.
    */
  private def wedgeTriangles(oriented: DataFrame, rows: Long): DataFrame = {
    val spark = oriented.sparkSession
    import spark.implicits._
    val small: DataFrame => DataFrame =
      if (rows * 24L <= SQLConf.get.autoBroadcastJoinThreshold) broadcast(_)
      else identity
    val e1 = oriented.select($"a".as("u"), $"b".as("v"))
    val e2 = oriented.select($"a".as("v"), $"b".as("w"))
    val e3 = oriented.select($"a".as("u"), $"b".as("w"))
    e1.join(small(e2), Seq("v")).join(small(e3), Seq("u", "w"))
      .select($"u", $"v", $"w")
  }

  /** [[orientedEdges]] hash(a)-partitioned and cut (the cut declares that
    * layout, so the adjacency aggregation and its joins on `a` need no
    * exchange of the edge side), with its row count, which picks the
    * formulation, observed inside the cut's own action. A cut, NOT
    * persist(): [[perVertex]]'s returned plan outlives the call, so a
    * persist could never be unpersisted there and a long-running caller
    * (the daemon's repeated COMPUTE) would pin one cached table per call;
    * cut blocks are released by the ContextCleaner when the frame is GC'd.
    */
  private def orientedCut(graph: LinkGraph): (DataFrame, Long) = {
    val (oriented, rows) = Cut.measured(
      orientedEdges(graph).repartition(graph.numPartitions, col("a")),
      Seq(count(lit(1))))
    (oriented, rows.getLong(0))
  }

  def run(graph: LinkGraph, wedgeMax: Long = wedgeMaxEdges): Long = {
    val spark = graph.edges.sparkSession
    import spark.implicits._
    val (oriented, rows) = orientedCut(graph)
    if (rows < wedgeMax) wedgeTriangles(oriented, rows).count()
    else
      edgesWithAdjacency(oriented)
        .select(size(array_intersect($"u_nbrs", $"v_nbrs")).as("c"))
        .agg(coalesce(sum($"c"), lit(0L)).as("t"))
        .first().getLong(0)
  }

  /** Per-vertex triangle counts (each vertex credited once per incident
    * triangle): triangle corners from whichever formulation [[run]]'s
    * size rule picks (in the intersection shape only the corners are
    * materialized — output-proportional, T rows for T triangles, never
    * wedge-proportional), exploded and counted.
    */
  def perVertex(graph: LinkGraph, wedgeMax: Long = wedgeMaxEdges): DataFrame = {
    val spark = graph.edges.sparkSession
    import spark.implicits._
    val (oriented, rows) = orientedCut(graph)
    val tris =
      if (rows < wedgeMax) wedgeTriangles(oriented, rows)
      else
        edgesWithAdjacency(oriented)
          .select($"a".as("u"), $"b".as("v"),
            explode(array_intersect($"u_nbrs", $"v_nbrs")).as("w"))
    val corners = tris.select(explode(array($"u", $"v", $"w")).as("id"))
    graph.vertices
      .join(corners.groupBy($"id").agg(count(lit(1)).as("triangles")),
        Seq("id"), "left")
      .na.fill(0L, Seq("triangles"))
  }
}
