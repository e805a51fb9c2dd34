package graft

import graft.algos.{LabelPropagation, Wcc}
import graft.fixtures.Fixtures
import graft.graph.LinkGraph
import graft.sources.EventEdges
import graft.text.TextAnalysis
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExecutedPlans

/** Physical-plan shape assertions: the plans we rely on for 100TB scale
  * must not silently regress — column pruning reaching the parquet scan,
  * broadcast gather joins, whole-stage codegen over the text expressions.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("t_stats prunes the documents scan to (doc_id, text)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(TextAnalysis.stats(docs))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"),
      readSchema)
    assert(!readSchema.contains("source") && !readSchema.contains("lang"),
      s"unpruned columns in scan: $readSchema")
  }

  test("event edge derivation prunes events scan (no props/event_type)") {
    val plan = planOf(EventEdges.edges(spark, sf))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") &&
      !readSchema.contains("event_type"),
      s"unpruned columns in scan: $readSchema")
  }

  test("PageRank gather join broadcasts the vertex state") {
    val g = LinkGraph(EventEdges.edges(spark, sf))
    val edges = g.multiplicities
    val senders = g.degrees.filter(col("out_deg") > 0)
      .select(col("id"), lit(0.5).as("out_score"))
    val gathered = edges
      .join(broadcast(senders), edges("src") === senders("id"))
      .groupBy(edges("dst").as("id"))
      .agg(sum(col("out_score")).as("in_sum"))
    val plan = planOf(gathered)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // partial (map-side) aggregation before the shuffle — the hub-skew
    // absorber: HashAggregate(partial) must appear under the exchange.
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("text stats are map-only: no exchange in the plan") {
    // the higher-order lambdas (filter/aggregate over token arrays) fall
    // back to interpreted projection — acceptable for a narrow map — but a
    // shuffle appearing here would be a scale regression.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(TextAnalysis.stats(docs))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("round-5 row-local text ops are map-only: no exchange in the plan") {
    // repetitionStats (sorted-fold multiplicity), chunk (explode over
    // window starts) and piiScrub (regexp count/replace chain) are all
    // pure functions of one row — a shuffle appearing in any of them
    // would be a scale regression (the corpus-sized token stream would
    // start moving).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Seq(
      "repetitionStats" -> TextAnalysis.repetitionStats(docs),
      "chunk" -> TextAnalysis.chunk(docs),
      "piiScrub" -> TextAnalysis.piiScrub(docs)).foreach {
      case (name, df) =>
        val plan = planOf(df)
        assert(!plan.contains("Exchange"),
          s"$name shuffles:\n${plan.take(2000)}")
    }
  }

  test("decontaminate broadcasts the benchmark shingle set; the per-doc " +
      "count is the only corpus aggregate") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.text.Curation.decontaminate(docs))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("vocabulary cuts top-k with distributed TakeOrdered and partial " +
      "aggregation, never a global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(TextAnalysis.vocabulary(docs, 50))
    // the k-cut must be TakeOrderedAndProject (per-partition heads +
    // driver merge), not Sort + GlobalLimit over a full global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // hub tokens ('the') must pre-aggregate map-side before the shuffle
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("packSequences carries no corpus-wide single-task window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.text.Curation.packSequences(docs, 256L))
    // the per-partition cumsum window partitions by __pid — an empty
    // partitionBy (the naive global cumsum) would plan a single-task
    // Window over an Exchange SinglePartition
    assert(!plan.contains("SinglePartition"),
      s"single-task window in packSequences:\n${plan.take(3000)}")
  }

  test("graft_dot expression participates in codegen (no fallback)") {
    import graft.sim.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val e = Similarity.withNorm(emb)
    val plan = planOf(e)
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("graft_dot")),
      s"graft_dot fell out of codegen:\n${plan.take(2000)}")
  }

  test("filter pushdown reaches the parquet scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 40.0)
      .select(col("l_orderkey"))
    val plan = planOf(li)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,40.0)]"), plan.take(2000))
  }

  test("embedding dedup executes without a cartesian-class join") {
    // round-1 verdict #4: the all-pairs inequality join was the one
    // scale-killer plan; the LSH-blocked operator must stay equi-join-only.
    val plan = planOf(SparkEntry.queries("d_embed_dup")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cartesian-class join in d_embed_dup:\n${plan.take(3000)}")
  }

  test("ngram jaccard query executes without a cartesian-class join") {
    val plan = planOf(SparkEntry.queries("d_ngram_jaccard")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cartesian-class join in d_ngram_jaccard:\n${plan.take(3000)}")
  }

  test("dup groups executes without a cartesian-class join") {
    // LSH pair generation + WCC closure: every join must stay equi-join
    // (bucket-local candidates, keyed component propagation)
    val plan = planOf(SparkEntry.queries("d_dup_groups")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cartesian-class join in d_dup_groups:\n${plan.take(3000)}")
  }

  test("SCC claim plan broadcasts vertex state, no cartesian join") {
    val plan = planOf(SparkEntry.queries("g_scc")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cartesian-class join in g_scc:\n${plan.take(3000)}")
  }

  test("relabel map has no single-partition global window") {
    // round-1 verdict #3: row_number over an unpartitioned Window shuffles
    // every vertex into one task. The distributed dense rank must plan with
    // no Window operator at all.
    val g = LinkGraph(EventEdges.edges(spark, sf))
    val plan = planOf(g.relabelMap)
    // the parallel (hour, minute)-partitioned lag windows of the edge
    // derivation are fine; the forbidden shape is the rank's global window
    assert(!plan.contains("row_number"),
      s"global row_number window in relabelMap plan:\n${plan.take(3000)}")
    // the range partition + per-partition index now materialize in the
    // rank's internal checkpoint job (round 4: persist -> localCheckpoint,
    // GC-reclaimed), so the final plan bottoms at the checkpointed RDD; the
    // forbidden shape is any single-partition exchange downstream
    assert(!plan.toLowerCase.contains("singlepartition"),
      s"single-partition exchange in relabelMap plan:\n${plan.take(3000)}")
  }

  /** Shuffles of a cut edge table: exchanges whose chain of single-child
    * operators ends at an RDD scan with a `dst` column (a round's state
    * scans have none).
    */
  private def edgeExchanges(plan: SparkPlan): Seq[SparkPlan] = {
    def overEdgeScan(p: SparkPlan): Boolean = p match {
      case scan: RDDScanExec => scan.output.exists(_.name == "dst")
      case _: Exchange | _: QueryStageExec => false
      case _ if p.children.size == 1 => overEdgeScan(p.children.head)
      case _ => false
    }
    collect(plan) { case e: ShuffleExchangeLike if overEdgeScan(e.child) => e }
  }

  /** The final plans of the shuffle-mode rounds `run` executes (those that
    * shuffle-hash join the state to the edges), with AQE coalescing on and
    * off and with the graph's partition count equal to the session's and
    * not, each with a description of its setting.
    */
  private def shuffleRounds(
      run: LinkGraph => Unit): Seq[(String, SparkPlan)] = {
    val edges = edgesDF(Fixtures.randomEdges(300, 1500, seed = 5L))
    for {
      coalesce <- Seq("true", "false")
      parts <- Seq(0, 6)
      round <- withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.coalescePartitions.enabled" -> coalesce) {
        val graph = LinkGraph(edges, numPartitions = parts)
        val what = s"coalesce=$coalesce parts=${graph.numPartitions} " +
          s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")}"
        val (_, plans) = ExecutedPlans.during(spark)(run(graph))
        val rounds = plans.filter(p =>
          collect(p) { case j: ShuffledHashJoinExec => j }.nonEmpty)
        assert(rounds.nonEmpty, what)
        rounds.map(what -> _)
      }
    } yield round
  }

  /** WCC's edge table is row-balanced, so a shuffle-mode round exchanges
    * it by src, but only once: the pointer-jump side reuses the
    * neighbour-min exchange (a declared hash(src) cut would save the edge
    * exchange and lose that reuse, which measured slower).
    */
  test("shuffle-mode WCC rounds scan the edge table once") {
    shuffleRounds { g =>
      Wcc.run(g, graft.WccConfig(contractAfter = 0), broadcastVertices = 0L)
        .components.count()
    }.foreach { case (what, p) =>
      val scans = collect(p) {
        case s: RDDScanExec if s.output.exists(_.name == "dst") => s }
      assert(scans.size == 1, s"$what\n$p")
    }
  }

  /** LP's vote table is cut by hash(src), which the cut declares, so a
    * shuffle-mode round exchanges only the labels.
    */
  test("shuffle-mode LP rounds do not re-exchange the vote table") {
    shuffleRounds { g =>
      LabelPropagation.run(g, graft.LabelPropagationConfig(3),
        broadcastVertices = 0L).labels.count()
    }.foreach { case (what, p) =>
      assert(edgeExchanges(p).isEmpty, s"$what\n$p")
    }
  }
}
