package graft.text

import graft.functions.PortableHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Cut

/** Dataset-curation operators for training-data pipelines: deterministic
  * train/val/test splitting and per-language quality-based top-k selection
  * over the `documents` table. Both are stated identically in the DuckDB
  * oracle (SparkEntry.oracleSql) via the engine-portable md5 hash
  * ([[PortableHash]]) and plain window SQL.
  *
  * Scale notes (100 TB):
  *  - [[assignSplits]] is a single map-only projection — the split of a row
  *    is a pure function of its id, so assignment is reproducible across
  *    reruns, engines, and table re-partitioning, and never needs a join
  *    against a stored assignment table.
  *  - [[topKByQuality]] is the per-group top-k idiom that survives few-group
  *    skew: a naive `row_number() OVER (PARTITION BY lang)` shuffles the
  *    ENTIRE corpus into one task per language (a handful of languages =
  *    a handful of tasks at 100 TB). Phase 1 ranks within (lang, bucket)
  *    for `fanout` hash buckets — parallelism = #langs x fanout, each task
  *    bounded — and keeps at most k rows per bucket, which provably
  *    contains the global top k (any row in the global top k ranks <= k
  *    inside its own bucket). Phase 2 re-ranks the <= k*fanout survivors
  *    per language, a driver-trivial volume. The oracle states the
  *    single-window form; the two-phase plan is semantically identical.
  */
object Curation {

  /** Deterministic percentile bucket in [0, 100): portable 60-bit hash of
    * the id, mod 100. Identical statement in DuckDB:
    * `PortableHash.phashSql("doc_id") % 100`.
    */
  def splitBucket(id: Column): Column =
    pmod(PortableHash.phash(id), lit(100L))

  /** Assign every document to train/val/test by hashed-id percentile:
    * bucket < trainPct -> train, < trainPct+valPct -> val, else test.
    * Exactly one split per row; proportions converge to the requested
    * percentages by hash uniformity. Map-only, no shuffle.
    */
  def assignSplits(docs: DataFrame, trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val b = splitBucket(col("doc_id"))
    docs.select(
      col("doc_id"),
      b.as("bucket"),
      when(b < trainPct, lit("train"))
        .when(b < trainPct + valPct, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Top-k documents per detected language by composite quality score
    * (TextAnalysis.langId / qualityScore), rank ties broken by doc_id asc
    * so the selection is total-order deterministic. Two-phase bucketed
    * ranking (see object scaladoc); `fanout` <= 1 degenerates to the plain
    * single-window form (used by the spec to assert phase-equivalence).
    * Returns (doc_id, lang, quality, rank 1..k per lang).
    */
  def topKByQuality(docs: DataFrame, k: Int, fanout: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val f =
      if (fanout != 0) fanout
      else docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "32").toInt
    // widen a single-split input before the per-row scoring work (round-6,
    // guide §2.5): langId+quality tokenize every document — on a sub-split
    // corpus that whole pass serializes into one task otherwise
    val scored = graft.util.Parallelism.widen(docs).select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    val ranked =
      if (f <= 1) scored
      else {
        val wLocal = Window
          .partitionBy(col("lang"),
            pmod(PortableHash.phash(col("doc_id")), lit(f.toLong)))
          .orderBy(col("quality").desc, col("doc_id").asc)
        scored.withColumn("r0", row_number().over(wLocal))
          .filter(col("r0") <= k)
          .drop("r0")
      }
    val wGlobal = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    ranked.withColumn("rank", row_number().over(wGlobal).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Benchmark decontamination: flag training documents sharing any word
    * k-shingle (TextAnalysis.shingles / Dedup.docShingles — the corpus'
    * one shingle definition) with the benchmark slice. The benchmark here
    * is the deterministic in-corpus slice `doc_id % benchMod == benchRem`
    * (no external data in this sandbox); in production the filter is
    * replaced by a real benchmark table of the same (doc_id, text) shape.
    * Returns every non-benchmark document with the count of its distinct
    * shingles that occur anywhere in the benchmark (`n_hits`) and a 0/1
    * `contaminated` flag — zero-hit documents are kept so the output is a
    * per-document verdict over the whole training corpus, not a hit list.
    *
    * Scale shape (100 TB): an eval benchmark is small by nature (thousands
    * of documents, not terabytes), so its distinct-shingle set is
    * `broadcast` and the corpus side probes it map-side; the only corpus
    * shuffle is the per-document hit count. No corpus self-join anywhere.
    * `broadcastBench = false` falls back to a shuffled equi-join for a
    * benchmark too large to broadcast.
    */
  def decontaminate(docs: DataFrame, benchMod: Int = 10, benchRem: Int = 7,
      k: Int = 3, broadcastBench: Boolean = true): DataFrame = {
    require(benchMod > 1 && benchRem >= 0 && benchRem < benchMod,
      s"invalid benchmark slice: mod=$benchMod rem=$benchRem")
    val isBench = pmod(col("doc_id"), lit(benchMod.toLong)) === benchRem
    val sh = graft.dedup.Dedup.docShingles(docs, k)
    val benchSh = sh.filter(isBench).select(col("shingle")).distinct()
    val hits = sh.filter(!isBench)
      .join(if (broadcastBench) broadcast(benchSh) else benchSh,
        Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    docs.filter(!isBench).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).cast("long")
          .as("contaminated"))
  }

  /** Language-mixture sampling weights: given target corpus shares per
    * detected language, the per-document weight that resamples the observed
    * language distribution into the target one —
    * `weight(d) = target_share(lang(d)) / observed_share(lang(d))`,
    * i.e. `target(lang) * corpus_total / lang_count`. Languages absent
    * from `targets` weigh 0 (dropped from the mix). Weights are the direct
    * input to weighted sampling / epoch-repeat factors in a training-data
    * mixer.
    *
    * Scale shape (100 TB): one partially-aggregated count per language
    * (a handful of rows), its total folded in by a cross join of two tiny
    * aggregates, then `broadcast` back over the corpus — a map-side enrich;
    * the corpus itself shuffles only for the language count.
    */
  def mixtureWeights(docs: DataFrame, targets: Map[String, Double])
      : DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ >= 0.0),
      "targets must be a non-empty map of non-negative shares")
    // ONE langId pass over the corpus (round-6): the scored projection is
    // materialized and feeds BOTH the per-language count and the output
    // join — left lazy, the scan + langId (a full tokenize of every
    // document) executed twice per run. Widened first so a single-split
    // input doesn't serialize the tokenize pass into one task (guide §2.5);
    // the checkpoint is 2 compact columns per doc.
    val scored = Cut(
      graft.util.Parallelism.widen(docs).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang")))
    val counts = Cut(
      scored.groupBy(col("lang")).agg(count(lit(1)).as("n")))
    val shares = counts.crossJoin(counts.agg(sum(col("n")).as("total")))
    scored.join(broadcast(shares), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        round(coalesce(element_at(typedLit(targets), col("lang")),
          lit(0.0)) * col("total").cast("double") /
          col("n").cast("double"), 6).as("weight"))
  }

  /** Deterministic epoch-repeat materializer over [[mixtureWeights]]: emit
    * each document `floor(weight)` times, plus one more copy when the
    * document's portable-hash fraction falls below the fractional part of
    * its weight — so expected copy counts equal the weights exactly while
    * the realized output is a pure function of (doc_id, targets):
    * reproducible across reruns, engines, and partitionings, no RNG state.
    * Documents of untargeted languages (weight 0) disappear from the mix.
    * Returns (doc_id, lang, copy 1..copies).
    *
    * Scale shape (100 TB): the weight join is [[mixtureWeights]]'s
    * broadcast enrich; copy fan-out is a row-local `explode(sequence)` —
    * output volume is exactly the resampled corpus size, nothing shuffles.
    */
  def resampleByWeight(docs: DataFrame, targets: Map[String, Double])
      : DataFrame = {
    val w = mixtureWeights(docs, targets)
    val base = floor(col("weight"))
    val frac = col("weight") - base.cast("double")
    val extra =
      (pmod(PortableHash.phash(col("doc_id")), lit(1000000L)) <
        floor(frac * 1000000.0)).cast("long")
    w.select(col("doc_id"), col("lang"), (base + extra).as("copies"))
      .filter(col("copies") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("copies"))).as("copy"))
  }

  /** Sequence packing — assign documents to fixed-token-budget bins
    * (training context windows) in stable `doc_id` order: a document's bin
    * is `floor(excl_cumsum(n_tokens) / budget)` where the exclusive cumsum
    * runs over doc_id order. Fixed-boundary packing: a document may
    * straddle a boundary, so a bin overflows by at most its last
    * document's own size — the deterministic, order-stable rule a
    * restartable 100 TB packing job needs (greedy first-fit is inherently
    * sequential: every bin break depends on the running remainder).
    * Returns (doc_id, n_tokens, bin).
    *
    * Scale shape: the naive `sum() OVER (ORDER BY doc_id)` shuffles the
    * corpus into ONE task. This is the distributed prefix sum instead
    * (the [[graft.graph.DistributedRank]] idiom): range-partition the
    * 2-column (doc_id, n_tokens) projection, cumsum within each partition,
    * add broadcast per-partition offsets — driver state is one
    * partition-count-sized offset array, parallelism = numPartitions.
    */
  def packSequences(docs: DataFrame, budget: Long,
      numPartitions: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = docs.sparkSession
    // scale-adaptive partition count (round-6, same principle as
    // LinkGraph.adaptiveParts): the configured value is a CAP; a corpus
    // with fewer input splits than that doesn't need 32 range partitions,
    // 32 window tasks and a 32-slot offset array per run. At scale the
    // split count exceeds the cap and the configured value wins.
    // estimatedSplits, not docs.rdd.getNumPartitions: the rdd probe
    // finalizes an AQE plan (executing upstream stages of a derived
    // input just to read a count); the stats estimate is driver-only
    val cap = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val p = if (numPartitions > 0) numPartitions
      else math.min(cap,
        math.max(8, graft.util.Parallelism.estimatedSplits(docs, cap)))
    // widen before the tokenize projection: on a single-split input the
    // whole tokenCount pass otherwise serializes into one task (guide §2.5)
    val sized = graft.util.Parallelism.widen(docs).select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    // one materialization feeds both the offset collect and the result
    // (the DistributedRank contract); blocks GC-reclaim with the frame
    val parted = Cut(
      sized.repartitionByRange(p, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .withColumn("__pid", spark_partition_id()))
    val w = Window.partitionBy(col("__pid")).orderBy(col("doc_id"))
    val totals = parted.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("t")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until p).scanLeft(0L)((acc, i) =>
      acc + totals.getOrElse(i, 0L))
    val offDf = spark.createDataFrame(
      (0 until p).map(i => (i, offsets(i)))).toDF("__pid", "__off")
    parted.withColumn("__lcum", sum(col("n_tokens")).over(w))
      .join(broadcast(offDf), Seq("__pid"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(__off + __lcum - n_tokens) div $budget").as("bin"))
  }
}
