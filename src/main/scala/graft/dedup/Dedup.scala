package graft.dedup

import graft.functions.PortableHash
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Cut
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.Encoders

/** Deduplication operators for training-data pipelines over `documents`.
  *
  * Scale shapes:
  * - exact: one hash-groupBy on the md5 fingerprint (partial-agg, one
  *   shuffle on a high-cardinality key — no skew).
  * - n-gram Jaccard: df-capped shingle self-join for candidates (the
  *   stop-shingle quadratic guard) + exact verification over full shingle
  *   sets; at 100TB the candidate generation must go through MinHash/LSH
  *   below instead.
  * - MinHash+LSH: per-doc signature (groupBy min over the seeded
  *   engine-portable hash — graft.functions.PortableHash, statable in the
  *   DuckDB oracle), banding into buckets, candidate pairs via bucket
  *   self-join, exact Jaccard verification of candidates only. All
  *   narrow/agg stages.
  * - SimHash: custom partial-aggregatable Aggregator summing signed bit
  *   contributions — one groupBy per doc, then 15-bit band self-join for
  *   Hamming candidates.
  * - embedding cosine: multi-table hyperplane-LSH blocking + exact cosine
  *   verification of candidates (sub-quadratic).
  */
object Dedup {

  /** Exact dedup: canonical id = min doc_id per normalized-text fingerprint.
    * Output (doc_id, canonical_id, group_size).
    */
  def exact(docs: DataFrame): DataFrame = {
    // (doc_id, fp) is referenced twice (group + join-back); checkpoint the
    // 40-byte-per-doc table once instead of md5-ing the corpus twice.
    // a Cut (localCheckpoint) rather than persist(): its blocks
    // are released by the ContextCleaner when the frame is GC'd, so a
    // long-running caller (the serving daemon) cannot accumulate pinned
    // caches from library internals. NOT widened (unlike docShingles /
    // simHash, whose per-row shingle-explode + md5-per-shingle work wins
    // ~30x from the spread): one md5 per document is lighter than the
    // round-robin exchange — round-6 A/B measured 0.66 s unwidened vs
    // 0.87 s widened at sf0.1 (same call as the embeddings decline in
    // Similarity.withNorm).
    val fp = Cut(
      docs.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")))
    val groups = fp.groupBy(col("fp")).agg(
      min(col("doc_id")).as("canonical_id"),
      count(lit(1)).as("group_size"))
    fp.join(groups, Seq("fp"))
      .select(col("doc_id"), col("canonical_id"), col("group_size"))
  }

  /** Distinct word-k-gram shingles per doc: (doc_id, shingle).
    * Per-document distinctness is row-local (`array_distinct` BEFORE the
    * explode) — a `.distinct()` on the exploded frame would shuffle the
    * whole corpus-sized shingle stream just to dedup pairs whose key
    * already contains doc_id, i.e. work every row could do to itself.
    */
  def docShingles(docs: DataFrame, k: Int = 3): DataFrame =
    graft.util.Parallelism.widen(docs).select(col("doc_id"),
      explode(array_distinct(TextAnalysis.shingles(col("text"), k)))
        .as("shingle"))

  /** Pairwise n-gram Jaccard: candidate pairs are docs sharing at least one
    * shingle with document frequency <= `maxShingleDf` (the skew guard — a
    * stop-shingle shared by k docs would otherwise emit k^2/2 join rows,
    * round-1 verdict #5); each candidate pair's jaccard is then computed
    * EXACTLY over the full shingle sets (capped shingles still count toward
    * intersection and sizes — the cap only gates candidate generation).
    * Emits (doc_a < doc_b, jaccard) with jaccard >= threshold.
    * maxShingleDf = 0 disables the cap (exact all-co-shingle pairs; only
    * safe at small scale). At 100TB candidate generation should route
    * through minHashLsh instead.
    */
  def ngramJaccard(
      docs: DataFrame, threshold: Double, k: Int = 3,
      maxShingleDf: Long = 0L): DataFrame = {
    // the shingle table is referenced up to 5 times below (dfreq, capped
    // self-join sides, over-cap joins, sizes); without materialization each
    // reference re-tokenizes and re-explodes the full corpus — measured 24
    // parquet scans / 18 explode passes in the sibling minHashLsh plan
    // before this checkpoint (bench/PlanDumpAll, round 4)
    val sh = Cut(docShingles(docs, k))
    if (maxShingleDf <= 0) {
      // no cap: the capped self-join below IS the full exact computation
      val candidates = sh.as("a")
        .join(sh.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      jaccardOf(candidates, sh).filter(col("jaccard") >= threshold)
    } else {
      // Exact intersection in two disjoint parts — no second full-set
      // self-join: (1) the capped self-join counts shared sub-cap shingles
      // and DEFINES the candidate pairs; (2) shared over-cap shingles are
      // recovered by joining the candidate list to the (per-doc tiny)
      // over-cap shingle sets. inter = inter_capped + inter_over is the
      // full-set intersection for every candidate pair.
      val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      val capped = sh.join(
        dfreq.filter(col("df") <= maxShingleDf).select("shingle"),
        Seq("shingle"))
      val interCapped = capped.as("a")
        .join(capped.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter_c"))
      val over = sh.join(
        dfreq.filter(col("df") > maxShingleDf).select("shingle"),
        Seq("shingle"))
      val interOver = interCapped.select(col("doc_a"), col("doc_b"))
        .join(over.as("oa"), col("doc_a") === col("oa.doc_id"))
        .join(over.as("ob"), col("doc_b") === col("ob.doc_id") &&
          col("oa.shingle") === col("ob.shingle"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("inter_o"))
      val inter = interCapped
        .join(interOver, Seq("doc_a", "doc_b"), "left")
        .na.fill(0L, Seq("inter_o"))
        .select(col("doc_a"), col("doc_b"),
          (col("inter_c") + col("inter_o")).as("inter"))
      jaccardOf(inter, sh).filter(col("jaccard") >= threshold)
    }
  }

  /** jaccard from per-pair intersection counts + per-doc set sizes. */
  private def jaccardOf(inter: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Exact Jaccard of candidate (doc_a, doc_b) pairs over full shingle
    * sets — the shared verification tail of ngramJaccard and minHashLsh:
    * intersection via joining the candidate list back to the two shingle
    * sets (never a full pairwise join), sizes via one groupBy.
    */
  private def verifyJaccard(
      candidates: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = candidates
      .join(sh.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(sh.as("pb"), col("doc_b") === col("pb.doc_id") &&
        col("pa.shingle") === col("pb.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    candidates
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Seed constants for the affine minhash family, a pure function of the
    * seed index via the portable hash (no RNG state; identical literals
    * bake into the DuckDB oracle). a,b < 2^29 and odd; c < 2^59.
    */
  def minHashSeed(i: Int): (Long, Long, Long) = {
    import graft.functions.PortableHashJvm.phash
    (phash("mh-a", i) % (1L << 29) | 1L,
     phash("mh-b", i) % (1L << 29) | 1L,
     phash("mh-c", i) % (1L << 59))
  }

  /** 2^61: the affine family's modulus (all terms stay < 2^60 before the
    * mod, so the arithmetic is overflow-free in any engine's int64).
    */
  val minHashMod: Long = 1L << 61

  /** MinHash signature columns. ONE engine-portable md5 hash per distinct
    * shingle (graft.functions.PortableHash), then `numHashes` cheap affine
    * transforms of its low/high halves:
    *
    *   mh_i = (a_i * (h & (2^30-1)) + b_i * (h >> 30) + c_i) mod 2^61
    *
    * — the standard 2-universal seeding. The round-2 form hashed every
    * shingle `numHashes` times (16 md5 passes over the shingle corpus —
    * at 100 TB the dominant map cost); this computes the md5 once and the
    * seeds in registers, with every operation exactly statable in the
    * DuckDB oracle (products < 2^59+2^59 < 2^61 — no int64 overflow, no
    * engine-dependent rounding).
    */
  def minHashSignatures(
      docs: DataFrame, numHashes: Int = 16, k: Int = 3): DataFrame =
    minHashSignaturesFrom(docShingles(docs, k), numHashes)

  /** Signatures from an already-built (doc_id, shingle) table — lets
    * minHashLsh share ONE materialized shingle pass between signatures and
    * exact verification.
    */
  def minHashSignaturesFrom(
      shingles: DataFrame, numHashes: Int = 16): DataFrame = {
    val sh = shingles
      .select(col("doc_id"), PortableHash.phash(col("shingle")).as("h"))
    val lo = col("h").bitwiseAND(lit((1L << 30) - 1))
    val hi = shiftrightunsigned(col("h"), 30)
    val aggs = (0 until numHashes).map { i =>
      val (a, b, c) = minHashSeed(i)
      min((lit(a) * lo + lit(b) * hi + lit(c)) % lit(minHashMod))
        .as(s"mh_$i")
    }
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH candidate pairs, verified with exact Jaccard.
    * bands * rowsPerBand must equal numHashes. Output
    * (doc_a, doc_b, est_jaccard, jaccard) for verified pairs >= threshold.
    */
  /** Shared LSH front end: ONE tokenize+explode+distinct pass over the
    * corpus (`sh`), ONE signature aggregation (`sig`), banding, and the
    * bucket self-join that defines the candidate pairs. Catalyst does not
    * reuse these subtrees across their 4+ plan references (measured: 24
    * scans / 18 explodes per run without the checkpoints — at 100 TB that
    * is 18 redundant full-corpus map passes).
    *
    * MEGA-BUCKET GUARD (round-5 verdict #3, round-6): the bucket self-join
    * runs over SIGNATURE CLASSES, not documents. Documents with identical
    * full signatures — the exact-dup / boilerplate block of any web-scale
    * corpus — land in the same bucket of EVERY band, so a B-document class
    * used to push B·(B−1)/2 rows through the join PER BAND and then a
    * corpus-wide distinct; the class-level join sees ONE row per class and
    * bucket. Candidate pairs then EXPAND back to document pairs
    * (cross-class member products + all within-class pairs), which is
    * output-proportional work the per-pair contract requires anyway.
    * Exactness: a document's banded buckets are a pure function of its
    * signature, so doc pairs sharing a bucket == class pairs sharing a
    * bucket (cross) plus same-class pairs (identical signatures share all
    * four buckets) — the class key is the exact 16-column signature tuple
    * (no hashing, no collision caveat), and verification/est still run per
    * document downstream, so emitted rows are byte-identical to the
    * document-level form (the frozen oracle states that form).
    */
  private[graft] def lshCandidates(docs: DataFrame, numHashes: Int,
      bands: Int, k: Int): (DataFrame, DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sh = Cut(docShingles(docs, k))
    val mhNames = (0 until numHashes).map(i => s"mh_$i")
    // ONE signature materialization (doc_id + the 16 mh columns)
    val sig = Cut(minHashSignaturesFrom(sh, numHashes))
    // class representative rep = min doc_id per signature class, via a
    // partial-aggregated groupBy: map-side combine collapses a B-copy
    // boilerplate class to one row per map partition BEFORE the exchange.
    // (The first round-6 form used min().over(Window.partitionBy(sig))
    // to save an exchange, but a window has no partial aggregation and
    // is not AQE-skew-splittable — the whole mega class lands in ONE
    // sorted window task, re-creating the straggler this guard exists to
    // remove. The groupBy side is fully parallel, and the member
    // join-back below is an equi-JOIN, which AQE skew handling CAN split
    // on a hot key.) Recomputed (not checkpointed) at its two plan
    // references — each is one cheap aggregation over the cached sig —
    // to avoid a second V x 17 materialization on dup-free corpora.
    val classes = sig.groupBy(mhNames.map(col): _*)
      .agg(min(col("doc_id")).as("rep"))
    // member doc -> class rep: checkpointed once (narrow V x 2) for the
    // two expansion references below
    val members = Cut(
      sig.join(classes, mhNames).select(col("doc_id"), col("rep")))
    val banded = classes.select(col("rep"),
      posexplode(array((0 until bands).map(b =>
        PortableHash.phash(
          (lit(b) +: (b * rows until (b + 1) * rows)
            .map(i => col(s"mh_$i"))): _*)): _*))
        .as(Seq("band", "bucket")))
    val candC = banded.as("x").join(banded.as("y"),
      col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("ca"), col("y.rep").as("cb"))
      .distinct()
    // cross-class expansion: every member pair of a candidate class pair,
    // ordered doc_a < doc_b (member ids interleave across classes, so the
    // order is per-pair, not per-class)
    val cross = candC
      .join(members.select(col("rep").as("ca"), col("doc_id").as("da")),
        Seq("ca"))
      .join(members.select(col("rep").as("cb"), col("doc_id").as("db")),
        Seq("cb"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
    // within-class pairs: identical signatures collide in all bands
    val within = members.as("p").join(members.as("q"),
      col("p.rep") === col("q.rep") &&
        col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"))
    // no distinct needed: candC is distinct and each doc belongs to exactly
    // one class, so cross pairs are unique; within is disjoint from cross
    (cross.unionByName(within), sh, sig)
  }

  def minHashLsh(
      docs: DataFrame, threshold: Double,
      numHashes: Int = 16, bands: Int = 4, k: Int = 3): DataFrame = {
    val (candidates, sh, sig) = lshCandidates(docs, numHashes, bands, k)
    // estimated similarity = fraction of matching minhashes
    val estCols = (0 until numHashes)
      .map(i => when(col(s"sa.mh_$i") === col(s"sb.mh_$i"), 1)
        .otherwise(0))
      .reduce(_ + _)
    val est = candidates
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (estCols.cast("double") / numHashes).as("est_jaccard"))
    // exact verification of candidate pairs ONLY — never the full pairwise
    // join (that would defeat LSH's sub-quadratic point at scale): join the
    // candidate list back to the two shingle sets (the SAME materialized
    // pass the signatures aggregated).
    val verified = verifyJaccard(candidates, sh)
    est.join(verified, Seq("doc_a", "doc_b"))
      .filter(col("jaccard") >= threshold)
  }

  /** Verified near-dup PAIRS only — [[minHashLsh]] minus the est_jaccard
    * column: the estimate is a diagnostic on the output surface, it never
    * gates a pair (verification is exact and the est join is inner over
    * the same candidate set), so a consumer that drops it — dupGroups —
    * was paying two signature joins per run for a discarded column
    * (round-6, guide §1.2 "don't compute things you throw away").
    */
  def minHashPairs(
      docs: DataFrame, threshold: Double,
      numHashes: Int = 16, bands: Int = 4, k: Int = 3): DataFrame = {
    val (candidates, sh, _) = lshCandidates(docs, numHashes, bands, k)
    verifyJaccard(candidates, sh)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Near-duplicate CLUSTERS: weakly connected components over the
    * MinHash-LSH verified pair graph. Near-dup similarity is not
    * transitive, so keep-one-per-cluster dedup needs the closure of the
    * pair relation — the standard corpus-scale formulation (pairs are
    * sub-quadratic via LSH; the component fixed point is vertex-sized).
    * Output (doc_id, group_id, group_size): group_id = min doc_id of the
    * cluster (the same min-member labeling contract as Wcc/Scc); docs with
    * no near-dup form singleton groups.
    */
  def dupGroups(docs: DataFrame, threshold: Double,
      numHashes: Int = 16, bands: Int = 4, k: Int = 3): DataFrame = {
    // materialize the (tiny) pair set once — WCC's undirected build would
    // otherwise evaluate the whole LSH pipeline per plan reference.
    // minHashPairs, not minHashLsh: the est_jaccard columns were computed
    // through two signature joins and immediately dropped here (round-6).
    val (pairs, pairRows) = Cut.measured(
      minHashPairs(docs, threshold, numHashes, bands, k)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"),
          lit(1.0).as("weight")),
      Seq(count(lit(1))))
    // sparseVertices: the closure fixed point iterates ONLY docs incident
    // to an LSH pair (near-dup pairs are sparse at any scale); the ~entire
    // corpus of singletons never enters a superstep and is unioned back as
    // group_id = doc_id below via the left-join coalesce (round-2 verdict
    // #2: the dense form iterated billions of untouched rows at 10^9 docs).
    // The pair graph's partition count derives from the MEASURED pair count
    // (the cut has no plan stats, so the byte-estimate
    // clamp cannot see how tiny it is): a near-dup pair set orders of
    // magnitude smaller than the corpus should not run 32-task closure
    // rounds (round-6; the count is observed inside the pairs' own cut).
    val pairParts = graft.graph.LinkGraph.adaptivePartsForRows(
      pairRows.getLong(0), docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "32").toInt)
    val comp = graft.algos.Wcc
      .run(graft.graph.LinkGraph(pairs, numPartitions = pairParts),
        sparseVertices = true).components
    val compDocs = docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"))
    val sizes = compDocs.groupBy(col("comp"))
      .agg(count(lit(1)).as("group_size"))
    compDocs.join(sizes, Seq("comp"))
      .select(col("doc_id"), col("comp").as("group_id"), col("group_size"))
  }

  /** Partial-aggregatable SimHash: signed per-bit vote accumulation. */
  private class SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    def zero: Array[Int] = new Array[Int](64)
    def reduce(buf: Array[Int], h: Long): Array[Int] = {
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) buf(b) += 1 else buf(b) -= 1
        b += 1
      }
      buf
    }
    def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    def finish(buf: Array[Int]): Long = {
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (buf(b) > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
    def bufferEncoder: Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** 60-bit SimHash per doc over word-unigram portable-hash values
    * (multiset; 60 bits because the engine-portable hash is a 15-hex-char
    * md5 slice — see graft.functions.PortableHash). Output (doc_id, simhash).
    */
  def simHash(docs: DataFrame): DataFrame = {
    val words = graft.util.Parallelism.widen(docs).select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("w"))
      .select(col("doc_id"), PortableHash.phash(col("w")).as("h"))
    val agg = udaf(new SimHashAgg)
    words.groupBy(col("doc_id")).agg(agg(col("h")).as("simhash"))
  }

  /** SimHash near-dup candidates: pairs whose 60-bit signatures agree on at
    * least one of four 15-bit bands, verified by full Hamming distance <=
    * maxHamming. Output (doc_a, doc_b, hamming).
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // both self-join sides reference the signature aggregation — without
    // the checkpoint each side re-tokenizes and re-hashes the corpus
    val sig = Cut(simHash(docs))
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 15)
          .bitwiseAND(lit(0x7FFFL))): _*)).as(Seq("band", "bucket")))
    banded.as("x").join(banded.as("y"),
      col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding cosine near-duplicates, LSH-blocked (the 100TB shape —
    * round-1 verdict #4 flagged the brute-force inequality join as a
    * cartesian-class scale-killer): candidate pairs are vectors that share
    * a sign-bit bucket in at least one of `numTables` independent
    * hyperplane hash tables (OR-amplification; buckets are exact integer
    * arithmetic over the quantized embedding — see Similarity.lshBucket —
    * so the whole pipeline is statable in the DuckDB oracle). Candidates
    * are then verified with the EXACT cosine; recall < 1 by design for
    * pairs near the threshold (raise numTables / lower numPlanes to trade
    * cost for recall). Output (id_a, id_b, cosine >= threshold, round(4)).
    */
  def embeddingDuplicates(
      embeddings: DataFrame, threshold: Double,
      numPlanes: Int = 6, numTables: Int = 4, dims: Int = -1): DataFrame = {
    import graft.sim.Similarity
    import graft.sim.Similarity.{cosine, withNorm, quantize, lshBucket}
    val d = if (dims > 0) dims else Similarity.embedDims(embeddings)
    // a Cut, NOT persist(): referenced by the banding plus both
    // verification sides, and a bare persist from a library internal is
    // never unpersisted — in a long-running process (the serving daemon)
    // those CacheManager entries accumulate; localCheckpoint blocks are
    // GC-reclaimed with the frame
    val e = Cut(
      withNorm(embeddings).withColumn("q", quantize(col("emb_d"))))
    val banded = e.select(col("vec_id"),
      posexplode(array((0 until numTables).map(t =>
        lshBucket(col("q"), d, numPlanes, t)): _*))
        .as(Seq("table", "bucket")))
    val candidates = banded.as("a").join(banded.as("b"),
      col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    candidates
      .join(e.select(col("vec_id").as("id_a"), col("emb_d").as("ea"),
        col("norm").as("na")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("emb_d").as("eb"),
        col("norm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("ea"), col("eb"), col("na"), col("nb")), 4)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
