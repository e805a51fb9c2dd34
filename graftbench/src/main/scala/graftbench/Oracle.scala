package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, FileInputStream, FileOutputStream}

/** Sequential reference answers for one generated input, computed once
  * with plain arrays (no Spark) and cached beside the input.
  * Semantics follow the engine's documented contracts: reply edges
  * actor(k) -> actor(k-1) within a conversation with dense ids over the
  * sorted actor keys, node count = max id + 1, Jacobi PageRank over the raw
  * multigraph, min-id weak components, synchronous label propagation with
  * the smallest-label tie-break, and triangles of the simple undirected
  * graph.
  */
final case class Oracle(
    n: Int,
    m: Long,
    distinctPairs: Long,
    edgeChecksum: Long,
    pr: Array[Double],
    prIters: Int,
    wcc: Array[Long],
    lp: Array[Long],
    lpIters: Int,
    tc: Long) {

  def save(path: String): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(path)))
    try {
      out.writeInt(n); out.writeLong(m); out.writeLong(distinctPairs)
      out.writeLong(edgeChecksum)
      out.writeInt(prIters); out.writeInt(lpIters); out.writeLong(tc)
      pr.foreach(out.writeDouble); wcc.foreach(out.writeLong)
      lp.foreach(out.writeLong)
    } finally out.close()
  }
}

object Oracle {

  /** Modulus of the order-independent edge checksum; small enough that the
    * sum over every edge cannot overflow a long.
    */
  val ChecksumMod = 1000000007L

  /** Spark's `xxhash64(src, dst)` (seed 42, columns folded left to right)
    * reduced mod [[ChecksumMod]], so the checksum of an ingested edge table
    * can be computed in SQL and compared with this one.
    */
  def edgeHash(src: Long, dst: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h = XXH64.hashLong(dst, XXH64.hashLong(src, 42L))
    java.lang.Math.floorMod(h, ChecksumMod)
  }

  def load(path: String): Oracle = {
    val in = new DataInputStream(new BufferedInputStream(
      new FileInputStream(path)))
    try {
      val n = in.readInt(); val m = in.readLong(); val dp = in.readLong()
      val ck = in.readLong()
      val prIters = in.readInt(); val lpIters = in.readInt()
      val tc = in.readLong()
      val pr = Array.fill(n)(in.readDouble())
      val wcc = Array.fill(n)(in.readLong())
      val lp = Array.fill(n)(in.readLong())
      Oracle(n, m, dp, ck, pr, prIters, wcc, lp, lpIters, tc)
    } finally in.close()
  }

  /** Reply edges from transcript turns given as parallel arrays
    * (conversation, turn index, actor). Returns (src, dst).
    */
  def replyEdges(conv: Array[String], turn: Array[Int], actor: Array[String])
      : (Array[Int], Array[Int]) = {
    val actors = actor.distinct.sorted
    val id = new java.util.HashMap[String, Integer](actors.length * 2)
    actors.indices.foreach(i => id.put(actors(i), i))
    val order = conv.indices.toArray.sortWith { (a, b) =>
      val c = conv(a).compareTo(conv(b))
      if (c != 0) c < 0 else turn(a) < turn(b)
    }
    val src = Array.newBuilder[Int]
    val dst = Array.newBuilder[Int]
    var k = 1
    while (k < order.length) {
      val cur = order(k); val prev = order(k - 1)
      if (conv(cur) == conv(prev)) {
        src += id.get(actor(cur)).intValue
        dst += id.get(actor(prev)).intValue
      }
      k += 1
    }
    (src.result(), dst.result())
  }

  def compute(src: Array[Int], dst: Array[Int], prMaxIter: Int,
      prTolerance: Double, lpMaxIter: Int, lpEarlyStop: Boolean): Oracle = {
    val m = src.length
    val n = if (m == 0) 0 else math.max(src.max, dst.max) + 1
    val pairs = src.indices.map(i => src(i).toLong * n + dst(i)).distinct.size
    var ck = 0L
    var i = 0
    while (i < m) { ck += edgeHash(src(i), dst(i)); i += 1 }
    val (pr, prIters) = pageRank(n, src, dst, prMaxIter, prTolerance)
    val (lp, lpIters) = labelPropagation(n, src, dst, lpMaxIter, lpEarlyStop)
    Oracle(n, m, pairs, ck, pr, prIters, wcc(n, src, dst), lp, lpIters,
      triangles(n, src, dst))
  }

  /** Jacobi PageRank, damping 0.85: error is the L1 change of one
    * superstep; a tolerance of 0 runs exactly `maxIter` supersteps.
    */
  def pageRank(n: Int, src: Array[Int], dst: Array[Int], maxIter: Int,
      tolerance: Double): (Array[Double], Int) = {
    val d = 0.85
    val outDeg = new Array[Int](n)
    src.foreach(u => outDeg(u) += 1)
    var score = Array.fill(n)(1.0 / n)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val in = new Array[Double](n)
      var e = 0
      while (e < src.length) {
        in(dst(e)) += score(src(e)) / outDeg(src(e)); e += 1
      }
      val next = Array.tabulate(n)(v => (1.0 - d) / n + d * in(v))
      var err = 0.0
      var v = 0
      while (v < n) { err += math.abs(next(v) - score(v)); v += 1 }
      score = next
      iter += 1
      converged = tolerance > 0.0 && err < tolerance
    }
    (score, iter)
  }

  def wcc(n: Int, src: Array[Int], dst: Array[Int]): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    src.indices.foreach { e =>
      val a = find(src(e)); val b = find(dst(e))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    Array.tabulate(n)(v => find(v).toLong)
  }

  /** Undirected adjacency without self-loops, duplicates kept (CSR). */
  private def undirected(n: Int, src: Array[Int], dst: Array[Int])
      : (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    src.indices.foreach { e =>
      if (src(e) != dst(e)) { off(src(e) + 1) += 1; off(dst(e) + 1) += 1 }
    }
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val fill = off.clone()
    val nbr = new Array[Int](off(n))
    src.indices.foreach { e =>
      val a = src(e); val b = dst(e)
      if (a != b) {
        nbr(fill(a)) = b; fill(a) += 1
        nbr(fill(b)) = a; fill(b) += 1
      }
    }
    (off, nbr)
  }

  def labelPropagation(n: Int, src: Array[Int], dst: Array[Int],
      maxIter: Int, earlyStop: Boolean): (Array[Long], Int) = {
    val (off, nbr) = undirected(n, src, dst)
    var label = Array.tabulate(n)(_.toLong)
    var iter = 0
    var changed = Long.MaxValue
    val buf = new Array[Long](if (n == 0) 0 else
      (0 until n).map(v => off(v + 1) - off(v)).max)
    while ((!earlyStop || changed > 0) && iter < maxIter) {
      val next = label.clone()
      changed = 0
      var v = 0
      while (v < n) {
        val deg = off(v + 1) - off(v)
        if (deg > 0) {
          var j = 0
          while (j < deg) { buf(j) = label(nbr(off(v) + j)); j += 1 }
          java.util.Arrays.sort(buf, 0, deg)
          var best = buf(0); var bestCnt = 0
          var s = 0
          while (s < deg) {
            var t = s
            while (t < deg && buf(t) == buf(s)) t += 1
            if (t - s > bestCnt) { bestCnt = t - s; best = buf(s) }
            s = t
          }
          next(v) = best
          if (best != label(v)) changed += 1
        }
        v += 1
      }
      label = next
      iter += 1
    }
    (label, iter)
  }

  /** Triangles of the simple undirected graph (self-loops and duplicate
    * edges dropped), by degree-ordered adjacency intersection.
    */
  def triangles(n: Int, src: Array[Int], dst: Array[Int]): Long = {
    val keys = src.indices.iterator
      .filter(e => src(e) != dst(e))
      .map(e => math.min(src(e), dst(e)).toLong * n
        + math.max(src(e), dst(e)))
      .toArray.distinct
    val deg = new Array[Int](n)
    keys.foreach { k => deg((k / n).toInt) += 1; deg((k % n).toInt) += 1 }
    def before(a: Int, b: Int): Boolean =
      deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val off = new Array[Int](n + 1)
    val oriented = keys.map { k =>
      val a = (k / n).toInt; val b = (k % n).toInt
      if (before(a, b)) (a, b) else (b, a)
    }
    oriented.foreach { case (a, _) => off(a + 1) += 1 }
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val fill = off.clone()
    val out = new Array[Int](oriented.length)
    oriented.foreach { case (a, b) => out(fill(a)) = b; fill(a) += 1 }
    v = 0
    while (v < n) { java.util.Arrays.sort(out, off(v), off(v + 1)); v += 1 }
    var count = 0L
    oriented.foreach { case (a, b) =>
      var i = off(a); var j = off(b)
      while (i < off(a + 1) && j < off(b + 1)) {
        if (out(i) < out(j)) i += 1
        else if (out(i) > out(j)) j += 1
        else { count += 1; i += 1; j += 1 }
      }
    }
    count
  }
}
