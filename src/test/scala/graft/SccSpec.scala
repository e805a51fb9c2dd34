package graft

import graft.algos.Scc
import graft.graph.LinkGraph

/** Strongly connected components: golden fixtures + exact cross-check
  * against a sequential Tarjan oracle on seeded random graphs
  * (SURVEY.md §5.2-2 strategy; SCC itself is a north-rule addition absent
  * from the reference, see graft.algos.Scc).
  */
class SccSpec extends SparkSpec {

  private def sccMap(edges: Seq[(Long, Long)],
      nodeCount: Long = -1L): Map[Long, Long] = {
    val g = LinkGraph(edgesDF(edges), nodeCount = nodeCount)
    val res = Scc.run(g)
    assert(res.stats.converged, "SCC did not converge")
    res.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Sequential Tarjan, then relabel each component to its min member id
    * (the engine's output contract). */
  private def tarjan(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = Array.fill(n)(List.empty[Int])
    edges.foreach { case (u, v) =>
      if (u != v) adj(u.toInt) ::= v.toInt
    }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val comp = Array.fill(n)(-1)
    var counter = 0
    var stack = List.empty[Int]
    // explicit work-stack DFS (no recursion; test graphs can chain)
    def strongConnect(root: Int): Unit = {
      var work = List((root, adj(root)))
      index(root) = counter; low(root) = counter; counter += 1
      stack ::= root; onStack(root) = true
      while (work.nonEmpty) {
        val (v, rest) = work.head
        rest match {
          case w :: tail =>
            work = (v, tail) :: work.tail
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              stack ::= w; onStack(w) = true
              work = (w, adj(w)) :: work
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          case Nil =>
            work = work.tail
            if (work.nonEmpty) {
              val p = work.head._1
              low(p) = math.min(low(p), low(v))
            }
            if (low(v) == index(v)) {
              var done = false
              while (!done) {
                val w = stack.head; stack = stack.tail
                onStack(w) = false; comp(w) = v
                if (w == v) done = true
              }
            }
        }
      }
    }
    (0 until n).foreach(v => if (index(v) == -1) strongConnect(v))
    // relabel roots to min member ids
    val minOf = (0 until n).groupBy(comp).map { case (c, vs) =>
      c -> vs.min.toLong
    }
    (0 until n).map(v => v.toLong -> minOf(comp(v))).toMap
  }

  test("two 3-cycles linked one-way are separate SCCs") {
    val edges = Seq[(Long, Long)](
      (0, 1), (1, 2), (2, 0), // cycle A
      (3, 4), (4, 5), (5, 3), // cycle B
      (2, 3)) // one-way bridge: no mutual reachability across
    val got = sccMap(edges)
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("a DAG chain is all singletons (trim path)") {
    val got = sccMap(Seq[(Long, Long)]((0, 1), (1, 2), (2, 3), (3, 4)))
    assert(got == (0L to 4L).map(v => v -> v).toMap)
  }

  test("one big cycle is one SCC rooted at 0") {
    // ids run WITH edge direction forward (labels chain, jumping doubles)
    // and AGAINST it backward (one hop per round) — the adversarial case
    // for the propagation; kept small so the O(n) backward rounds stay
    // cheap in CI.
    val n = 12L
    val edges = (0L until n).map(v => (v, (v + 1) % n))
    val got = sccMap(edges)
    assert(got == (0L until n).map(v => v -> 0L).toMap)
  }

  test("isolated tail vertices (explicit node count) are singletons") {
    val got = sccMap(Seq[(Long, Long)]((0, 1), (1, 0)), nodeCount = 5L)
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("self-loops and duplicate edges do not create or merge components") {
    val got = sccMap(Seq[(Long, Long)](
      (0, 0), (0, 1), (0, 1), (1, 0), (2, 2)), nodeCount = 3L)
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
  }

  test("capped propagation never claims from non-fixed-point labels") {
    // A 60-cycle whose min label moves ONE hop per backward round: with
    // maxPropagationRounds=2 (the budget counts ROUNDS — two min-label
    // hops, batch-size independent) the inner fixed point cannot complete.
    // The
    // sound behavior is to make NO claims and report converged=false —
    // claiming from capped labels could split the SCC across roots while
    // stats said converged=true (round-2 advice, Scc.scala propagateMin
    // cap).
    val n = 60L
    val edges = (0L until n).map(v => (v, (v + 1) % n))
    val res = Scc.run(LinkGraph(edgesDF(edges)),
      SccConfig(maxIterations = 5, maxPropagationRounds = 2),
      broadcastVertices = 0L)
    assert(!res.stats.converged,
      "capped propagation must not report convergence")
    val got = res.components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n) // output stays total (fail-safe self labels)
    // and with an adequate budget the same graph resolves exactly (shuffle
    // mode chains 4 rounds per action, so the 60 one-hop rounds stay a
    // 15-action sequence)
    val full = Scc.run(LinkGraph(edgesDF(edges)), SccConfig(),
      broadcastVertices = 0L)
    assert(full.stats.converged)
    assert(full.components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until n).map(v => v -> 0L).toMap)
  }

  test("matches sequential Tarjan on seeded random graphs (exact)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 4) {
      val n = 24 + trial * 12
      // density around the SCC phase transition so trials mix giant SCCs,
      // mid-size cycles, and DAG tails
      val m = (n * (1.2 + 0.4 * trial)).toInt
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val got = sccMap(edges, nodeCount = n.toLong)
      val want = tarjan(n, edges)
      assert(got == want, s"trial $trial: n=$n m=$m")
    }
  }
}
