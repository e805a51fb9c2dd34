package graft

/** Core data model.
  *
  * The reference (neo4j-labs/graph) models a graph as an immutable CSR over
  * dense integer node ids (crates/builder/src/graph/csr.rs:47-93, node ids
  * generic over `Idx`, crates/builder/src/index.rs:93-103). Our distributed
  * analogue fixes ids to Long and represents the graph as a partitioned
  * `Dataset[Edge]`; adjacency access becomes joins/aggregations planned by
  * Catalyst rather than pointer chasing (SURVEY.md §1.3/§1.4).
  */
case class Edge(src: Long, dst: Long, weight: Double)

/** Per-vertex iteration state carried across supersteps. */
case class VertexScore(id: Long, score: Double)
case class VertexComp(id: Long, comp: Long)
case class VertexLabel(id: Long, label: Long)
case class VertexDist(id: Long, dist: Double)

/** Mirrors PageRankConfig defaults at
  * /root/reference/crates/algos/src/page_rank.rs:45-47
  * (max_iterations=20, tolerance=1e-4, damping_factor=0.85).
  */
case class PageRankConfig(
    maxIterations: Int = 20,
    tolerance: Double = 1e-4,
    dampingFactor: Double = 0.85)

/** Reference WccConfig (crates/algos/src/wcc.rs:43-79) carries shared-memory
  * tuning (chunk_size, neighbor_rounds, sampling) that has no distributed
  * meaning; ours carries the fixed-point loop bounds instead.
  *
  * `contractAfter` is the distributed analogue of Afforest's
  * work-skipping (wcc.rs:158-301: most vertices settle into the giant
  * component within a couple of neighbor rounds, after which touching their
  * edges is wasted work): after that many hash-min+jump rounds the graph is
  * CONTRACTED to its label-classes — edges become (comp(u), comp(v)) for
  * differing labels — and the fixed point recurses on the (far smaller)
  * contracted graph, composing labelings at the end. Identical output
  * (label-class contraction preserves components and the min-id contract;
  * see Wcc scaladoc — a plain same-label edge DROP is unsound because a
  * settled edge can be another vertex's only path to its label).
  *
  * Default -1 = AUTO, mirroring the reference's choice of Afforest as its
  * DEFAULT wcc in both CLI and server (crates/app/src/app.rs:15,
  * crates/server/src/server.rs:545): contraction engages after round 2 (the
  * measured sweet spot, BASELINE.md: 74.5 -> 68.4 s on 112M edges) but only
  * when the state is big enough to matter and the changed count says real
  * propagation work remains (Wcc.autoEngage). 0 = never contract; k > 0 =
  * contract at exactly round k unconditionally.
  */
case class WccConfig(maxIterations: Int = 200, contractAfter: Int = -1)

/** Label propagation is absent from the reference (SURVEY.md §2.9); semantics
  * are synchronous LPA (Raghavan et al.) with deterministic smallest-label
  * tie-break so results are exact at convergence.
  *
  * `earlyStop = false` pins the run to exactly `maxIterations` supersteps
  * (the PageRank fixed-iteration pattern); the per-round changed count is
  * observed inside each round's checkpoint either way, so both modes run
  * the same jobs per round. Results are identical whenever the labeling
  * reaches a fixed point within the budget (a fixed point is stable under
  * further LPA rounds).
  */
case class LabelPropagationConfig(
    maxIterations: Int = 20,
    earlyStop: Boolean = true)

/** SCC is named by the north rule but absent from the reference (which has
  * only weak connectivity); see graft.algos.Scc for the semantics contract
  * (label = min member id, mirroring the WCC contract, dss.rs:183-195).
  * `maxIterations` bounds outer trim+claim rounds (condensation depth);
  * `maxPropagationRounds` bounds each inner min-label fixed point in
  * ROUNDS (min-label hops — worst case O(diameter); pointer jumping
  * collapses decreasing-id chains), one round per action in both modes.
  * The default (800) preserves the historical shuffle-mode budget (200
  * batches x 4 rounds).
  */
case class SccConfig(
    maxIterations: Int = 100,
    maxPropagationRounds: Int = 800)

/** `delta` mirrors the reference's DeltaSteppingConfig{start_node, delta}
  * (crates/algos/src/sssp.rs:21-41). Infinite delta (default) = plain
  * frontier Bellman-Ford (every settled-enough vertex relaxes each round);
  * a finite delta batches the frontier into distance bands
  * [b*delta, (b+1)*delta) — same min-plus fixed point, fewer wasted
  * relaxations on high-diameter weighted graphs. In both schedules the
  * reported iteration count is the exact number of relax rounds run.
  */
case class SsspConfig(
    startNode: Long,
    maxIterations: Int = 500,
    delta: Double = Double.PositiveInfinity)

/** Result bundles: scores plus convergence metrics, mirroring the reference's
  * (Vec<f32>, iterations, error) return (page_rank.rs:58-61).
  */
case class ConvergenceStats(iterations: Int, error: Double, converged: Boolean)

/** CsrLayout analogue (crates/builder/src/graph/csr.rs:32-45):
  * AsIs = Unsorted, Sorted = sortWithinPartitions, Deduplicated = distinct +
  * self-loop removal.
  */
object Layout extends Enumeration {
  val AsIs, Sorted, Deduplicated = Value
}
