package graftbench

sealed trait InputSpec

/** `Fixtures.zipfTranscripts`: hub actors drawn from Zipf(s). */
final case class ZipfInput(convs: Int, turns: Int, actors: Int, s: Double)
    extends InputSpec {
  override def toString = s"zipf convs=$convs turns=$turns actors=$actors s=$s"
}

/** `Fixtures.randomEdges` encoded as two-turn transcripts. */
final case class UniformInput(nodes: Int, edges: Int) extends InputSpec {
  override def toString = s"uniform nodes=$nodes edges=$edges"
}

/** A workload: its input and the algorithm settings its oracle needs. */
final case class Workload(
    name: String,
    input: InputSpec,
    prMaxIter: Int,
    prTolerance: Double,
    lpMaxIter: Int,
    lpEarlyStop: Boolean)

object Workloads {

  /** Hub-skewed transcripts whose vertex state is treated as too large to
    * broadcast (shuffle-mode gathers), with fixed supersteps and durable
    * checkpoints: the north-star configuration, scaled down.
    */
  val ZipfShuffleCkpt = Workload("zipf_shuffle_ckpt",
    ZipfInput(convs = 10000, turns = 8, actors = 25000, s = 1.1),
    prMaxIter = 4, prTolerance = 0.0, lpMaxIter = 2, lpEarlyStop = false)

  /** Uniform random graph served cold through the catalog daemon with the
    * daemon's default algorithm settings.
    */
  val UniformServe = Workload("uniform_serve",
    UniformInput(nodes = 500, edges = 40000),
    prMaxIter = 20, prTolerance = 1e-4, lpMaxIter = 20, lpEarlyStop = true)

  val All: Seq[Workload] = Seq(ZipfShuffleCkpt, UniformServe)

  def byName(name: String): Workload = All.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name' " +
      s"(known: ${All.map(_.name).mkString(", ")})"))
}
