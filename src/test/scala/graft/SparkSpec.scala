package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for ScalaTest suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlContextImplicits: SparkSession = spark

  def edgesDF(edges: Seq[(Long, Long)],
      weights: Seq[Double] = Seq.empty): DataFrame = {
    val s = spark
    import s.implicits._
    val rows =
      if (weights.isEmpty) edges.map { case (u, v) => (u, v, 1.0) }
      else edges.zip(weights).map { case ((u, v), w) => (u, v, w) }
    rows.toDF("src", "dst", "weight")
  }

  /** Runs `body` with the session confs `kv` set, then restores them. */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def allClose(got: Map[Long, Double], expected: Seq[Double],
      tol: Double = 1e-6): Unit = {
    assert(got.size == expected.size,
      s"size mismatch: ${got.size} vs ${expected.size}")
    expected.zipWithIndex.foreach { case (e, i) =>
      val g = got(i.toLong)
      assert(math.abs(g - e) <= tol,
        s"node $i: got $g expected $e (|diff|=${math.abs(g - e)})")
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
