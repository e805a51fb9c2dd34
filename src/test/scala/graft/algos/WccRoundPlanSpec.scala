package graft.algos

import graft.SparkSpec
import graft.fixtures.Fixtures
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Cut

/** One broadcast-mode hash-min + pointer-jump round runs its edge shuffle
  * once: the neighbour-min aggregation feeds both the propagated labels
  * and the pointer-jump side, and the final (post-AQE) plan reuses its
  * exchange instead of planning the aggregation twice.
  */
class WccRoundPlanSpec extends SparkSpec {

  test("broadcast-mode WCC round reuses the neighbour-min exchange") {
    val s = spark
    import s.implicits._
    val canon = edgesDF(Fixtures.randomEdges(500, 3000, seed = 3L))
      .filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("src"),
        greatest($"src", $"dst").as("dst"))
      .distinct()
      .transform(Cut(_))
    val und = Wcc.undirected(canon, 8)
    val state = spark.range(0, 500, 1, 8)
      .select($"id", $"id".as("lbl"), $"id".as("prev"))
      .transform(Cut(_))
    val round = Wcc.minLabelRound(und, state, broadcast(_))
    round.collect()
    val finalPlan = round.queryExecution.executedPlan.toString
      .linesIterator.takeWhile(!_.contains("Initial Plan")).toSeq
    def count(marker: String) = finalPlan.count(_.contains(marker))
    assert(count("functions=[min(lbl") == 1, finalPlan.mkString("\n"))
    assert(count("ReusedExchange") >= 1, finalPlan.mkString("\n"))
  }
}
