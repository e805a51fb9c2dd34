package graft

import graft.fixtures.Fixtures
import graft.graph.LinkGraph
import org.apache.spark.sql.graft.CachedQueries
import org.apache.spark.storage.StorageLevel

/** A LinkGraph releases only the caches it built: cache entries are keyed
  * by plan, so two graphs over the same edges share them.
  */
class LinkGraphCacheSpec extends SparkSpec {

  test("a second graph's unpersistCaches leaves the first graph's views " +
      "cached") {
    val before = CachedQueries.count(spark)
    val edges = edgesDF(Fixtures.randomEdges(200, 900, seed = 7L))
    def views(g: LinkGraph) = Seq("multiplicities" -> g.multiplicities,
      "multiplicitiesBySrc" -> g.multiplicitiesBySrc,
      "minWeightBySrc" -> g.minWeightBySrc)
    val graph = LinkGraph(edges)
    views(graph).foreach(_._2.count())
    val twin = LinkGraph(edges)
    views(twin).foreach(_._2.count())
    twin.unpersistCaches()
    views(graph).foreach { case (name, df) =>
      assert(df.storageLevel != StorageLevel.NONE, name) }
    graph.unpersistCaches()
    assert(CachedQueries.count(spark) == before)
  }
}
