package graft.operators

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("labelProp matches driver union-find on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 300).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
    val dist = asMap(ConnectedComponents.labelProp(edges.toDF("src", "dst")))
    val local = ConnectedComponents.unionFindLocal(edges.iterator)
    assert(dist.keySet == local.keySet)
    dist.keys.foreach(k => assert(dist(k) == local(k), s"node $k: ${dist(k)} vs ${local(k)}"))
  }

  test("path graph collapses to one component (diameter stress)") {
    val edges = (0L until 63L).map(i => (i, i + 1))
    val dist = asMap(ConnectedComponents.labelProp(edges.toDF("src", "dst")))
    assert(dist.values.toSet == Set(0L))
    assert(dist.size == 64)
  }

  test("auto picks driver path for small graphs and matches labelProp") {
    val rnd = new scala.util.Random(3)
    val edges = (1 to 150).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    val viaAuto = asMap(ConnectedComponents.auto(edges.toDF("src", "dst")))
    val viaProp = asMap(ConnectedComponents.labelProp(edges.toDF("src", "dst")))
    assert(viaAuto == viaProp)
  }

  test("disjoint cliques stay separate") {
    val c1 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val c2 = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)
    val dist = asMap(ConnectedComponents.labelProp((c1 ++ c2).toDF("src", "dst")))
    assert((0L to 3L).forall(dist(_) == 0L))
    assert((10L to 13L).forall(dist(_) == 10L))
  }
}
