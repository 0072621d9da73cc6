package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The printed `graft.Bench` contract line: it must fit a 2,000-byte log
  * tail at the full registry size and parse back to the values measured. */
class BenchSpec extends AnyFunSuite {
  private implicit val fmts: Formats = DefaultFormats

  test("queries print keyed by their registry number") {
    assert(Bench.queryId("q31_dedup_jaccard") == "31")
    assert(Bench.queryId("q105_zarr_packed_sharded_append") == "105")
    val names = SparkEntry.queries.keys.toSeq
    assert(names.map(Bench.queryId).distinct.length == names.length,
      "two registry names share a number")
  }

  test("101 queries at 999.999 s fit a 2,000-byte tail and parse back") {
    val results = (0 until 101).map(i => s"q${i + 10}_some_query_name" -> 999.999)
    val total = results.map(_._2).sum
    val sf = "/data/graft/testdata/sf0.1"
    val line = Bench.contractLine(total, results, sf)
    assert(line.getBytes("UTF-8").length < 2000, s"${line.length} bytes")
    val j = JsonMethods.parse(line)
    assert((j \ "metric").extract[String] == "total")
    assert((j \ "unit").extract[String] == "sec")
    assert((j \ "sf").extract[String] == sf)
    assert((j \ "value").extract[Double] == 100999.899)
    val qs = (j \ "queries").extract[Map[String, Double]]
    assert(qs == results.map { case (k, v) => Bench.queryId(k) -> v }.toMap)
    assert(qs.size == 101)
  }
}
