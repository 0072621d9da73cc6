package graft

/** Plan-audit helper: `runMain graft.Explain q65_dedup_clusters ...` prints
  * the formatted physical plan of each named registry query (default: a
  * join-heavy and an agg-heavy representative) against sf0.01. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq else Seq("q05_join5", "q09_agg_q1")
    names.foreach { n =>
      println(s"=== $n ===")
      SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
