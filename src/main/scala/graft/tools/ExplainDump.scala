package graft.tools

/** Dumps formatted physical plans for selected queries — the plan-review
  * loop the 100 TB design stance requires (broadcasts where expected,
  * filters and pruning pushed into scans, wide codegen spans).
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <queryName>...
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("flagship_updates")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"========== $n ==========")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
