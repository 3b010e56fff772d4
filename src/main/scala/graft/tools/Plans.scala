package graft.tools
import org.apache.spark.sql.SparkSession
/** Dump formatted physical plans for selected queries (pushdown audit: the
  * formatted scans print their PushedFilters and ReadSchema). The SF
  * directory comes from `SPARK_GRAFT_SF_DIR` (default sf0.01) and the cores
  * from `SPARK_GRAFT_CPUS`, as in `graft.Bench`, so scale-gated shapes
  * (`Tables.spread`) can be audited at any scale. */
object Plans {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.01"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sf)
    args.foreach { n =>
      println(s"===== $n =====")
      println(graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
