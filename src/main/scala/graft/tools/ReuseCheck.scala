package graft.tools
import org.apache.spark.sql.SparkSession
/** Executes a registered query and reports corpus-scan and
  * exchange-reuse counts from the FINAL adaptive plan — the quick audit
  * for "how many times does this query really read the table". */
object ReuseCheck {
  def main(args: Array[String]): Unit = {
    val cpus = graft.SparkEntry.localCores
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      df.collect()
      val full = df.queryExecution.executedPlan.toString
      val finalPlan = full.split("== Initial Plan ==").head
      val scans = "Scan parquet".r.findAllIn(finalPlan).length
      val reused = "ReusedExchange".r.findAllIn(finalPlan).length
      println(s"[reuse] $name scans=$scans reusedExchange=$reused")
    }
    spark.stop()
  }
}
