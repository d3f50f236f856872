package graft.tools

import org.apache.spark.sql.SparkSession

/** Prints formatted physical plans for selected registered queries — the
  * audit loop the brief prescribes (explain until it's the plan you'd
  * want, not the first one that passed).
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val names: Set[String] = if (args.nonEmpty) args.toSet else graft.SparkEntry.queries.keySet
    val cpus = graft.SparkEntry.localCores
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // events.parquet is TIMESTAMP(NANOS) — see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries.filter(q => names(q._1)).toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        println(fn(spark, "/root/testdata/sf0.001").queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    spark.stop()
  }
}
