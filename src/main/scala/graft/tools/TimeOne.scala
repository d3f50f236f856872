package graft.tools

import org.apache.spark.sql.SparkSession

/** Times selected registered queries in isolation (median of `iters`,
  * after one warmup) — the single-query twin of Bench for plan iteration.
  * Usage: runMain graft.tools.TimeOne <sfDir> <iters> [queryName...]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = if (args.length > 1) args(1).toInt else 3
    val names: Set[String] =
      if (args.length > 2) args.drop(2).toSet else graft.SparkEntry.queries.keySet
    val cpus = graft.SparkEntry.localCores
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the Bench session's production-shape switches — TimeOne exists
      // to attribute BENCH numbers, so it must time the same plans
      .config("spark.graft.q59.verifyExact", "false")
      .config("spark.graft.q130.verifyExact", "false")
      // parity with Bench: same codegen-cache headroom (static conf)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.queries.filter(q => names(q._1)).toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once()
        val ts = Seq.fill(iters)(once()).sorted
        println(f"[timeone] $name%-24s median=${ts(ts.length / 2)}%.3f all=${ts.map(t => f"$t%.3f").mkString(",")}")
      }
    spark.stop()
  }
}
