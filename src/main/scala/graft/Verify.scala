package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (builder-side
    // single-query iteration; the driver always passes exactly two)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = SparkEntry.localCores
    // decoupled for the partition-invariance probe: re-running the board
    // at e.g. 200 shuffle partitions on the same cores must produce
    // hash-identical results — sort-tie and bucket-count assumptions
    // hide exactly there
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet is TIMESTAMP(NANOS) — see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // startup-time warehouse hygiene: reclaim layout generations
    // orphaned by a driver fixture regeneration (single-process point —
    // safe to delete; see Layouts.sweepStale)
    val swept = graft.sources.Layouts.sweepStale(spark, sfDir)
    if (swept.nonEmpty)
      System.err.println(s"[verify] swept ${swept.size} stale layout dir(s)")
    // oracle type-lint: fail the WHOLE run (before any query executes)
    // if any oracle's final output carries a silently-widened DuckDB
    // aggregate type — the q160 incident class (see OracleLint)
    val lintViolations = OracleLint.lintAll(SparkEntry.oracleSql)
    if (lintViolations.nonEmpty) {
      lintViolations.foreach(v => System.err.println(s"[verify] LINT $v"))
      spark.stop()
      sys.exit(1)
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
