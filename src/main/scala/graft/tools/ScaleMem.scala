package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Memory-pressure certification runner (round-17 verdict item 3): run
  * the named registered queries under a DELIBERATELY small heap
  * (`SPARK_DRIVER_MEM=4g sbt "runMain graft.tools.ScaleMem …"`) and
  * record, per query, the spill the engine actually took — the
  * spills-rather-than-dies proof for the heavy dedup chains whose
  * 100 TB posture was previously argued from plan shape alone.
  *
  * Each query's result is written to `outDir/<name>` parquet (so
  * `tools/check.py` hashes it against the DuckDB oracle — green hashes
  * under pressure are half the claim) and a `SCALE_MEM.json` artifact
  * records wall seconds, disk/memory bytes spilled, and the max
  * per-stage peak execution memory, accumulated from stage-completion
  * listener events.
  *
  * Usage: runMain graft.tools.ScaleMem <sfDir> <outDir> [query...]
  * (default queries: the q63/q72/q83/q125/q237 dedup chain)
  */
object ScaleMem {

  private val DedupFamily = Seq("q63_dedup_clusters", "q72_dedup_purge",
    "q83_split_leakage", "q125_canonical_pick", "q237_text_curation")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq else DedupFamily
    val cpus = graft.SparkEntry.localCores
    // default to a FRESH warehouse: the published layouts these chains
    // lean on (LSH postings, canonical picks, …) must be BUILT inside
    // the constrained heap, or the run certifies a cached read instead
    // of the heavy leg (override to reuse a warm warehouse explicitly)
    val wh = sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
      java.nio.file.Files.createTempDirectory("scalemem_wh_").toString)
    // optional extra session confs ("k=v,k=v") — e.g. forcing q173's
    // single-pass regime as the spill-instrument control
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(',')).map(_.split("=", 2)).map(a => a(0) -> a(1))
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    System.err.println(s"[scalemem] warehouse=$wh heap=${Runtime.getRuntime.maxMemory()}")
    spark.sparkContext.setLogLevel("WARN")

    // per-stage metric accumulation; reset per query
    object M {
      @volatile var diskSpill = 0L
      @volatile var memSpill = 0L
      @volatile var peakExec = 0L
      def reset(): Unit = { diskSpill = 0L; memSpill = 0L; peakExec = 0L }
    }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val tm = e.stageInfo.taskMetrics
        if (tm != null) M.synchronized {
          M.diskSpill += tm.diskBytesSpilled
          M.memSpill += tm.memoryBytesSpilled
          M.peakExec = math.max(M.peakExec, tm.peakExecutionMemory)
        }
      }
    })

    val heap = Runtime.getRuntime.maxMemory()
    new java.io.File(outDir).mkdirs()
    val rows = names.map { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      // listener events are delivered asynchronously: drain the bus so
      // the PREVIOUS query's in-flight StageCompleted events land before
      // the reset, and again after the write so THIS query's final
      // stages are counted before the read (round-19 ADVICE)
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
      M.reset()
      val t0 = System.nanoTime()
      val r =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          "ok"
        } catch { case e: Throwable =>
          System.err.println(s"[scalemem] $name FAILED: ${e.getMessage}")
          "fail"
        }
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
      val line = f"""{"query":"$name","status":"$r","sec":$dt%.2f,""" +
        s""""disk_spill_bytes":${M.diskSpill},""" +
        s""""mem_spill_bytes":${M.memSpill},""" +
        s""""peak_exec_mem_bytes":${M.peakExec}}"""
      System.err.println(s"[scalemem] $line")
      line
    }
    // oracle SQL for the family so check.py can gate the dumped results
    def esc(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oj = graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${esc(k)}: ${esc(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), oj)
    val report =
      s"""{"sfdir":"$sfDir","heap_bytes":$heap,
         |"queries":[${rows.mkString(",\n")}]}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/SCALE_MEM.json"), report)
    println(report)
    spark.stop()
  }
}
