package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one fresh JVM, driven by `perfbench/run.py`.
  *
  * A single closed-loop client: this thread issues the workload's
  * registered queries back to back, each executed through a `noop` write
  * as `graft.Bench` does. The run sets up the session once, from JVM
  * entry, runs untimed warm-up passes, then timed passes until `seconds` have
  * passed (whole passes only), optionally one traced pass, and finally
  * materializes each query's result once for the DuckDB check.
  * Everything it measures is written to `<work>/harness.json`; the
  * arithmetic over the samples is done by the Python side.
  */
object Harness {
  final case class Conf(queries: Seq[String], data: String, work: String,
      seconds: Double, seed: Long, trace: Boolean, warmup: Int, minPasses: Int,
      cores: Int)

  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(kv("queries").split(',').toSeq, kv("data"), kv("work"),
      kv("seconds").toDouble, kv("seed").toLong, kv("trace") == "1",
      kv("warmup").toInt, kv("min-passes").toInt, kv("cores").toInt)
  }

  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val c = parse(args)
    val out = new Json
    val registry = graft.SparkEntry.queries
    val warehouse = new File(c.work, "warehouse").getAbsolutePath

    // --- set-up, from JVM entry: class loading, the session with its
    // extensions, the fixtures opened and the smoke query run
    val probe = new Probe
    val spark = session(c, warehouse)
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(probe.streams)
    graft.sources.Layouts.sweepStale(spark, c.data)
    // smoke query, on this run's tables
    graft.queries.Relational.q06PrioritySummary(spark, c.data)
      .write.format("noop").mode("overwrite").save()
    out("setup_s") = secs(entryNs)
    // wall time of each part of the run, for sizing the benchmark
    val parts = new Json
    var partT0 = System.nanoTime()
    def part(name: String): Unit = {
      parts(name) = secs(partT0)
      partT0 = System.nanoTime()
    }
    parts("setup") = secs(entryNs)
    // table metadata is reused across queries, as graft.Bench does; the
    // files never change during a run
    graft.Tables.enableReuse()

    val names = c.queries
    val failures = mutable.LinkedHashMap.empty[String, String]
    val samples = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val sc = spark.sparkContext
    val s = spark

    /** One query through the closed loop; -1 when it throws. */
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        val fn = registry.getOrElse(name,
          throw new NoSuchElementException(s"$name is not registered"))
        fn(s, c.data).write.format("noop").mode("overwrite").save()
        secs(t0)
      } catch { case e: Throwable =>
        if (!failures.contains(name)) {
          failures(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          System.err.println(s"[perfbench] $name FAILED: ${failures(name)}")
        }
        -1.0
      }
    }

    def order(pass: Int): Seq[String] =
      new scala.util.Random(c.seed * 1000003L + pass).shuffle(names)

    val heap = ManagementFactory.getMemoryMXBean
    var liveHeapMb = 0.0
    def boundary(): Totals = {
      ListenerDrain.drain(sc, 60000L)
      quiesceJit()
      System.gc()
      liveHeapMb = math.max(liveHeapMb, heap.getHeapMemoryUsage.getUsed / 1048576.0)
      probe.totals
    }

    // --- warm-up: untimed passes; the first is the cold pass a one-shot
    // job pays. README.md shows how far the JIT has come after them.
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val jit0 = jitMs
    val warm = mutable.ArrayBuffer.empty[Double]
    boundary()
    var coldCounts: (Long, Double, Long) = null
    for (w <- 0 until c.warmup) {
      val t0 = System.nanoTime()
      order(-1 - w).foreach(once)
      warm += secs(t0)
      if (w == 0) {
        val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        val meanMs = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
        coldCounts = (n, n * meanMs / 1000.0, jitMs - jit0)
      }
      // the same boundary as between timed passes: without it the JIT's
      // queue spills into the next pass, and where the compilations land
      // varies from JVM to JVM
      boundary()
    }
    out("warm_passes_s") = warm.toSeq
    part("warmup")

    // --- timed passes: whole passes until `seconds` have passed, and at
    // least `minPasses` so that every run's median has the same footing
    val passes = mutable.ArrayBuffer.empty[Json]
    var pass = 0
    var before = boundary()
    val timedT0 = System.nanoTime()
    while (pass < c.minPasses || secs(timedT0) < c.seconds) {
      val t0 = System.nanoTime()
      order(pass).foreach { n =>
        val dt = once(n)
        if (dt >= 0) samples(n) += dt
      }
      val wall = secs(t0)
      val after = boundary()
      val d = after - before
      before = after
      val p = new Json
      p("wall_s") = wall
      p("task_cpu_s") = d.taskCpuNs / 1e9
      p("jobs") = d.jobs
      passes += p
      pass += 1
    }
    out("passes") = passes.toSeq
    part("timed")
    out("samples") = samples.map { case (k, v) => k -> v.toSeq }.toMap
    out("live_heap_mb") = liveHeapMb

    if (c.trace) {
      val (compiles, compileS, jit) = coldCounts
      val tr = new Tracer(s, probe, warehouse, c.data, c.cores)
      val traced = tr.pass(order(1000000), registry, failures)
      traced("codegen.compiles") = compiles
      traced("codegen.compile_s") = compileS
      traced("jvm.jit_s") = jit / 1000.0
      out("trace") = traced
      Files.writeString(Paths.get(c.work, "trace.json"), tr.spansJson)
      part("traced")
    }

    // --- materialize each result once for the DuckDB check
    val results = new File(c.work, "results")
    names.foreach { n =>
      if (!failures.contains(n)) {
        try registry(n)(s, c.data).coalesce(1).write.mode("overwrite")
          .parquet(new File(results, n).getPath)
        catch { case e: Throwable =>
          failures(n) = s"materialize: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        }
      }
    }
    part("materialize")
    out("parts_s") = parts
    out("failures") = failures.toMap
    val oracles = new Json
    names.foreach(n => graft.SparkEntry.oracleSql.get(n).foreach(sql => oracles(n) = sql))
    out("oracle_sql") = oracles
    Files.writeString(Paths.get(c.work, "harness.json"), out.render)
    spark.stop()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Waits, up to 3 s, until the JIT compilers have been idle for 200 ms,
    * so compilations queued by one pass finish before the next is timed
    * instead of competing with it for the CPUs. */
  def quiesceJit(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    var last = jitMs
    var idle = 0
    while (idle < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jitMs
      if (now == last) idle += 1 else idle = 0
      last = now
    }
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** `graft.Bench`'s session, with shuffle partitions at the core count
    * and every write kept under the run's own directory. */
  def session(c: Conf, warehouse: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", new File(c.work, "spark-local").getAbsolutePath)
      .config("spark.graft.q59.verifyExact", "false")
      .config("spark.graft.q130.verifyExact", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** The traced pass: per query one span each for build (calling the
  * registered function), plan (`queryExecution.executedPlan`) and exec
  * (the `noop` write), with the Spark jobs and stages each phase caused
  * as children. The listener bus is drained at every phase boundary, so
  * counts are exact at the same boundaries as the spans. */
final class Tracer(spark: SparkSession, probe: Probe, warehouse: String,
    data: String, cores: Int) {
  private val spans = mutable.ArrayBuffer.empty[Json]
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private var nextId = 0
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private def span(parent: String, name: String, kind: String, startMs: Double,
      endMs: Double, attrs: (String, Any)*): String = {
    nextId += 1
    val id = s"s$nextId"
    val j = new Json
    j("id") = id
    j("parent") = parent
    j("name") = name
    j("kind") = kind
    j("start_ms") = startMs
    j("end_ms") = endMs
    attrs.foreach { case (k, v) => j(k) = v }
    spans += j
    id
  }

  private def update(id: String, attrs: (String, Any)*): Unit =
    spans.find(_("id") == id).foreach(j => attrs.foreach { case (k, v) => j(k) = v })

  def spansJson: String = {
    val j = new Json
    j("spans") = spans.toSeq
    j.render
  }

  /** Size and modification time of every file under the warehouse. */
  private def files(): Map[String, (Long, Long)] = {
    val root = Paths.get(warehouse)
    if (!Files.isDirectory(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map { (p: Path) =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally st.close()
    }
  }

  /** Bytes of files created or rewritten since `prev`. */
  private def written(prev: Map[String, (Long, Long)], now: Map[String, (Long, Long)]): Long =
    now.collect { case (k, v) if !prev.get(k).contains(v) => v._1 }.sum

  def pass(names: Seq[String], registry: Map[String, Harness.Query],
      failures: mutable.Map[String, String]): Json = {
    val sc = spark.sparkContext
    val phase = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val counts = mutable.Map.empty[String, Totals].withDefaultValue(Totals())
    var storagePeakMb = 0.0
    var blocksLeft = 0L
    var writeBytes = 0L
    val gc0 = Harness.gcMs
    ListenerDrain.drain(sc, 60000L)
    probe.clearRecords()
    probe.recording = true
    val passT0 = System.nanoTime()
    val start = probe.totals

    def storage(): Unit = {
      val infos = sc.getRDDStorageInfo
      val mb = infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
      storagePeakMb = math.max(storagePeakMb, mb)
    }

    names.foreach { name =>
      val q0 = System.nanoTime()
      val qid = span(null, name, "query", epochMs(q0), epochMs(q0))
      val files0 = files()
      var df: DataFrame = null
      def phaseRun(p: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        val pid = span(qid, p, "phase", epochMs(t0), epochMs(t0))
        sc.setLocalProperty(Probe.SpanKey, pid)
        val before = probe.totals
        try body
        finally {
          val t1 = System.nanoTime()
          sc.setLocalProperty(Probe.SpanKey, null)
          ListenerDrain.drain(sc, 60000L)
          val d = probe.totals - before
          phase(p) += (t1 - t0) / 1e9
          counts(p) = counts(p) + d
          storage()
          update(pid, "end_ms" -> epochMs(t1), "jobs" -> d.jobs, "stages" -> d.stages,
            "tasks" -> d.tasks, "task_cpu_s" -> d.taskCpuNs / 1e9)
        }
      }
      try {
        phaseRun("build") { df = registry(name)(spark, data) }
        phaseRun("plan") { df.queryExecution.executedPlan }
        phaseRun("exec") { df.write.format("noop").mode("overwrite").save() }
      } catch { case e: Throwable =>
        if (!failures.contains(name))
          failures(name) = s"traced: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }
      val left = sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
      blocksLeft += left
      val w = written(files0, files())
      writeBytes += w
      update(qid, "end_ms" -> epochMs(System.nanoTime()), "write_mb" -> w / 1048576.0,
        "blocks_left" -> left)
    }
    val passS = Harness.secs(passT0)
    probe.recording = false
    val total = probe.totals - start

    // job and stage children under the phase that submitted them
    probe.synchronized {
      probe.jobs.values.foreach { jr =>
        val parent = jr.span
        val st = jr.stageIds.flatMap(probe.stages.get)
        val jid = span(parent, s"job ${jr.id}", "job", jr.startMs.toDouble, jr.endMs.toDouble,
          "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
          "task_cpu_s" -> st.map(_.cpuNs).sum / 1e9)
        st.foreach { sr =>
          span(jid, s"stage ${sr.id}", "stage", sr.startMs.toDouble, sr.endMs.toDouble,
            "tasks" -> sr.tasks, "task_cpu_s" -> sr.cpuNs / 1e9,
            "task_run_s" -> sr.runMs / 1e3, "detail" -> sr.name)
        }
      }
    }
    probe.clearRecords()

    val b = counts("build")
    val e = counts("exec")
    val m = new Json
    m("trace.pass_s") = passS
    m("queries.build_s") = phase("build")
    m("queries.build_jobs") = b.jobs
    m("queries.build_task_cpu_s") = b.taskCpuNs / 1e9
    m("rules.plan_s") = phase("plan")
    m("exec.s") = phase("exec")
    m("exec.jobs") = e.jobs
    m("exec.stages") = e.stages
    m("exec.tasks") = e.tasks
    m("exec.task_cpu_s") = e.taskCpuNs / 1e9
    m("exec.task_run_s") = e.taskRunMs / 1e3
    m("exec.core_util") =
      if (phase("exec") > 0) e.taskRunMs / 1e3 / (phase("exec") * cores) else 0.0
    m("shuffle.write_mb") = total.shuffleWriteBytes / 1048576.0
    m("shuffle.read_mb") = total.shuffleReadBytes / 1048576.0
    m("shuffle.spill_mb") = total.spillBytes / 1048576.0
    m("sources.input_rows") = total.inputRows
    m("sources.input_mb") = total.inputBytes / 1048576.0
    m("sources.write_mb") = writeBytes / 1048576.0
    m("streaming.batches") = total.batches
    m("streaming.input_rows") = total.streamRows
    m("streaming.state_rows") = total.stateRows
    m("storage.blocks_left") = blocksLeft
    m("storage.peak_mb") = storagePeakMb
    m("jvm.gc_s") = (Harness.gcMs - gc0) / 1e3
    m
  }
}

/** A minimal ordered JSON object writer for the harness's outputs. */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = fields(k) = v
  def apply(k: String): Any = fields(k)
  def render: String = Json.value(this)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case j: Json => j.fields.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => str(other.toString)
  }
}
