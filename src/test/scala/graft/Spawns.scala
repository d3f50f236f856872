package graft

import java.lang.management.ManagementFactory
import java.nio.file.Files

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.metrics.source.CodegenMetrics

import scala.jdk.CollectionConverters._

/** The processes a piece of code starts, as the JVM's flight recorder
  * sees them (`jdk.ProcessStart`, with the starting thread's stack).
  *
  * As a main it is the spawn census: per query, the processes one warm
  * run starts (after one cold run, in the test session), with the
  * whole-stage classes that run compiled and the JVM classes it loaded:
  * {{{
  *   sbt "Test/runMain graft.Spawns <sfDir> <query>..."
  * }}}
  */
object Spawns {

  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.session
    val classes = ManagementFactory.getClassLoadingMXBean
    for (name <- args.tail) {
      def run(): Unit = SparkEntry.queries(name)(spark, args.head)
        .write.format("noop").mode("overwrite").save()
      run()
      val ((compiled, loaded), spawned) = by {
        val (c0, l0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
          classes.getTotalLoadedClassCount)
        run()
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
          classes.getTotalLoadedClassCount - l0)
      }
      println(s"[spawns] $name all=${spawned.size} " +
        s"hadoop_shell=${hadoopShell(spawned).size} (${census(spawned)}) " +
        s"codegen=$compiled classes=$loaded")
    }
    spark.stop()
  }

  /** Run `body` and return its result with the processes started while
    * it ran, on any thread. */
  def by[A](body: => A): (A, Seq[RecordedEvent]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("graft_spawns_", ".jfr")
    try {
      rec.dump(file)
      (out, RecordingFile.readAllEvents(file).asScala.toSeq)
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** The spawns Hadoop's `Shell` made: what a Hadoop filesystem call
    * forks when it has no native or `java.nio` form. Not counted: the
    * `setsid` probe of `Shell`'s class initializer, made once per JVM,
    * and Spark's own forks (its async `rm -rf` of a session's artifact
    * directory). */
  def hadoopShell(events: Seq[RecordedEvent]): Seq[RecordedEvent] =
    events.filter { e =>
      val shell = e.getStackTrace.getFrames.asScala.map(_.getMethod)
        .filter(_.getType.getName == "org.apache.hadoop.util.Shell")
      shell.nonEmpty && !shell.exists(_.getName == "<clinit>")
    }

  /** The program a spawn ran (`chmod`, `readlink`, ...). */
  def program(e: RecordedEvent): String =
    e.getString("command").trim.split("\\s+").head.split('/').last

  /** "56 readlink, 60 chmod": spawns counted per program. */
  def census(events: Seq[RecordedEvent]): String =
    events.groupBy(program).toSeq.sortBy(_._1)
      .map { case (prog, es) => s"${es.size} $prog" }.mkString(", ")
}
