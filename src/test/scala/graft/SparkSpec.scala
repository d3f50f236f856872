package graft

import org.apache.spark.graftbridge.{ListenerDrain, LiveShuffles}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared per-suite SparkSession (local[4], tiny shuffle fan-out — the
  * fixtures are small and a 200-partition default would be all overhead).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** The engine's argmax-assignment quantization (LlmOps.ArgmaxGrid):
    * `round(csim · 2⁴⁰)` half-away-from-zero — spec replays of the cell
    * assignment must rank on this integer, not the raw double. */
  def qGrid(x: Double): Long =
    BigDecimal.valueOf(x * 1099511627776.0d)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Run `body` and return its result with the ids of the RDDs it left
    * persisted. Suites run one at a time in the forked test JVM, so the
    * diff is `body`'s own. */
  def persistedBy[A](body: => A): (A, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = body
    (out, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }

  /** Run `body` and return its result with the number of Spark jobs it
    * started. The listener bus is drained before the listener goes on
    * and before it comes off, so the count is `body`'s own. */
  def jobsRunBy[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(counter)
    try {
      val out = body
      ListenerDrain.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  /** Run `body` and return its result with the shuffles it registered
    * that were still reachable each time it began planning a query
    * (in order; [[org.apache.spark.graftbridge.LiveShuffles]]). The
    * sample runs on the driver thread, inside an extra optimizer rule,
    * after the listener bus is drained (an event in flight may still
    * reference a finished plan), so it sees exactly the plans `body`
    * still holds: a loop that drops each step's plan before planning the
    * next keeps the samples flat, one that keeps every step's plan makes
    * them grow with the step number. */
  def liveShufflesBy[A](body: => A): (A, Seq[Set[Int]]) = {
    val sc = spark.sparkContext
    ListenerDrain.drain(sc)
    val before = LiveShuffles(sc)
    val samples = Seq.newBuilder[Set[Int]]
    val probe = new org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
      def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = {
        ListenerDrain.drain(sc)
        samples += LiveShuffles(sc) -- before
        plan
      }
    }
    val extra = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = extra :+ probe
    try {
      val out = body
      (out, samples.result())
    } finally spark.experimental.extraOptimizations = extra
  }

  override def afterAll(): Unit = {
    // session is shared across suites in one forked JVM; do not stop it.
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet is TIMESTAMP(NANOS) — see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
