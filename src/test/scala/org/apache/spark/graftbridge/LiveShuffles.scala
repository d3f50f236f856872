package org.apache.spark.graftbridge

import scala.jdk.CollectionConverters._

import org.apache.spark.{CleanShuffle, CleanupTaskWeakReference, ContextCleaner, SparkContext}

/** The shuffles whose `ShuffleDependency` is still strongly reachable:
  * the ones the ContextCleaner may not yet release, so their map outputs
  * and shuffle files stay on disk. `System.gc()` first clears every weak
  * reference whose plan is unreachable, so the answer does not depend
  * on when the cleaner thread last ran. The cleaner's reference buffer
  * is a private field, read by reflection (test-only bridge). */
object LiveShuffles {
  private val buffer = {
    val f = classOf[ContextCleaner].getDeclaredField("referenceBuffer")
    f.setAccessible(true)
    f
  }

  /** The shuffle a stage writes, if it is a map stage. */
  def writtenBy(stage: org.apache.spark.scheduler.StageInfo): Option[Int] =
    stage.shuffleDepId

  def apply(sc: SparkContext): Set[Int] = {
    System.gc()
    val cleaner = sc.cleaner.getOrElse(sys.error("spark.cleaner.referenceTracking is off"))
    buffer.get(cleaner).asInstanceOf[java.util.Set[CleanupTaskWeakReference]]
      .asScala.toSeq
      .filter(_.get() != null)
      .map(_.task)
      .collect { case CleanShuffle(id) => id }
      .toSet
  }
}
