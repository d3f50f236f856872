package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one ownership rule for eager `localCheckpoint` snapshots.
  *
  * A snapshot the result reads belongs to the result: the returned
  * plan's `LogicalRDD` leaf holds the blocks until the frame is dropped,
  * and Spark's ContextCleaner frees them then. Such a snapshot stays a
  * plain `localCheckpoint(eager = true)`.
  *
  * Every other snapshot is released by the function that made it, after
  * its last consumer has run, through [[release]] (or [[using]], which
  * checkpoints and releases around a body). `Dataset.unpersist` does not
  * free a snapshot's blocks: the checkpointed RDD is not in the cache
  * manager, so it would stay in storage until a GC let the ContextCleaner
  * find it.
  */
object Snapshots {

  /** Free the blocks of `snapshot`, a frame returned by
    * `localCheckpoint(eager = true)`. Any later read of it fails. Throws
    * when the frame's root is not a `LogicalRDD`: a frame derived from a
    * snapshot must never free the snapshot it reads.
    */
  def release(snapshot: DataFrame): Unit = snapshot.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case other => throw new IllegalArgumentException(
      s"release expects a localCheckpoint snapshot, got a ${other.nodeName} root")
  }

  /** Snapshot `plan` eagerly, run `body` on the snapshot, and release it
    * however `body` ends. `body`'s result must not read the snapshot. */
  def using[A](plan: DataFrame)(body: DataFrame => A): A = {
    val snapshot = plan.localCheckpoint(eager = true)
    try body(snapshot) finally release(snapshot)
  }
}
