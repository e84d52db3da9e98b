package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Shuffle write counters of one action, read from task-end events: a
  * measure of how much a plan ships that does not vary run to run.
  */
object ShuffleRecords {

  /** What `body`'s jobs wrote to the shuffle: the records summed over
    * every shuffle map task, and the number of those tasks. Jobs are
    * told apart by a job group set for `body` only, so events of other
    * work in the session are not counted.
    */
  final case class Written(records: Long, mapTasks: Int)

  def written[T](spark: SparkSession)(body: => T): (T, Written) = {
    val sc = spark.sparkContext
    val group = s"shuffle-records-${UUID.randomUUID()}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val records = new AtomicLong
    val tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          e.stageIds.foreach(stages.add(_))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskType == "ShuffleMapTask" &&
          e.taskMetrics != null) {
          records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
          tasks.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counting shuffle records")
    try {
      val out = body
      org.apache.spark.graft.ListenerDrain.drain(sc)
      (out, Written(records.get, tasks.get))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
