package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.graft.GraftPlanning

/** A listener's counters are complete once `drainListeners` returns, even
  * when the listener is slower than the job that feeds it. */
class ListenerDrainSpec extends SparkSpec {
  test("drainListeners: a slow listener has seen every stage of a finished job") {
    val sc = spark.sparkContext
    GraftPlanning.drainListeners(spark) // earlier suites' events are not ours
    val completed = new AtomicInteger
    val slow = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        Thread.sleep(50); completed.incrementAndGet()
      }
    }
    sc.addSparkListener(slow)
    try {
      // two shuffles → three stages in one job
      sc.parallelize(1 to 1000, 4).map(i => (i % 7, i)).reduceByKey(_ + _, 3)
        .map { case (k, v) => (v % 2, k) }.groupByKey(2).count()
      GraftPlanning.drainListeners(spark)
      assert(completed.get === 3)
    } finally sc.removeSparkListener(slow)
  }
}
