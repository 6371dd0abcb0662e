package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. Jobs are matched by a unique
  * local property set on the calling thread, so jobs of other threads
  * are not counted. Listener events arrive asynchronously: after the
  * block, a fence job under the same property is run, and the count is
  * read once the listener has seen the fence, which is posted after
  * every job of the block.
  */
object JobsStarted {
  private val TagKey = "graft.test.jobTag"

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(TagKey)).foreach { t =>
          if (t != null && t.startsWith(tag)) seen.add(t)
        }
    }
    sc.addSparkListener(listener)
    val previous = sc.getLocalProperty(TagKey)
    try {
      sc.setLocalProperty(TagKey, tag)
      val result = body
      sc.setLocalProperty(TagKey, tag + "/fence")
      sc.parallelize(Seq(1), 1).count(): Unit
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(tag + "/fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(tag + "/fence"), "fence job never reached the listener")
      (result, seen.size - 1)
    } finally {
      sc.setLocalProperty(TagKey, previous)
      sc.removeSparkListener(listener)
    }
  }
}
