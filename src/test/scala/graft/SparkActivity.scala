package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Spark work launched by one block: its job count and the task count of
  * every stage it submitted. */
final case class SparkActivity(jobs: Int, stageTasks: Seq[Int])

object SparkActivity {
  private val TagKey = "graft.spec.activity"

  /** Runs `body` on the calling thread with a fresh local-property tag and
    * counts only the jobs and stages carrying that tag, so work from
    * other suites on the shared SparkContext never leaks into the count. */
  def during[A](spark: SparkSession)(body: => A): (SparkActivity, A) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val stages = new ConcurrentLinkedQueue[Int]()
    def tagged(p: java.util.Properties) = p != null && p.getProperty(TagKey) == tag
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagged(e.properties)) stages.add(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try {
      val out = body
      ListenerBusDrain(sc)
      (SparkActivity(jobs.get(), stages.asScala.toSeq), out)
    } finally {
      sc.setLocalProperty(TagKey, prev)
      sc.removeSparkListener(listener)
    }
  }
}
