package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Span tracer for the traced run. A span wraps one call into an engine
  * module's public function. While it is open, the calling thread's Spark
  * local property `perfbench.span` names it, so every job the call
  * launches — including jobs Spark submits from its own pools, which
  * inherit the caller's local properties — is attributed to it by a
  * [[SparkListener]] that sums the jobs' task metrics.
  *
  * Disabled, `span` is a plain call: the untraced run installs no
  * listener and sets no property. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile private var on = false
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val spans = mutable.ArrayBuffer[SpanRec]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sc = spark.sparkContext
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  /** Op id stamped on spans opened from now on (set by the op loop). */
  @volatile var op: Long = -1L
  /** Parent for spans opened on a thread with no open span of its own;
    * see [[spanAcross]]. */
  @volatile private var crossParent: Long = 0L

  def enabled: Boolean = on

  /** Epoch milliseconds on the monotonic clock (comparable with Spark's
    * job-event times, precise to the nanosecond clock). */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, JobRec(e.jobId, span, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      val m = e.taskMetrics
      if (j.isDefined && m != null) j.get.synchronized {
        val r = j.get
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuMs += m.executorCpuTime / 1e6
        r.deserMs += m.executorDeserializeTime
        r.gcMs += m.jvmGCTime
        r.inputBytes += m.inputMetrics.bytesRead
        r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def start(): Unit = { sc.addSparkListener(listener); on = true }

  /** Stop attributing and wait until the listener has seen every event. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    on = false
    sc.removeSparkListener(listener)
  }

  /** Run `body` inside span `name` (no-op wrapper when tracing is off). */
  def span[A](name: String)(body: => A): A = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val outer = stack.get
    val parent = outer.headOption.getOrElse(crossParent)
    val rec = SpanRec(id, name, parent, op, nowMs)
    val prevProp = sc.getLocalProperty(Prop)
    val prevDesc = sc.getLocalProperty("spark.job.description")
    stack.set(id :: outer)
    sc.setLocalProperty(Prop, id.toString)
    sc.setJobDescription(name)
    try body
    finally {
      rec.endMs = nowMs
      stack.set(outer)
      sc.setLocalProperty(Prop, prevProp)
      sc.setJobDescription(prevDesc)
      spans.synchronized { spans += rec }
    }
  }

  /** As [[span]], and spans opened meanwhile on threads with no open span
    * of their own nest under it: the streaming query thread runs the
    * `foreachBatch` body under the op span of the generator thread. */
  def spanAcross[A](name: String)(body: => A): A = span(name) {
    crossParent = stack.get.headOption.getOrElse(0L)
    try body finally crossParent = 0L
  }

  private val counters = mutable.ArrayBuffer[(String, String, Long, Double)]()
  private val progress = mutable.ArrayBuffer[Map[String, Any]]()

  /** Record a layer counter for the current op (traced sections only). */
  def count(span: String, key: String, v: Double): Unit =
    if (on) counters.synchronized { counters += ((span, key, op, v)) }

  /** Record one streaming micro-batch's progress. */
  def progressed(p: Map[String, Any]): Unit = progress.synchronized { progress += p }

  def counterRecords: Seq[(String, String, Long, Double)] =
    counters.synchronized(counters.toList)

  def progressRecords: Seq[Map[String, Any]] = progress.synchronized(progress.toList)

  def spanRecords: Seq[SpanRec] = spans.synchronized(spans.toList)

  def jobRecords: Seq[JobRec] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.sortBy(_.id)
  }
}

object Tracer {
  val Prop = "perfbench.span"

  final case class SpanRec(id: Long, name: String, parent: Long, op: Long,
      startMs: Double) {
    var endMs: Double = startMs
  }

  final case class JobRec(id: Int, span: Long, startMs: Double) {
    var endMs: Double = startMs
    var tasks = 0L
    var runMs = 0L
    var cpuMs = 0.0
    var deserMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
  }
}
