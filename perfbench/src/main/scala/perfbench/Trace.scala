package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around public calls, plus a listener that charges Spark jobs,
  * stages and task metrics to the span whose job group submitted them.
  *
  * Every timed call runs inside [[span]], which records its wall interval
  * on one clock (epoch milliseconds with sub-millisecond precision, the
  * clock listener events use). When the listener is attached and the span
  * is sampled, the span also sets a job group `pb-<spanId>` on the calling
  * thread, so the listener can attribute each job to it. All aggregation
  * (interval unions, driver time, self time, percentiles) happens after
  * the run, from the raw records this object keeps in memory.
  */
final class Trace(sc: SparkContext, listen: Boolean) {
  import Trace._

  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = -1L
  }
  private val nanoBase = System.nanoTime()
  private val milliBase = System.currentTimeMillis().toDouble
  @volatile private var lastEvent = System.nanoTime()

  def now(): Double = milliBase + (System.nanoTime() - nanoBase) / 1e6

  /** Run `body` as one span of `layer`. `attrs` are numbers about the call
    * (state size, input bytes) kept with the span. An unsampled span
    * records no jobs: comparing sampled with unsampled calls prices the
    * tracing itself.
    */
  def span[A](layer: String, attrs: Map[String, Double] = Map.empty,
              sampled: Boolean = true)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = current.get()
    val traced = listen && sampled
    val prevGroup = sc.getLocalProperty(GroupKey)
    val prevDesc = sc.getLocalProperty(DescKey)
    if (traced) sc.setJobGroup(s"pb-$id", layer)
    current.set(id)
    val t0 = now()
    try {
      val out = body
      spans.add(Span(id, parent, layer, t0, now(), traced, attrs))
      out
    } finally {
      current.set(parent)
      if (traced) {
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc)
      }
    }
  }

  val listener: SparkListener = new SparkListener {
    private def seen(): Unit = lastEvent = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      seen()
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty(GroupKey)))
        .getOrElse("")
      if (group.startsWith("pb-")) {
        val j = new Job(e.jobId, group.drop(3).toLong, e.time, e.stageIds)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.put(s, j))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      seen()
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      seen()
      val j = stageJob.get(e.stageInfo.stageId)
      if (j != null) j.synchronized { j.stagesRun += 1 }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      seen()
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.deserMs += m.executorDeserializeTime
        j.resultBytes += m.resultSize
        j.gcMs += m.jvmGCTime
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
        // Scheduler delay as the Spark UI derives it: the task's lifetime
        // minus the time it ran, deserialized and shipped its result.
        val info = e.taskInfo
        val life = info.finishTime - info.launchTime
        j.schedMs += math.max(0L, life - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime
           else 0L))
      }
    }
  }

  if (listen) sc.addSparkListener(listener)

  /** Wait until the listener bus has been quiet for a moment, so every
    * job's end and task events are in before the records are read.
    */
  def drain(): Unit = if (listen) {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (System.nanoTime() - lastEvent < 300000000L ||
        jobs.values.asScala.exists(_.end < 0))) Thread.sleep(50)
    sc.removeSparkListener(listener)
  }

  def spanRecords: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def jobRecords: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Raw records as JSON: spans `[id, parent, layer, start, end, traced,
    * attrs]`
    * and jobs `[id, span, submit, end, stages, stagesRun, tasks, runMs,
    * deserMs, schedMs, resultBytes, gcMs, shuffleRead, shuffleWrite,
    * spill, output]`.
    */
  def toJson: String = {
    val sp = spanRecords.map(s =>
      s"""[${s.id},${s.parent},${Json.str(s.layer)},${Json.num(s.start)},""" +
        s"""${Json.num(s.end)},${if (s.traced) 1 else 0},""" +
        s"""${Json.obj(s.attrs.map { case (k, v) => k -> Json.num(v) })}]""")
    val jb = jobRecords.map(j => j.synchronized {
      Seq[Any](j.id, j.span, j.submit, j.end, j.stageIds.size, j.stagesRun,
        j.tasks, j.runMs, j.deserMs, j.schedMs, j.resultBytes, j.gcMs,
        j.shuffleReadBytes, j.shuffleWriteBytes, j.spillBytes,
        j.outputBytes).mkString("[", ",", "]")
    })
    s"""{"spans":${sp.mkString("[", ",\n", "]")},""" +
      s""""jobs":${jb.mkString("[", ",\n", "]")}}"""
  }
}

object Trace {
  /** One finished span: `traced` says whether its jobs were recorded. */
  final case class Span(id: Long, parent: Long, layer: String,
                        start: Double, end: Double, traced: Boolean,
                        attrs: Map[String, Double])

  /** Per-job totals, filled in as events arrive. */
  final class Job(val id: Int, val span: Long, val submit: Long,
                  val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
    var stagesRun = 0
    var tasks = 0L
    var runMs = 0L
    var deserMs = 0L
    var schedMs = 0L
    var resultBytes = 0L
    var gcMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
  }
}

/** Minimal JSON rendering for the raw record file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** Counts attempted and failed operations; keeps the first failure
  * messages so a failed run says what went wrong.
  */
final class Checks {
  private val attemptedN = new AtomicLong(0)
  private val failedN = new AtomicLong(0)
  private val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Count one operation; it fails when `ok` is false. */
  def record(ok: Boolean, what: => String): Boolean = {
    attemptedN.incrementAndGet()
    if (!ok) {
      failedN.incrementAndGet()
      if (messages.size < 20) messages.add(what)
    }
    ok
  }

  /** Run one operation, counting a thrown exception as a failure. */
  def attempt[A](what: String)(body: => A): Option[A] =
    try Some(body)
    catch {
      case e: Exception =>
        record(ok = false, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  def attempted: Long = attemptedN.get()
  def failed: Long = failedN.get()

  def toJson: String = Json.obj(Seq(
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "messages" -> Json.arr(messages.asScala.map(Json.str))))
}
