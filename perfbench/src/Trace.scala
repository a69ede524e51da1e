package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans recorded around the benchmark's calls into each layer. Off, a span
  * costs one branch; on, it is kept in memory and written out at the end. */
object Tracer {
  final case class Span(id: Long, parent: Long, trace: String, name: String,
                        startNs: Long, endNs: Long)
}

final class Tracer {
  import Tracer.Span
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong

  /** Runs `f` inside a span; `f` gets the span id to parent its children. */
  def span[T](name: String, trace: String, parent: Long = 0L)(f: Long => T): T =
    if (!enabled) f(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try f(id) finally spans.add(Span(id, parent, trace, name, t0, System.nanoTime()))
    }

  def nextId(): Long = if (enabled) ids.incrementAndGet() else 0L

  /** Records a span whose start and end the caller measured itself. */
  def record(id: Long, parent: Long, trace: String, name: String,
             startNs: Long, endNs: Long): Unit =
    if (enabled && id != 0L) spans.add(Span(id, parent, trace, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark job and task totals by job, read from the scheduler's public
  * listener channel. A job is attributed to the streaming batch or the
  * job group it ran under. */
final class JobLog extends SparkListener {
  import JobLog.Job

  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageJob = new ConcurrentHashMap[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val j = new Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      prop("sql.streaming.queryId").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
      j.tasks.incrementAndGet()
      j.cpuNs.addAndGet(m.executorCpuTime)
      j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }

  def all: Seq[Job] = jobs.values.asScala.toSeq

  /** Total wall the jobs cover, overlapping jobs counted once. */
  def coveredMs(js: Seq[Job]): Long = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Lets queued listener events land before totals are read: waits until
    * the job count stops changing and every seen job has ended. */
  def settle(): Unit = {
    var last = -1; var tries = 0
    while (tries < 50 && (jobs.size != last || all.exists(_.endMs < 0))) {
      last = jobs.size; tries += 1; Thread.sleep(40)
    }
  }
}

object JobLog {
  final class Job(val id: Int, val group: String, val query: String, val batch: Long,
                  val startMs: Long) {
    @volatile var endMs: Long = -1L
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val shuffleWrite = new AtomicLong
  }
}

/** Every progress event of every streaming query, from the public
  * `StreamingQueryListener` channel. */
final class ProgressLog extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    seen.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    seen.asScala.filter(_.id == queryId).toSeq.sortBy(_.batchId)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"non-finite metric $d")
    else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
