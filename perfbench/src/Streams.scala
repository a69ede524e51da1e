package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.core.WindowAgg
import graft.stream.{Pipeline, Sinks, Sources}

/** One generator file: when it was due (its events' creation time), when
  * it landed, and its ground truth. */
final case class Written(idx: Int, dueMs: Long, writtenMs: Long, rows: Long, truth: Gen.Truth)

/** The three collecting subscribers handed to `Sinks.broadcast`. Each
  * collects the batch to the driver, as a pubsub cluster receives it; the
  * batch counts as delivered when the third has returned. */
final class Fanout(tracer: Tracer) {
  final class Rec(val batch: Long) {
    val rows = new Array[Array[Row]](3)
    val ms = new Array[Double](3)
    @volatile var startNs = 0L
    @volatile var spanId = 0L
    @volatile var fanoutMs = 0.0
    @volatile var deliveredMs = -1L
  }
  val recs = new ConcurrentHashMap[Long, Rec]
  val failures = new AtomicLong

  val subscribers: Seq[(Long, DataFrame) => Unit] = (0 until 3).map { i =>
    (id: Long, batch: DataFrame) => {
      val rec = recs.computeIfAbsent(id, new Rec(_))
      if (i == 0) { rec.startNs = System.nanoTime(); rec.spanId = tracer.nextId() }
      tracer.span(s"fanout.sub${i + 1}", s"batch-$id", rec.spanId) { _ =>
        val t0 = System.nanoTime()
        try rec.rows(i) = batch.collect()
        catch { case e: Throwable => failures.incrementAndGet(); throw e }
        rec.ms(i) = (System.nanoTime() - t0) / 1e6
      }
      if (i == 2) {
        val end = System.nanoTime()
        rec.fanoutMs = (end - rec.startNs) / 1e6
        tracer.record(rec.spanId, 0L, s"batch-$id", "fanout", rec.startNs, end)
        rec.deliveredMs = System.currentTimeMillis()
      }
    }
  }
}

/** A progress entry with the source rows it consumed, [from, until) in the
  * query's cumulative `numInputRows`. */
final case class Batch(p: StreamingQueryProgress, from: Long, until: Long) {
  def id: Long = p.batchId
  def rows: Long = until - from
  def startMs: Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def phase(k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  /** When the batch was committed (trigger start + trigger duration). */
  def committedMs: Long = startMs + phase("triggerExecution").toLong
}

/** Generator files in the order the source consumes them, mapped to the
  * batches that took them through the cumulative row offsets. */
final class Feed(val files: IndexedSeq[Written]) {
  val clock = new Stats.RowClock(files.map(f => Stats.FileRow(f.rows, f.dueMs)))
  /** The files batch `b` took; none when its rows split a file. */
  def of(b: Batch): Seq[Written] = clock.wholeFiles(b.from, b.until).toSeq.flatten.map(files)
  def valid(b: Batch): Long = of(b).map(_.truth.validTotal).sum
}

object Streams {
  val vocab: IndexedSeq[String] = graft.core.Schemas.emojiVocab.toIndexedSeq

  /** The executed batches in order. An idle trigger also posts progress,
    * under the next batch's id, with no `addBatch` phase; it is dropped. */
  def batches(progress: Seq[StreamingQueryProgress]): IndexedSeq[Batch] = {
    var cum = 0L
    progress.filter(_.durationMs.containsKey("addBatch")).sortBy(_.batchId).map { p =>
      val b = Batch(p, cum, cum + p.numInputRows); cum = b.until; b
    }.toIndexedSeq
  }

  def consumed(q: StreamingQuery): Long = batches(q.recentProgress.toSeq).lastOption.fold(0L)(_.until)

  /** The flagship pipeline from the drop directory to the subscribers. */
  def broadcastQuery(spark: SparkSession, dir: Path, ckpt: Path, fan: Fanout,
                     trigger: Trigger): StreamingQuery =
    Sinks.broadcast(Pipeline.flagshipFromWire(Sources.envelopeFiles(spark, dir.toString)),
      fan.subscribers)
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .option("checkpointLocation", ckpt.toString)
      .start()

  /** Median of `reps` timings of `once`, in seconds. */
  def setupSeconds(reps: Int)(once: Int => Unit): Double =
    Stats.median((0 until reps).map { i =>
      val t0 = System.nanoTime(); once(i); (System.nanoTime() - t0) / 1e9
    })

  def awaitUntil(timeoutMs: Long)(done: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!done && System.currentTimeMillis() < end) Thread.sleep(20)
    done
  }

  /** `WindowAgg.scaledCount` over each distinct count, so the checkers use
    * the program's own rule on the generator's counts. */
  def scaledOf(spark: SparkSession, counts: Iterable[Long]): Map[Long, Double] = {
    import spark.implicits._
    val distinct = counts.toSeq.distinct
    if (distinct.isEmpty) Map.empty
    else distinct.toDF("cnt")
      .select(col("cnt"), WindowAgg.scaledCount(col("cnt")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** Checks each delivered batch of the flagship broadcast against the
    * generator: the three subscribers saw identical rows, the batch took
    * whole files in creation order, and its rows are exactly the
    * (window, emoji) keys its events touched with the scaled running
    * count. Returns the problems and the valid events they spoil. */
  def checkBroadcast(spark: SparkSession, bs: Seq[Batch], feed: Feed,
                     fan: Fanout): (Seq[String], Long) = {
    val problems = Seq.newBuilder[String]
    val running = scala.collection.mutable.HashMap.empty[(Long, Int), Long]
    val expected = bs.map { b =>
      if (feed.clock.wholeFiles(b.from, b.until).isEmpty) {
        problems += s"batch ${b.id}: rows [${b.from}, ${b.until}) split a generator file"
        None
      } else {
        val touched = feed.of(b).flatMap(_.truth.valid.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
        touched.foreach { case (k, n) => running(k) = running.getOrElse(k, 0L) + n }
        Some(touched.keys.map(k => k -> running(k)).toMap)
      }
    }
    val scaled = scaledOf(spark, expected.flatten.flatMap(_.values))
    val spoiled = bs.zip(expected).collect { case (b, Some(exp)) =>
      val bad = Option(fan.recs.get(b.id)) match {
        case None if b.rows == 0 => None
        case None => Some(s"batch ${b.id}: never delivered")
        case Some(r) if r.rows.exists(_ == null) => Some(s"batch ${b.id}: a subscriber got nothing")
        case Some(r) if r.rows.map(_.map(_.toString).sorted.toSeq).distinct.size != 1 =>
          Some(s"batch ${b.id}: subscribers saw different rows")
        case Some(r) =>
          val got = r.rows(0).toSeq.map { row =>
            val w = row.getAs[Row]("window").getAs[java.sql.Timestamp]("start").getTime / 1000L
            (w, vocab.indexOf(row.getAs[String]("emoji_type"))) -> row.getAs[Double]("scaled_count")
          }
          if (got.map(_._1).distinct.size != got.size) Some(s"batch ${b.id}: a (window, emoji) repeats")
          else if (got.toMap != exp.map { case (k, n) => k -> scaled(n) })
            Some(s"batch ${b.id}: scaled counts differ from the generator's")
          else None
      }
      bad.foreach(problems += _)
      if (bad.isEmpty) 0L else feed.valid(b)
    }.sum
    // events of files no batch took whole count as failed too
    val unread = feed.files.map(_.truth.validTotal).sum - bs.map(feed.valid).sum
    if (bs.lastOption.forall(_.until != feed.clock.totalRows))
      problems += s"consumed ${bs.lastOption.fold(0L)(_.until)} of ${feed.clock.totalRows} rows"
    (problems.result(), spoiled + math.max(0L, unread))
  }

  /** Per-event delivery latency as (creation ms, latency ms, events): each
    * delivered batch's rows mapped back to their creation times. */
  def latencies(bs: Seq[Batch], feed: Feed,
                deliveredMs: Batch => Option[Long]): Seq[(Long, Double, Long)] =
    for (b <- bs; d <- deliveredMs(b).toSeq; (created, n) <- feed.clock.creation(b.from, b.until))
      yield (created, (d - created).toDouble, n)

  /** Valid events per second the pipeline took in, over the batches that
    * started inside [fromMs, toMs): the events of all but the first, over
    * the time between the first's start and the last's. While the pipeline
    * keeps up this is the offered rate; once it falls behind, triggers run
    * back to back and it is the rate it sustains. */
  def intakeEps(bs: Seq[Batch], feed: Feed, fromMs: Long, toMs: Long): Double = {
    val in = bs.filter(b => b.startMs >= fromMs && b.startMs < toMs && b.rows > 0).sortBy(_.startMs)
    require(in.size >= 2, s"fewer than 2 batches started in the window")
    in.tail.map(feed.valid).sum * 1000.0 / (in.last.startMs - in.head.startMs)
  }

  /** Micro-batch engine and state metrics over batches `bs`, with job
    * totals from the listener; `backlogAt` is the backlog at a batch's start. */
  def engineLayers(bs: Seq[Batch], jobs: JobLog,
                   backlogAt: Batch => Double): Map[String, Double] = {
    jobs.settle()
    val live = bs.filter(_.rows > 0)
    require(live.nonEmpty, "no batch with input in the traced window")
    def med(f: Batch => Double): Double = Stats.median(live.map(f))
    val byBatch = jobs.all.groupBy(j => (j.query, j.batch))
    def js(b: Batch) = byBatch.getOrElse((b.p.id.toString, b.id), Nil)
    val backlog = live.map(backlogAt)
    val last = live.last.p
    Map(
      "batch.trigger_ms" -> med(_.phase("triggerExecution")),
      "batch.add_batch_ms" -> med(_.phase("addBatch")),
      "batch.query_planning_ms" -> med(_.phase("queryPlanning")),
      "batch.wal_commit_ms" -> med(_.phase("walCommit")),
      "batch.commit_offsets_ms" -> med(_.phase("commitOffsets")),
      "batch.rows" -> med(_.rows.toDouble),
      "batch.jobs" -> med(js(_).size.toDouble),
      "batch.tasks" -> med(js(_).map(_.tasks.get).sum.toDouble),
      "batch.executor_cpu_ms" -> med(js(_).map(_.cpuNs.get).sum / 1e6),
      "batch.shuffle_write_bytes" -> med(js(_).map(_.shuffleWrite.get).sum.toDouble),
      "batch.driver_gap_ms" -> med(b => b.phase("triggerExecution") - jobs.coveredMs(js(b))),
      "source.latest_offset_ms" -> med(_.phase("latestOffset")),
      "source.get_batch_ms" -> med(_.phase("getBatch")),
      "source.backlog_max_events" -> backlog.max,
      "source.backlog_growth_events" -> (backlog.last - backlog.head),
      "state.rows" -> last.stateOperators.map(_.numRowsTotal).sum.toDouble,
      "state.mem_bytes" -> last.stateOperators.map(_.memoryUsedBytes).sum.toDouble,
      "state.dropped_by_watermark" ->
        bs.flatMap(_.p.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble)
  }

  /** `Pipeline.parse` and `Pipeline.flagship` timed on a static frame of
    * `files` (one micro-batch worth), in ms per million input rows. */
  def staticFrames(ctx: Ctx, files: Seq[Path]): Map[String, Double] = {
    val spark = ctx.spark
    val wire = spark.read.text(files.map(_.toString): _*).select(col("value")).cache()
    val n = wire.count().toDouble
    def timed(name: String)(df: => DataFrame): Double =
      Stats.median((0 until 3).map { i =>
        ctx.tracer.span(name, s"static-$i") { _ =>
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e6
        }
      }) * 1e6 / n
    val parseMs = timed("static.parse")(Pipeline.parse(wire))
    val parsed = Pipeline.parse(wire).cache()
    parsed.count()
    val windowMs = timed("static.window")(Pipeline.flagship(parsed))
    parsed.unpersist(); wire.unpersist()
    Map("parse.ms_per_mrow" -> parseMs, "window.ms_per_mrow" -> windowMs)
  }

  def fanoutLayers(bs: Seq[Batch], fan: Fanout): Map[String, Double] = {
    val recs = bs.filter(_.rows > 0).flatMap(b => Option(fan.recs.get(b.id)))
      .filter(_.deliveredMs > 0)
    require(recs.nonEmpty, "no delivered batch in the traced window")
    val f = recs.map(_.fanoutMs)
    Map(
      "fanout.ms_p50" -> Stats.median(f),
      "fanout.ms_p99" -> Stats.percentile(f, 0.99),
      "fanout.sub1_ms" -> Stats.median(recs.map(_.ms(0))),
      "fanout.sub2_ms" -> Stats.median(recs.map(_.ms(1))),
      "fanout.sub3_ms" -> Stats.median(recs.map(_.ms(2))),
      "fanout.failures" -> fan.failures.get.toDouble)
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
}
