package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.serve.TimeSeries
import graft.stream.{Pipeline, Sinks, Sources}

/** Open-loop generator: one file of `eps × tickMs` envelopes per tick,
  * written when due whether or not the pipeline keeps up. A file's events
  * are created at its due time; the file is built before that, so lateness
  * is only the write. */
final class OpenLoop(gen: Gen, dir: Path, eps: Int, tickMs: Int, startMs: Long, endMs: Long)
    extends Thread("perfbench-generator") {
  val written = new java.util.concurrent.CopyOnWriteArrayList[Written]
  @volatile var error: Option[Throwable] = None
  setDaemon(true)

  override def run(): Unit =
    try {
      val perTick = eps * tickMs / 1000
      var i = 0
      while (startMs + i.toLong * tickMs < endMs) {
        val due = startMs + i.toLong * tickMs
        val (bytes, truth) = gen.file(perTick, (due - tickMs) * 1000L, due * 1000L)
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Gen.drop(dir, f"e$i%08d.json", bytes)
        written.add(Written(i, due, System.currentTimeMillis(), perTick, truth))
        i += 1
      }
    } catch { case e: Throwable => error = Some(e) }

  def files: IndexedSeq[Written] = written.asScala.toIndexedSeq
}

object Live {
  /** `broadcast`: the flagship to three subscribers (live_ref); otherwise
    * the raw count table the dashboard reads (dashboard). */
  final case class Spec(eps: Int, broadcast: Boolean)
  val liveRef = Spec(100000, broadcast = true)
  val dashboard = Spec(20000, broadcast = false)
  val tickMs = 100
  val warmMs = 4000L
  /** Out-of-order spread of event times, well inside the 1-minute watermark. */
  val jitterMs = 15000L

  final case class Refresh(window: Int, startMs: Long, ms: Double, callMs: Seq[Double],
                           tableRows: Long, emoji: String, total: String, stats: String)
}

/** live_ref and dashboard: open-loop ingest through the file drop
  * directory. A run warms up, then measures one window of `--seconds`; a
  * traced run measures a second window with the listeners and spans on. */
final class Live(ctx: Ctx, spec: Live.Spec) {
  import Live._
  private def spark: SparkSession = ctx.spark
  private val mapper = new ObjectMapper

  /** The raw per-(window, emoji) count behind the dashboard: the
    * flagship's grouping without the scaling, kept whole in Complete mode
    * (Update mode would append a row per key per batch, which the serve
    * calls then double-count). */
  private[perfbench] def rawCounts(dir: Path): DataFrame =
    Pipeline.parse(Sources.envelopeFiles(spark, dir.toString))
      .withWatermark("event_time", "1 minute")
      .groupBy(window(col("event_time"), "1 minute"), col("emoji_type"))
      .agg(count(lit(1)).as("count"))

  private var tables = 0
  private def startQuery(dir: Path, fan: Fanout): (StreamingQuery, String) =
    if (spec.broadcast)
      (Streams.broadcastQuery(spark, dir, ctx.dir("ckpt"), fan, Sinks.referenceTrigger), "")
    else {
      tables += 1
      val name = s"dash_$tables"
      (Sinks.memory(rawCounts(dir), name, OutputMode.Complete()), name)
    }

  /** Median time from building the query to its first delivered batch,
    * over 3 fresh queries on a one-file input. */
  private def setup(): Double = {
    val one = new Gen(ctx.seed ^ 0x5e7, 0.0, 0.0, jitterMs)
    Streams.setupSeconds(3) { i =>
      val dir = ctx.dir("setup")
      val now = System.currentTimeMillis()
      Gen.drop(dir, "s.json", one.file(1000, (now - 1000) * 1000L, now * 1000L)._1)
      val fan = new Fanout(ctx.tracer)
      val (q, _) = startQuery(dir, fan)
      try {
        val ok = Streams.awaitUntil(60000) {
          if (spec.broadcast) fan.recs.values.asScala.exists(_.deliveredMs > 0)
          else Streams.consumed(q) > 0
        }
        require(ok, s"setup query $i delivered nothing")
      } finally q.stop()
    }
  }

  /** One dashboard refresh: the three reference answers over one snapshot
    * of the serve table, so the answers describe the same state. */
  private[perfbench] def refresh(name: String, window: Int, n: Int): Refresh = {
    val trace = s"refresh-$n"
    ctx.tracer.span("refresh", trace) { parent =>
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val table = spark.table(name)
      val rows = table.collect()
      val snap = spark.createDataFrame(rows.toSeq.asJava, table.schema)
      val minutes = TimeSeries.windowedToMinute(snap)
      def call(span: String)(f: => String): (String, Double) =
        ctx.tracer.span(span, trace, parent) { _ =>
          val c0 = System.nanoTime(); val s = f; (s, (System.nanoTime() - c0) / 1e6)
        }
      val (e, em) = call("serve.emoji_data")(TimeSeries.emojiDataJson(minutes))
      val (t, tm) = call("serve.total_data")(TimeSeries.totalDataJson(
        minutes.groupBy(col("minute")).agg(sum(col("cnt")).as("total_count"))))
      val (s, sm) = call("serve.stats")(TimeSeries.statsJson(minutes))
      Refresh(window, start, (System.nanoTime() - t0) / 1e6, Seq(em, tm, sm),
        rows.length, e, t, s)
    }
  }

  /** Problems with one refresh on its own: the stats total is the sum of
    * every series, no minute repeats within a series, and the breakdown
    * matches the per-emoji series. Returns the answer as counts by
    * (minute, emoji). */
  def checkRefresh(r: Refresh): (Seq[String], Map[(String, String), Long]) = {
    val problems = Seq.newBuilder[String]
    val e = mapper.readTree(r.emoji); val t = mapper.readTree(r.total); val s = mapper.readTree(r.stats)
    val cells = e.fieldNames.asScala.toSeq.flatMap { emoji =>
      e.get(emoji).elements.asScala.toSeq.map(p => (p.get("timestamp").asText, emoji) -> p.get("count").asLong)
    }
    if (cells.map(_._1).distinct.size != cells.size) problems += "a minute repeats within an emoji's series"
    val totals = t.elements.asScala.toSeq.map(p => p.get("timestamp").asText -> p.get("count").asLong)
    if (totals.map(_._1).distinct.size != totals.size) problems += "a minute repeats in the total series"
    // over an empty table the stats sum is null, which to_json omits
    val total = Option(s.get("total_emojis")).fold(0L)(_.asLong)
    if (cells.map(_._2).sum != total) problems += s"stats total $total != sum of emoji series ${cells.map(_._2).sum}"
    if (totals.map(_._2).sum != total) problems += s"stats total $total != sum of total series"
    val breakdown = s.get("emoji_breakdown")
    cells.groupMapReduce(_._1._2)(_._2)(_ + _).foreach { case (emoji, n) =>
      if (Option(breakdown.get(emoji)).map(_.asLong) != Some(n)) problems += s"breakdown of $emoji != its series"
    }
    (problems.result(), cells.toMap)
  }

  def run(): Outcome = {
    val setupS = setup()
    val dir = ctx.dir("drop")
    val gen = new Gen(ctx.seed, 0.0, 0.0, jitterMs)
    val S = (ctx.seconds * 1000).toLong
    val nWin = if (ctx.traced) 2 else 1
    val fan = new Fanout(ctx.tracer)
    val (q, table) = startQuery(dir, fan)
    // processing-time triggers fire on wall-clock multiples of their
    // interval; ticks start 50 ms past one, so every run sees the same
    // phase between ticks and triggers and no tick lands on a trigger
    val t0 = (System.currentTimeMillis() + 200) / 2000 * 2000 + 2050
    val winStart = (0 to nWin).map(k => t0 + warmMs + k * S)
    val gl = new OpenLoop(gen, dir, spec.eps, tickMs, t0, winStart.last)
    gl.start()
    val refreshes = ArrayBuffer.empty[Refresh]
    val readErrors = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread("perfbench-reader") {
      override def run(): Unit = {
        // reads from the start: the warm-up warms the serve path too, and
        // refreshes that start before the first window are not counted
        spark.sparkContext.setJobGroup("refresh", "dashboard refresh", false)
        var n = 0
        var now = System.currentTimeMillis()
        while (now < winStart.last) {
          val w = winStart.lastIndexWhere(_ <= now)
          try refreshes.synchronized(refreshes += refresh(table, w, n))
          catch { case e: Throwable => readErrors.incrementAndGet(); System.err.println(s"refresh failed: $e") }
          n += 1
          now = System.currentTimeMillis()
        }
      }
    }
    if (!spec.broadcast) reader.start()
    var gc0 = 0L
    var tracingMs = Long.MaxValue
    if (ctx.traced) {
      while (System.currentTimeMillis() < winStart(1)) Thread.sleep(5)
      gc0 = Streams.gcMs(); ctx.startTracing(); tracingMs = System.currentTimeMillis()
    }
    gl.join()
    if (!spec.broadcast) reader.join()
    val gcTraced = Streams.gcMs() - gc0
    val files = gl.files
    val total = files.map(_.rows).sum
    val drained = Streams.awaitUntil(60000)(Streams.consumed(q) >= total)
    val finalRefresh = if (spec.broadcast) None else Some(refresh(table, -1, -1))
    val progress = q.recentProgress.toSeq
    q.stop()

    val problems = ArrayBuffer.empty[String]
    gl.error.foreach(e => problems += s"generator failed: $e")
    if (!drained) problems += s"query consumed ${Streams.consumed(q)} of $total rows within 60 s"
    val bs = Streams.batches(progress)
    val feed = new Feed(files)
    val tally = new Stats.Tally
    val validTotal = files.map(_.truth.validTotal).sum

    val delivered: Batch => Option[Long] =
      if (spec.broadcast) b => Option(fan.recs.get(b.id)).map(_.deliveredMs).filter(_ > 0)
      else b => Some(b.committedMs)
    val lat = Streams.latencies(bs, feed, delivered)
    def latency(w: Int, q: Double): Double = Stats.weightedPercentile(lat.collect {
      case (created, ms, n) if created >= winStart(w) && created < winStart(w + 1) => ms -> n
    }, q)

    if (spec.broadcast) {
      val (p, spoiled) = Streams.checkBroadcast(spark, bs, feed, fan)
      problems ++= p
      tally.add("events", validTotal, math.min(validTotal, spoiled))
    } else {
      val truth = files.flatMap(_.truth.valid.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
        .map { case ((w, e), n) =>
          (java.time.LocalDateTime.ofEpochSecond(w, 0, java.time.ZoneOffset.UTC).toString + ":00",
            Streams.vocab(e)) -> n }
      val served = finalRefresh.map(r => checkRefresh(r)._2).getOrElse(Map.empty)
      val missing = truth.map { case (k, n) => math.abs(n - served.getOrElse(k, 0L)) }.sum +
        served.keySet.diff(truth.keySet).toSeq.map(served).sum
      if (missing != 0) problems += s"final refresh differs from the generator by $missing events"
      tally.add("events", validTotal, math.min(validTotal, missing))
      var last = Map.empty[(String, String), Long]
      var badReads = 0L
      refreshes.sortBy(_.startMs).foreach { r =>
        val (p, cells) = checkRefresh(r)
        val shrank = cells.exists { case (k, n) => n < last.getOrElse(k, 0L) } ||
          last.keySet.exists(k => !cells.contains(k))
        if (p.nonEmpty || shrank) { badReads += 1; problems ++= p; if (shrank) problems += "a count decreased between refreshes" }
        last = cells
      }
      tally.add("refreshes", refreshes.size + readErrors.get, badReads + readErrors.get)
    }

    def e2e(w: Int): Map[String, Double] =
      if (spec.broadcast) Map(
        "latency_p50_ms" -> latency(w, 0.5),
        "latency_tail_ms" -> latency(w, 0.99),
        "throughput_per_s" -> Streams.intakeEps(bs, feed, winStart(w), winStart(w + 1)))
      else {
        val rs = refreshes.filter(_.window == w).map(_.ms).toSeq
        require(rs.nonEmpty, s"no refresh completed in window $w")
        Map(
          "latency_p50_ms" -> Stats.median(rs),
          "latency_tail_ms" -> Stats.percentile(rs, 0.75),
          "throughput_per_s" -> rs.size * 1000.0 / rs.sum)
      }
    val untraced = e2e(0) + ("setup_s" -> setupS)

    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        // batches the progress listener saw that started and ended inside
        // the traced window, so the job listener saw all of their jobs
        val tracedIds = ctx.progress.of(q.id).map(_.batchId).toSet
        val tb = bs.filter(b => tracedIds.contains(b.id) && b.startMs >= tracingMs &&
          delivered(b).exists(_ < winStart(2)))
        val traced = e2e(1)
        val lateness = Stats.lateness(files.map(_.dueMs), files.map(_.writtenMs))
        val generatedBy = (t: Long) => files.filter(_.writtenMs <= t).map(_.rows).sum
        val common = Streams.engineLayers(tb, ctx.jobs,
          b => (generatedBy(b.startMs) - b.from).toDouble) ++ Map(
          "ingest.delivery_p50_ms" -> latency(1, 0.5),
          "ingest.delivery_p99_ms" -> latency(1, 0.99),
          "jvm.gc_ms" -> gcTraced.toDouble,
          "gen.lag_p99_ms" -> Stats.percentile(lateness, 0.99),
          "gen.events" -> total.toDouble) ++
          Seq("latency_p50_ms", "latency_tail_ms", "throughput_per_s").map(k =>
            s"trace.overhead_$k" -> (traced(k) - untraced(k)))
        if (spec.broadcast) {
          // one reference trigger's worth of files: eps × 2 s
          val perBatch = (spec.eps * 2L / files.head.rows).toInt
          val static = Streams.staticFrames(ctx,
            files.take(perBatch).map(f => dir.resolve(f"e${f.idx}%08d.json")))
          common ++ Streams.fanoutLayers(tb, fan) ++ static ++ oneCoreDrain(problems)
        } else {
          val rs = refreshes.filter(_.window == 1).toSeq
          val refreshJobs = ctx.jobs.all.count(j => j.group == "refresh" && j.startMs >= winStart(1))
          common ++ Map(
            "serve.emoji_data_ms" -> Stats.median(rs.map(_.callMs(0))),
            "serve.total_data_ms" -> Stats.median(rs.map(_.callMs(1))),
            "serve.stats_ms" -> Stats.median(rs.map(_.callMs(2))),
            "serve.jobs_per_refresh" -> refreshJobs.toDouble / rs.size,
            "serve.table_rows" -> rs.last.tableRows.toDouble)
        }
      }
    Outcome(tally, untraced, layers, problems.toSeq)
  }

  /** The single-thread baseline: a 200k-envelope backlog drained on
    * `local[1]` after a warm-up drain; restarts the session. Its input is
    * the only one with envelopes missing a field, so it also reports what
    * the parse rejected. */
  private def oneCoreDrain(problems: ArrayBuffer[String]): Map[String, Double] = {
    ctx.start(1)
    val drain = new Drain(ctx, 5000)
    val dir = ctx.dir("backlog")
    val files = drain.backlog(dir, 40)
    val runs = Seq(drain.round(dir, files), drain.round(dir, files))
    runs.foreach(r => problems ++= r._3)
    val feed = new Feed(files)
    Map("drain_eps_1core" -> runs.last._1,
      "parse.rejected_rows" -> runs.last._2.flatMap(feed.of).map(_.truth.invalid).sum.toDouble)
  }

}
