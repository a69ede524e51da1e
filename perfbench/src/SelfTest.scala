package perfbench

/** Checks of the benchmark itself. [[arithmetic]] runs at the start of
  * every run; a failure stops the run before it measures anything. */
object SelfTest {
  def arithmetic(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) bad += s"$what: got $got, want $want"
    import Stats._

    // count-weighted percentiles: one file of 90 events at 10 ms and one of
    // 10 at 500 ms is 100 events; the 90th is at 10 ms, the 91st at 500 ms
    val w = Seq(500.0 -> 10L, 10.0 -> 90L)
    expect("weighted p50", weightedPercentile(w, 0.5), 10.0)
    expect("weighted p90", weightedPercentile(w, 0.9), 10.0)
    expect("weighted p91", weightedPercentile(w, 0.91), 500.0)
    expect("weighted p99", weightedPercentile(w, 0.99), 500.0)
    expect("zero weights ignored", weightedPercentile(Seq(1.0 -> 0L, 2.0 -> 3L), 0.01), 2.0)
    expect("nearest rank p50 of 1..4", percentile(Seq(4.0, 1.0, 3.0, 2.0), 0.5), 2.0)
    expect("p100", percentile(Seq(4.0, 1.0, 3.0), 1.0), 4.0)

    // row offsets to creation times across file and batch boundaries:
    // files of 3, 2 and 4 rows created at 100, 200 and 300 ms
    val clock = new RowClock(IndexedSeq(FileRow(3, 100), FileRow(2, 200), FileRow(4, 300)))
    expect("total rows", clock.totalRows, 9L)
    expect("range inside one file", clock.creation(1, 3), Seq(100L -> 2L))
    expect("range across files", clock.creation(2, 7), Seq(100L -> 1L, 200L -> 2L, 300L -> 2L))
    expect("empty range", clock.creation(5, 5), Nil)
    expect("whole files", clock.wholeFiles(3, 9), Some(1 until 3))
    expect("no files", clock.wholeFiles(5, 5), Some(2 until 2))
    expect("split file", clock.wholeFiles(2, 5), None)
    // consecutive batches cover every row exactly once
    val cuts = Seq(0L, 3L, 5L, 9L)
    expect("batches cover each row once",
      cuts.sliding(2).map { case Seq(a, b) => clock.creation(a, b).map(_._2).sum }.sum, 9L)

    // generator lateness: early writes are on time
    expect("lateness", lateness(Seq(1000L, 1100L, 1200L), Seq(990L, 1150L, 1200L)),
      Seq(0.0, 50.0, 0.0))

    // failed_ratio denominators: every kind's attempts count once
    val t = new Tally
    t.add("events", 1000, 10); t.add("refreshes", 40, 2); t.add("queries", 22, 0); t.add("events", 1000, 0)
    expect("attempted", t.attempted, 2062L)
    expect("failed", t.failed, 12L)
    expect("ratio", t.ratio, 12.0 / 2062)
    expect("empty tally refuses a ratio",
      scala.util.Try(new Tally().ratio).isFailure, true)
    expect("failed above attempted refused",
      scala.util.Try(new Tally().add("x", 1, 2)).isFailure, true)

    // the generator's two timestamp styles
    expect("python isoformat", Gen.timestamp(1732019696789123L, js = false), "2024-11-19T12:34:56.789123")
    expect("python isoformat, whole second", Gen.timestamp(1732019696000000L, js = false), "2024-11-19T12:34:56")
    expect("JS toISOString", Gen.timestamp(1732019696789123L, js = true), "2024-11-19T12:34:56.789Z")
    bad.result()
  }

  /** Feeds the dashboard checker a serve table in Update mode, which
    * `Sinks.memory` fills with one row per (window, emoji) per batch: three
    * events of one emoji and minute in two batches. Whenever that table's
    * answers differ from the truth (3 events), the checker must flag the
    * refresh; the outcome also says whether the table double-counted. */
  def updateModeProbe(ctx: Ctx): Outcome = {
    val live = new Live(ctx, Live.dashboard)
    val dir = ctx.dir("probe")
    val q = graft.stream.Sinks.memory(live.rawCounts(dir), "probe_update",
      org.apache.spark.sql.streaming.OutputMode.Update())
    val problems = Seq.newBuilder[String]
    def envelope(sec: Int) =
      s"""{"user_id": "u$sec", "emoji_type": "${Streams.vocab(0)}", "timestamp": "2024-11-19T12:34:${10 + sec}.000001"}"""
    try {
      Seq(Seq(0, 1), Seq(2)).zipWithIndex.foreach { case (secs, i) =>
        Gen.drop(dir, s"p$i.json", secs.map(envelope).mkString("", "\n", "\n").getBytes("UTF-8"))
        q.processAllAvailable()
      }
      val r = live.refresh("probe_update", 0, 0)
      val (flags, _) = live.checkRefresh(r)
      val total = ctx.spark.table("probe_update").count()
      val served = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.stats)
        .get("total_emojis").asLong
      val doubled = served != 3L
      System.err.println(s"update-mode probe: table rows $total, served total $served of 3 events, " +
        s"checker flags: ${if (flags.isEmpty) "none" else flags.mkString("; ")}")
      if (doubled && flags.isEmpty) problems += "the dashboard checker passed a double-counting Update-mode table"
      if (!doubled && flags.nonEmpty) problems += s"the checker flagged a correct table: ${flags.mkString("; ")}"
      val tally = new Stats.Tally
      tally.add("probes", 1, if (problems.result().isEmpty) 0 else 1)
      Outcome(tally, Map.empty, Map("update_mode.double_counts" -> (if (doubled) 1.0 else 0.0)), problems.result())
    } finally q.stop()
  }
}
