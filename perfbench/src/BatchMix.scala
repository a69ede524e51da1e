package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** batch_mix: registered queries run through `SparkEntry.queries` over the
  * seeded tables in `data`. The first pass writes each answer for the
  * DuckDB oracle check and warms up; timed passes write to `noop`, each
  * pass in its own seeded order. */
final class BatchMix(ctx: Ctx, data: String) {
  import BatchMix._

  private def spark = ctx.spark

  private def runQuery(name: String, sink: DataFrame => Unit): Double = {
    spark.sparkContext.setJobGroup(s"q:$name", name, false)
    try ctx.tracer.span(s"q.$name", s"q-$name") { _ =>
      val t0 = System.nanoTime()
      sink(SparkEntry.queries(name)(spark, data))
      (System.nanoTime() - t0) / 1e9
    } finally spark.sparkContext.clearJobGroup()
  }

  private val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Queries in seeded passes until `seconds` have passed, at least
    * `min` full passes; returns each query's walls. */
  private def passes(rnd: scala.util.Random, failed: mutable.Set[String],
                     min: Int): Map[String, Seq[Double]] = {
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val walls = mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    var n = 0
    while (n < min || System.nanoTime() < end) {
      rnd.shuffle(mix.filterNot(failed)).foreach { q =>
        if (n < min || System.nanoTime() < end) try {
          val w = runQuery(q, noop)
          System.err.println(f"[perfbench] $q%s ${w}%.3f s")
          walls(q) = walls(q) :+ w
        }
        catch { case e: Throwable => System.err.println(s"$q failed: $e"); failed += q }
      }
      n += 1
    }
    walls.toMap
  }

  def run(): Outcome = {
    val out = Files.createDirectories(ctx.work.resolve("answers"))
    val registry = SparkEntry.queries
    val failed = mutable.Set.empty[String] ++ mix.filterNot(registry.contains)
    val setupS = Streams.setupSeconds(3) { _ =>
      val fresh = spark.newSession()
      val t = SparkEntry.queries(mix.head)(fresh, data)
      t.write.format("noop").mode("overwrite").save()
    }
    val oracle = SparkEntry.oracleSql
    failed ++= mix.filterNot(oracle.contains)
    Files.writeString(out.resolve("oracle_sql.json"), Json.obj(
      mix.filterNot(failed).map(q => q -> Json.str(oracle(q)))))
    mix.filterNot(failed).foreach { q =>
      try runQuery(q, _.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString))
      catch { case e: Throwable => System.err.println(s"$q failed: $e"); failed += q }
    }
    val rnd = new scala.util.Random(ctx.seed)
    // a second untimed pass: the first timed pass still ran ~40% slow
    // while the JIT warmed up
    mix.filterNot(failed).foreach(q => runQuery(q, noop))
    val walls = passes(rnd, failed, 2)
    val tally = new Stats.Tally
    tally.add("queries", mix.size, failed.size)
    // the unit of work is one pass of the mix, as a batch job runs it:
    // its typical wall is the sum of the per-query medians (robust to one
    // slow run), its tail the sum of each query's slowest run
    def e2e(w: Map[String, Seq[Double]]): Map[String, Double] = {
      val ok = mix.filterNot(failed)
      val med = ok.map(q => Stats.median(w(q))).sum
      Map(
        "latency_p50_ms" -> med * 1000,
        "latency_tail_ms" -> ok.map(q => w(q).max).sum * 1000,
        "throughput_per_s" -> ok.size / med)
    }
    val untraced = e2e(walls) + ("setup_s" -> setupS)
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        ctx.startTracing()
        val gc0 = Streams.gcMs()
        val traced = passes(rnd, failed, 1)
        val gc = Streams.gcMs() - gc0
        ctx.jobs.settle()
        val t = e2e(traced)
        val byGroup = ctx.jobs.all.groupBy(_.group)
        // per run of each query, summed over a module's queries
        def perRun(q: String)(f: Seq[JobLog.Job] => Double): Double =
          traced.get(q).fold(0.0)(runs => f(byGroup.getOrElse(s"q:$q", Nil)) / runs.size)
        val perQuery = mix.flatMap { q =>
          Seq(s"q.$q.wall_s" -> traced.get(q).map(Stats.median).getOrElse(0.0),
            s"q.$q.jobs" -> perRun(q)(_.size.toDouble))
        }
        val perModule = mix.groupBy(module).toSeq.flatMap { case (m, qs) =>
          def sum(f: Seq[JobLog.Job] => Double) = qs.map(q => perRun(q)(f)).sum
          Seq(s"mod.$m.cpu_s" -> sum(_.map(_.cpuNs.get).sum / 1e9),
            s"mod.$m.driver_gap_s" -> qs.map(q => traced.get(q).fold(0.0)(_.sum / traced(q).size) -
              perRun(q)(js => ctx.jobs.coveredMs(js) / 1000.0)).sum,
            s"mod.$m.shuffle_bytes" -> sum(_.map(_.shuffleWrite.get).sum.toDouble))
        }
        (perQuery ++ perModule).toMap ++ Map("jvm.gc_ms" -> gc.toDouble) ++
          Seq("latency_p50_ms", "latency_tail_ms", "throughput_per_s").map(k =>
            s"trace.overhead_$k" -> (t(k) - untraced(k)))
      }
    Outcome(tally, untraced, layers,
      failed.toSeq.sorted.map(q => s"query $q failed, or has no registry entry or oracle"))
  }
}

object BatchMix {
  /** The mix, by the module whose code each query mainly runs: one query
    * of each `ext` module in the reference mix, chosen for a short run and
    * a DuckDB oracle that answers in under a second at this size (the
    * MinHash-banding oracles of `dedup_groups` and `dedup_near_candidates`
    * take about a minute), plus the paper's flagship and the ingest
    * counters. `knn_exact` also runs the native `functions`. */
  val modules: Seq[(String, Seq[String])] = Seq(
    "core" -> Seq("flagship", "ingest_counters"),
    "dedup" -> Seq("dedup_substring_spans"),
    "similarity" -> Seq("knn_exact"),
    "text" -> Seq("text_quality_classifier"),
    "multimodal" -> Seq("mm_phash_dedup"),
    "temporal" -> Seq("asof_join"))
  val mix: Seq[String] = modules.flatMap(_._2)
  val module: String => String = modules.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
}
