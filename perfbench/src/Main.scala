package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run found: the failure tally, end-to-end metrics
  * (untraced), per-layer metrics (traced runs only) and any check that
  * did not hold. */
final case class Outcome(tally: Stats.Tally, e2e: Map[String, Double],
                         layers: Map[String, Double], problems: Seq[String])

/** State shared by a run: the session, the tracing channels and the
  * scratch directory, all inside the benchmark's checkout. */
final class Ctx(val work: Path, val seed: Long, val seconds: Double, val traced: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer
  val jobs = new JobLog
  val progress = new ProgressLog
  private var n = 0
  private var session: SparkSession = _

  def spark: SparkSession = session

  /** (Re)starts the session on `local[threads]`; tracing channels are
    * registered only once [[startTracing]] has run. */
  def start(threads: Int): SparkSession = {
    if (session != null) session.stop()
    session = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.core.Tables.nanosAsLongConf._1, graft.core.Tables.nanosAsLongConf._2)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir("warehouse").toString)
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    if (tracer.enabled) attach()
    session
  }

  /** Registers the listeners and turns spans on, for the traced window. */
  def startTracing(): Unit = { tracer.enabled = true; attach() }

  private def attach(): Unit = {
    session.sparkContext.addSparkListener(jobs)
    session.streams.addListener(progress)
  }

  /** A new, empty directory under the run's scratch directory. */
  def dir(prefix: String): Path = {
    n += 1
    Files.createDirectories(work.resolve(f"$prefix-$n%03d"))
  }

  def stop(): Unit = if (session != null) session.stop()
}

object Main {
  /** `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
    * [--data <dir>] [--spans <file>]`; prints one `PERFBENCH ` line. */
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val failures = SelfTest.arithmetic()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"self-test failed: $f"))
      sys.exit(3)
    }
    val ctx = new Ctx(Paths.get(o("work")), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1")
    val out =
      try {
        ctx.start(ctx.cores)
        o("workload") match {
          case "live_ref" => new Live(ctx, Live.liveRef).run()
          case "dashboard" => new Live(ctx, Live.dashboard).run()
          case "batch_mix" => new BatchMix(ctx, o("data")).run()
          case "update_mode_probe" => SelfTest.updateModeProbe(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      } finally ctx.stop()
    o.get("spans").filter(_ => ctx.traced).foreach(p => ctx.tracer.write(Paths.get(p)))
    out.problems.foreach(p => System.err.println(s"check failed: $p"))
    val e2e = out.e2e + ("peak_rss_mb" -> peakRssMb())
    println("PERFBENCH " + Json.obj(Seq(
      "correct" -> (out.problems.isEmpty && out.tally.failed == 0).toString,
      "attempted" -> out.tally.attempted.toString,
      "failed" -> out.tally.failed.toString,
      "e2e" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(out.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "tally" -> out.tally.byKind.map { case (k, a, f) =>
        Json.obj(Seq("kind" -> Json.str(k), "attempted" -> a.toString, "failed" -> f.toString))
      }.mkString("[", ",", "]"))))
    System.out.flush()
    sys.exit(0) // no lingering non-daemon thread may keep the JVM up
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}
