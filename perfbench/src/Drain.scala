package perfbench

import java.nio.file.Path

import org.apache.spark.sql.streaming.Trigger

/** A seeded backlog present before the query starts, drained by the
  * flagship broadcast with `Trigger.AvailableNow` at the source's default
  * admission (100 files a batch). Half the envelopes are python-micros and
  * half JS-millis-Z, which changes how far `Ingest.lenientTimestamp`'s
  * coalesce chain runs, and 1% miss a field. */
final class Drain(ctx: Ctx, perFile: Int) {
  /** 2024-11-19T12:00:00Z; a backlog's event times span 3 minutes. */
  private val baseUs = 1732017600000000L
  private val spanUs = 180L * 1000000L

  /** `n` files, with modification times pinned one second apart so the
    * source admits them in creation order. */
  def backlog(dir: Path, n: Int): IndexedSeq[Written] = {
    val gen = new Gen(ctx.seed, jsShare = 0.5, invalidShare = 0.01, jitterMs = 20000L)
    val mtime0 = System.currentTimeMillis() - 3600L * 1000L
    (0 until n).map { i =>
      val (bytes, truth) = gen.file(perFile, baseUs + spanUs * i / n, baseUs + spanUs * (i + 1) / n)
      Gen.drop(dir, f"b$i%06d.json", bytes, Some(mtime0 + i * 1000L))
      Written(i, 0L, 0L, perFile, truth)
    }
  }

  /** One fresh query (fresh checkpoint) over the backlog, checked like
    * live_ref's batches; returns valid events per second and the batches. */
  def round(dir: Path, files: IndexedSeq[Written]): (Double, Seq[Batch], Seq[String]) = {
    val fan = new Fanout(ctx.tracer)
    val t0 = System.nanoTime()
    val q = Streams.broadcastQuery(ctx.spark, dir, ctx.dir("ckpt"), fan, Trigger.AvailableNow())
    q.awaitTermination()
    val wallS = (System.nanoTime() - t0) / 1e9
    val bs = Streams.batches(q.recentProgress.toSeq)
    val (problems, _) = Streams.checkBroadcast(ctx.spark, bs, new Feed(files), fan)
    (files.map(_.truth.validTotal).sum / wallS, bs, problems)
  }
}
