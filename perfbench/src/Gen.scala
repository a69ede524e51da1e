package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

/** Seeded generator of the reference producers' JSON envelopes.
  *
  * Two wire styles, as the reference's producers write them:
  *  - python (`client.py`): `json.dumps` of `datetime.now().isoformat()`,
  *    so `", "` separators, `\\uXXXX`-escaped emoji, and micros without a
  *    zone (the fraction is omitted when it is zero, as isoformat does);
  *  - JS (`index.html`): `JSON.stringify` of `toISOString()`, so compact
  *    separators, raw UTF-8 emoji and millis with a `Z`.
  *
  * Every envelope's ground truth (its 1-minute window and emoji, or that it
  * misses a field) is tallied per file, so checkers never parse the files.
  */
final class Gen(seed: Long, jsShare: Double, invalidShare: Double, jitterMs: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val vocab: IndexedSeq[String] = graft.core.Schemas.emojiVocab.toIndexedSeq
  private val pyEmoji: IndexedSeq[String] = vocab.map(_.flatMap(c => f"\\u${c.toInt}%04x"))

  /** `n` envelopes whose event times spread over [startUs, endUs) in order,
    * each moved back by up to `jitterMs` (out of order, never beyond the
    * watermark). */
  def file(n: Int, startUs: Long, endUs: Long): (Array[Byte], Gen.Truth) = {
    val truth = new Gen.Truth
    val sb = new java.lang.StringBuilder(n * 96)
    var i = 0
    while (i < n) {
      val baseUs = startUs + (endUs - startUs) * i / n
      val us = baseUs - (if (jitterMs > 0) rnd.nextLong(jitterMs * 1000L) else 0L)
      val e = rnd.nextInt(vocab.size)
      val user = rnd.nextInt(1 << 20)
      val js = rnd.nextDouble() < jsShare
      val missing = if (rnd.nextDouble() < invalidShare) rnd.nextInt(3) else -1
      val tsUs = if (js) Math.floorDiv(us, 1000L) * 1000L else us
      if (missing >= 0) truth.invalid += 1
      else {
        val k = (Math.floorDiv(tsUs, 60000000L) * 60L, e)
        truth.valid(k) = truth.valid.getOrElse(k, 0L) + 1
      }
      envelope(sb, js, missing, "u" + Integer.toHexString(user), e, tsUs)
      sb.append('\n')
      i += 1
    }
    (sb.toString.getBytes(UTF_8), truth)
  }

  private def envelope(sb: java.lang.StringBuilder, js: Boolean, missing: Int,
                       user: String, emoji: Int, tsUs: Long): Unit = {
    val sep = if (js) "," else ", "
    val kv = if (js) "\":\"" else "\": \""
    sb.append('{')
    var first = true
    var j = 0
    while (j < 3) {
      if (j != missing) {
        if (!first) sb.append(sep)
        val v = j match {
          case 0 => user
          case 1 => if (js) vocab(emoji) else pyEmoji(emoji)
          case _ => Gen.timestamp(tsUs, js)
        }
        sb.append('"').append(Gen.keys(j)).append(kv).append(v).append('"')
        first = false
      }
      j += 1
    }
    sb.append('}')
  }
}

object Gen {
  /** Ground truth of one file: counts of valid envelopes by (window start,
    * epoch seconds; emoji index), and how many miss a field. */
  final class Truth {
    val valid: mutable.HashMap[(Long, Int), Long] = mutable.HashMap.empty
    var invalid: Long = 0L
    def validTotal: Long = valid.values.sum
  }

  private val keys = Array("user_id", "emoji_type", "timestamp")
  private val fmtCache = new ThreadLocal[(Long, String)]

  /** `2024-11-19T12:34:56.789123` (python isoformat; no fraction when the
    * micros are zero) or `2024-11-19T12:34:56.789Z` (JS toISOString). */
  def timestamp(us: Long, js: Boolean): String = {
    val sec = Math.floorDiv(us, 1000000L)
    val frac = Math.floorMod(us, 1000000L)
    val minute = Math.floorDiv(sec, 60L)
    val cached = fmtCache.get()
    val prefix =
      if (cached != null && cached._1 == minute) cached._2
      else {
        val t = java.time.LocalDateTime.ofEpochSecond(minute * 60L, 0, java.time.ZoneOffset.UTC)
        val p = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02dT${t.getHour}%02d:${t.getMinute}%02d:"
        fmtCache.set(minute -> p); p
      }
    val sb = new java.lang.StringBuilder(32).append(prefix)
    pad(sb, Math.floorMod(sec, 60L), 2)
    if (js) pad(sb.append('.'), frac / 1000, 3).append('Z')
    else if (frac != 0) pad(sb.append('.'), frac, 6)
    sb.toString
  }

  private def pad(sb: java.lang.StringBuilder, v: Long, width: Int): java.lang.StringBuilder = {
    val s = java.lang.Long.toString(v)
    var i = s.length
    while (i < width) { sb.append('0'); i += 1 }
    sb.append(s)
  }

  /** Writes `bytes` so the file source sees the file whole or not at all:
    * a dot-file (which the source skips) renamed into place. A given
    * `mtimeMs` pins the order the source admits files in. */
  def drop(dir: Path, name: String, bytes: Array[Byte], mtimeMs: Option[Long] = None): Unit = {
    val tmp = dir.resolve("." + name)
    Files.write(tmp, bytes)
    mtimeMs.foreach(m => Files.setLastModifiedTime(tmp, FileTime.fromMillis(m)))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}
