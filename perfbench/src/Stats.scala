package perfbench

/** The benchmark's own arithmetic: percentiles, the mapping from source row
  * offsets back to generator creation times, generator lateness, and the
  * failure tally. Kept free of Spark so [[SelfTest]] can pin it exactly. */
object Stats {

  /** Nearest-rank percentile over (value, weight) samples: the smallest
    * value whose cumulative weight reaches `q` of the total. A file of 10k
    * events delivered in one batch is one sample of weight 10k, so the
    * result is the per-event percentile without expanding the events. */
  def weightedPercentile(samples: Seq[(Double, Long)], q: Double): Double = {
    require(q > 0.0 && q <= 1.0, s"percentile $q out of (0, 1]")
    val live = samples.filter(_._2 > 0).sortBy(_._1)
    require(live.nonEmpty, "percentile of an empty sample")
    val total = live.iterator.map(_._2).sum
    val rank = math.max(1L, math.ceil(q * total - 1e-9).toLong)
    var acc = 0L
    live.find { case (_, w) => acc += w; acc >= rank }.get._1
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    weightedPercentile(xs.map(_ -> 1L), q)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** One generator file in the order the file source consumes it. */
  final case class FileRow(rows: Long, createdMs: Long)

  /** Maps source row offsets (the cumulative `numInputRows` of a query's
    * progress) back to generator files. */
  final class RowClock(files: IndexedSeq[FileRow]) {
    private val starts: Array[Long] = files.scanLeft(0L)(_ + _.rows).toArray
    def totalRows: Long = starts.last

    /** Index of the file holding row `offset` (0-based). */
    private def fileAt(offset: Long): Int = {
      var lo = 0; var hi = files.size - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (starts(mid) <= offset) lo = mid else hi = mid - 1
      }
      lo
    }

    /** Rows [from, until) as (createdMs, rows) pieces, in file order. A
      * range may start or end inside a file. */
    def creation(from: Long, until: Long): Seq[(Long, Long)] = {
      require(0 <= from && from <= until && until <= totalRows,
        s"row range [$from, $until) outside [0, $totalRows)")
      if (from == until) Nil
      else (fileAt(from) to fileAt(until - 1)).map { i =>
        val lo = math.max(from, starts(i)); val hi = math.min(until, starts(i + 1))
        files(i).createdMs -> (hi - lo)
      }
    }

    /** The files rows [from, until) cover, when both ends fall on file
      * boundaries (the file source admits whole files, so any other
      * range means the batch did not take the files in creation order). */
    def wholeFiles(from: Long, until: Long): Option[Range] = {
      val a = java.util.Arrays.binarySearch(starts, from)
      val b = java.util.Arrays.binarySearch(starts, until)
      if (a >= 0 && b >= 0 && a <= b) Some(a until b) else None
    }
  }

  /** How late an open-loop generator wrote each tick, in ms: never
    * negative (a tick written early still counts as on time). */
  def lateness(dueMs: Seq[Long], writtenMs: Seq[Long]): Seq[Double] =
    dueMs.zip(writtenMs).map { case (d, w) => math.max(0L, w - d).toDouble }

  /** Failed over attempted operations, summed over the operation kinds a
    * workload runs (events, refreshes, queries). */
  final class Tally {
    private val att = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    private val bad = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def add(kind: String, attempted: Long, failed: Long): Unit = {
      require(attempted >= 0 && failed >= 0 && failed <= attempted,
        s"$kind: failed $failed of attempted $attempted")
      att(kind) = att.getOrElse(kind, 0L) + attempted
      bad(kind) = bad.getOrElse(kind, 0L) + failed
    }
    def attempted: Long = att.values.sum
    def failed: Long = bad.values.sum
    def ratio: Double = {
      require(attempted > 0, "no operation attempted")
      failed.toDouble / attempted
    }
    def byKind: Seq[(String, Long, Long)] = att.keys.toSeq.map(k => (k, att(k), bad(k)))
  }
}
