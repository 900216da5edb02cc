package perfbench

import java.util.SplittableRandom

import graft.model.Fidelity

/** Canonical-long points as the generator made them, invalid ones
 *  included: the engine receives exactly these rows.
 */
final case class Batch(ids: Array[String], ts: Array[Long], vals: Array[Double]) {
  def size: Int = ids.length
  def valid(i: Int): Boolean = !vals(i).isNaN && Fidelity.isLegalDatasetId(ids(i))
  def validCount: Int = (0 until size).count(valid)
}

/** One series' points, ts-sorted: the plain-Scala reference a read is
 *  checked against.
 */
final case class SeriesPoints(ts: Array[Long], vals: Array[Double])

/** One UI request of the `dashboard` mix. */
sealed trait ReadOp
final case class GetOp(route: Fidelity, series: String, startUs: Long, endUs: Long,
    histogram: Boolean, verify: Boolean) extends ReadOp
final case class SearchOp(query: String) extends ReadOp

/**
 * Seeded input generators. Every draw comes from a stream keyed by
 * (seed, purpose, index), so an input depends only on the seed and its
 * position, never on how many inputs an earlier, faster or slower run
 * consumed.
 *
 * Values are quarter-integers: sums of them are exact in a double, so a
 * bucket's min/mean/max computed here must equal the engine's exactly.
 */
object Gen {
  val StepUs: Long = 100000L // 10 Hz, the design rate
  /** 2024-01-01T00:00:00Z; seeds shift the data's position from here. */
  val AnchorUs: Long = 1704067200L * 1000000L

  def rng(seed: Long, purpose: Long, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + purpose) + index))

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Next value of a bounded quarter-integer random walk. */
  def walk(r: SplittableRandom, v: Double): Double = {
    val next = v + (r.nextInt(9) - 4) * 0.25
    if (math.abs(next) > 4096) v else next
  }

  def startValue(r: SplittableRandom): Double = (r.nextInt(2001) - 1000) * 0.25

  /** Zipf(s) over ranks 0..n-1: a few hot series take most requests. */
  final class Zipf(n: Int, s: Double = 1.1) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Span of a read on each route: just under the route's
   *  `maxSpanSeconds`, so each read returns close to the route's
   *  ~5000-row bound.
   */
  def spanUs(f: Fidelity): Long = (f.maxSpanSeconds * 0.96 * 1e6).toLong

  // ---- ingest ---------------------------------------------------------

  /** `ingest` batches: `series` series x 10 Hz x 10 s per post. A seeded
   *  share of posts are late: new points backfilled into a 10 s window
   *  that an earlier post already committed. A seeded share of points
   *  are NaN, and a seeded share of posts carry one series with an
   *  illegal id; the store must drop exactly those.
   */
  final class IngestGen(seed: Long, series: Int) {
    val LateShare = 0.15
    val NaNShare = 0.01
    val BadIdShare = 0.2
    val PostUs: Long = 10L * 1000000L
    val ids: IndexedSeq[String] =
      (0 until series).map(k => f"ing.host${k / 4}%03d.m${k % 4}")
    private val baseUs = AnchorUs + rng(seed, 10, 0).nextLong(86400L) * 1000000L
    private val level = {
      val r = rng(seed, 11, 0)
      Array.fill(series)(startValue(r))
    }
    private var posts = 0L
    private var normals = 0L

    def next(): Batch = {
      val r = rng(seed, 12, posts)
      posts += 1
      val late = normals > 0 && r.nextDouble() < LateShare
      val (windowUs, offsetUs) =
        if (late) (baseUs + r.nextLong(normals) * PostUs, 1L + r.nextLong(StepUs - 1))
        else { normals += 1; (baseUs + (normals - 1) * PostUs, 0L) }
      val perSeries = (PostUs / StepUs).toInt
      val badId = r.nextDouble() < BadIdShare
      val names = if (badId) ids :+ s"bad..id${r.nextInt(1000)}" else ids
      val n = names.size * perSeries
      val (outIds, outTs, outVals) =
        (new Array[String](n), new Array[Long](n), new Array[Double](n))
      var i = 0
      for ((name, s) <- names.zipWithIndex; k <- 0 until perSeries) {
        val v =
          if (s < series) { level(s) = walk(r, level(s)); level(s) }
          else startValue(r)
        outIds(i) = name
        outTs(i) = windowUs + k * StepUs + offsetUs
        outVals(i) = if (r.nextDouble() < NaNShare) Double.NaN else v
        i += 1
      }
      Batch(outIds, outTs, outVals)
    }
  }

  // ---- dashboard ------------------------------------------------------

  /** `dashboard` store: a sparse ~15-year history plus a dense 10 Hz
   *  recent window for every series, delivered as time-ordered backfill
   *  posts, and the seeded UI request mix that reads it.
   */
  final class DashboardGen(seed: Long, series: Int = 16,
      historyPoints: Int = 500, denseS: Long = 300L) {
    private val metrics = Seq("cpu", "mem", "disk", "net")
    val ids: IndexedSeq[String] =
      (0 until series).map(k => f"dash.host${k / metrics.size}%02d.${metrics(k % metrics.size)}")
    /** Newest instant in the store (exclusive). */
    val endUs: Long = AnchorUs + (365L * 86400L + rng(seed, 20, 0).nextLong(86400L)) * 1000000L
    val denseStartUs: Long = endUs - denseS * 1000000L
    val historyStartUs: Long = endUs - spanUs(Fidelity.S100000) - 30L * 86400L * 1000000L

    /** Per-series points, ts-sorted. */
    val points: Map[String, SeriesPoints] = ids.zipWithIndex.map { case (id, s) =>
      val r = rng(seed, 21, s)
      val hist = Array.fill(historyPoints)(
        historyStartUs + r.nextLong(denseStartUs - historyStartUs)).sorted
      val dense = Array.tabulate((denseS * 1000000L / StepUs).toInt)(k => denseStartUs + k * StepUs)
      val ts = hist ++ dense
      var v = startValue(r)
      val vals = ts.map { _ => v = walk(r, v); v }
      id -> SeriesPoints(ts, vals)
    }.toMap

    /** The preload: two backfill posts, the history then the dense
     *  window.
     */
    def preload: Seq[Batch] =
      Seq((historyStartUs, denseStartUs), (denseStartUs, endUs)).map { case (lo, hi) =>
        val rows = for {
          id <- ids
          p = points(id)
          i <- p.ts.indices if p.ts(i) >= lo && p.ts(i) < hi
        } yield (id, p.ts(i), p.vals(i))
        Batch(rows.map(_._1).toArray, rows.map(_._2).toArray, rows.map(_._3).toArray)
      }

    private val zipf = new Zipf(series)
    val HistogramsPerBlock = 2
    val VerifyShare = 0.1
    private val searchTerms = metrics ++ (0 until series / metrics.size).map(h => f"host$h%02d") ++
      Seq("dash.", "host0", ".c", "zzz")

    /** Block `b` of the request mix: one get per route in a seeded order,
     *  `HistogramsPerBlock` of them histogrammed, then one catalog search.
     *  Every block has the same make-up, so a run's mix does not depend on
     *  its seed. The first block's gets are all verified, so every route
     *  is checked; later ones are verified at `VerifyShare`.
     */
    def block(b: Long): Seq[ReadOp] = {
      val r = rng(seed, 22, b)
      val routes = shuffle(r, Fidelity.all)
      val histogrammed = shuffle(r, routes).take(HistogramsPerBlock).toSet
      routes.map { f =>
        val end = endUs - r.nextLong(60L * 1000000L)
        GetOp(f, ids(zipf.draw(r)), end - spanUs(f), end, histogram = histogrammed(f),
          verify = b == 0 || r.nextDouble() < VerifyShare)
      } :+ SearchOp(searchTerms(r.nextInt(searchTerms.size)))
    }
  }

  def shuffle[T](r: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse.init) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  // ---- live -----------------------------------------------------------

  /** `live` wire posts: every series samples at 10 Hz; a post carries
   *  each series' samples since the previous post, each stamped with its
   *  creation instant. Values depend on (seed, series, sample index), so
   *  two runs with one seed differ only by when they started.
   */
  final class LiveGen(seed: Long, val series: Int) {
    val ids: IndexedSeq[String] = (0 until series).map(k => f"live.host$k%03d.cpu")
    private val level = {
      val r = rng(seed, 30, 0)
      Array.fill(series)(startValue(r))
    }

    /** Values of sample `k` for every series; call with k = 0, 1, 2, ... */
    def sample(k: Long): Array[Double] = {
      val r = rng(seed, 31, k)
      for (s <- 0 until series) level(s) = walk(r, level(s))
      level.clone()
    }
  }

  /** One wire JSON line per series (`StreamIngest.wireSchema`). */
  def wireLines(ids: IndexedSeq[String], ts: Seq[Long], vals: Seq[Array[Double]]): String = {
    val sb = new StringBuilder
    for (s <- ids.indices) {
      sb.append("{\"dataset_id\":\"").append(ids(s)).append("\",\"points\":[")
      for (k <- ts.indices) {
        if (k > 0) sb.append(',')
        sb.append("{\"date\":\"").append(isoUtc(ts(k))).append("\",\"value\":")
          .append(vals(k)(s)).append('}')
      }
      sb.append("]}\n")
    }
    sb.toString
  }

  private val isoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  def isoUtc(us: Long): String =
    isoFmt.format(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
}
