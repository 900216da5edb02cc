package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit.MILLISECONDS

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => SparkTrigger}

import graft.api.GraftApi
import graft.model.Fidelity
import graft.query.Histogram
import graft.store.ManifestStore
import graft.streaming.StreamIngest

/** What a workload hands back for the end-to-end metrics.
 *
 *  @param setupRepsS each repetition of the workload's store set-up
 *  @param warmS      the one-time warm-up of the kept store
 *  @param opVerbs    the verbs whose latencies make `op_p50_ms`
 *  @param ops        client operations completed in `opsS` seconds
 *  @param storeBytes on-disk bytes of the store holding `storePoints`
 */
final case class Outcome(setupRepsS: Seq[Double], warmS: Double, opVerbs: Set[String],
    ops: Long, opsS: Double, storeBytes: Long, storePoints: Long)

object Workloads {
  val all: Map[String, Run => Outcome] =
    Map("ingest" -> Ingest.run, "dashboard" -> Dashboard.run, "live" -> Live.run)

  def api(r: Run, root: Path): GraftApi =
    new GraftApi(r.spark, root.toString, root.resolve("comments").toString)

  def secondsSince(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e9

  def clock(f: => Unit): Double = { val t0 = System.nanoTime(); f; secondsSince(t0) }

  /** Runs `setUp` into `r.setupReps` fresh directories, timing each, and
   *  keeps the last one's result; each earlier one is released with
   *  `discard` and deleted before the next starts.
   */
  def repeatSetUp[T](r: Run)(setUp: Path => T)(
      discard: T => Unit = (_: T) => ()): (Seq[Double], T) = {
    val reps = (0 until r.setupReps).map { k =>
      val dir = r.work.resolve(s"setup$k")
      val t0 = System.nanoTime()
      val v = setUp(dir)
      val s = secondsSince(t0)
      if (k < r.setupReps - 1) { discard(v); r.deleteTree(dir) }
      (s, v)
    }
    (reps.map(_._1), reps.last._2)
  }

  /** The raw row count and Σcnt of every rollup level must all equal the
   *  points the store accepted.
   */
  def checkCounts(r: Run, root: Path, expected: Long): Unit = {
    val raw = ManifestStore.readRaw(r.spark, root.toString).count()
    r.check(s"raw rows $raw == accepted points $expected")(raw == expected)
    val levels = Fidelity.aggLevels.map { f =>
      ManifestStore.readLevel(r.spark, root.toString, f)
        .agg(coalesce(sum("cnt"), lit(0L)).as("cnt")).withColumn("level", lit(f.name))
    }.reduce(_ unionByName _).collect()
    for (row <- levels) {
      val cnt = row.getLong(0)
      r.check(s"level ${row.getString(1)} sum(cnt) $cnt == accepted points $expected")(
        cnt == expected)
    }
  }

  /** On-disk bytes of the telemetry table (raw and rollup commits and
   *  manifests; the comment store beside it is not counted).
   */
  def tableBytes(r: Run, root: Path): Long = r.dirBytesAndFiles(root.resolve("mrollup"))._1

  /** Store shape at the end of a traced run. */
  def storeLayers(r: Run, root: Path): Unit = {
    r.layer("store.files", r.dirBytesAndFiles(root.resolve("mrollup"))._2.toDouble, "count")
    r.layer("store.manifest_versions", r.manifestVersion(root.toString).toDouble, "count")
  }

  def p50Of(spans: Seq[Span])(keep: Span => Boolean): Double = {
    val xs = spans.filter(keep).map(_.ms)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** getData + collect, with building the lazy frame and collecting it
   *  as child spans.
   */
  def get(r: Run, a: GraftApi, opId: Long, series: String, lo: Long, hi: Long) = {
    val df = r.tracer.span("get.plan", opId)(a.getData(series, lo, hi))._1
    (df, r.tracer.span("get.exec", opId)(df.collect())._1)
  }

  // ---- ingest -----------------------------------------------------------

  /** One client posts `Series` x 10 Hz x 10 s batches through `putData`,
   *  closed loop.
   *
   *  The store compacts on every 7th put once 17 commits are live, and
   *  a compacting put takes several times a plain one. So that every run
   *  measures the same mix, set-up leaves the store 7 puts before its
   *  first compaction, and throughput counts whole compaction cycles:
   *  from the start of the timed phase to the end of its last compacting
   *  put. A host too slow to reach that compaction in `seconds` runs on
   *  until it completes (for at most another `seconds`).
   */
  object Ingest {
    val Series = 100
    val RepPuts = 1
    val WarmPuts = 9

    def run(r: Run): Outcome = {
      var accepted = 0L
      def put(a: GraftApi, b: Batch): Unit = { a.putData(r.toDF(b)); accepted += b.validCount }
      val (reps, (root, a, gen)) = repeatSetUp(r) { dir =>
        accepted = 0L
        val a = api(r, dir)
        val gen = new Gen.IngestGen(r.seed, Series)
        for (_ <- 0 until RepPuts) put(a, gen.next())
        (dir, a, gen)
      }()
      val warmS = clock(for (_ <- 0 until WarmPuts) put(a, gen.next()))

      var offered = 0L
      // at the end of the last compacting put: (s, puts, timed points, store bytes, store points)
      var cycle: Option[(Double, Int, Long, Long, Long)] = None
      val compactionMs = mutable.ArrayBuffer.empty[Double]
      val live = mutable.ArrayBuffer.empty[Double]
      val before0 = accepted
      r.timedPhaseStart()
      val t0 = System.nanoTime()
      val end = r.deadlineNs(t0)
      def more = System.nanoTime() < end ||
        (cycle.isEmpty && System.nanoTime() < r.deadlineNs(end))
      while (more) {
        if (System.nanoTime() - t0 > (end - t0) / 3) r.startTracing()
        val b = gen.next()
        val df = r.toDF(b)
        val before = r.liveCommits(root.toString)
        r.op("put")(a.putData(df)).foreach { _ =>
          offered += b.size
          accepted += b.validCount
          val after = r.liveCommits(root.toString)
          if (r.tracer.on) live += after
          if (after < before) {
            cycle = Some((secondsSince(t0), r.samples.size, accepted - before0,
              tableBytes(r, root), accepted))
            if (r.tracer.on) compactionMs += r.samples.last.ms
          }
        }
      }
      val timedS = secondsSince(t0)
      r.timedPhaseEnd()
      val (cycleS, cyclePuts, cyclePoints, bytes, storePoints) = cycle.getOrElse(
        (timedS, r.samples.size, accepted - before0, tableBytes(r, root), accepted))
      r.detail("whole_compaction_cycles") = (if (cycle.isDefined) 1.0 else 0.0, "bool")
      r.detail("put_points_per_s") = (cyclePoints / cycleS, "points/s")
      if (r.traceRun) {
        r.layer("ingest.accept_ratio", (accepted - before0).toDouble / offered, "ratio")
        r.layer("store.live_commits", Stats.mean(live.toSeq), "count")
        r.layer("store.compactions", compactionMs.size.toDouble, "count")
        if (compactionMs.nonEmpty)
          r.layer("store.compaction_put_ms.p50", Stats.median(compactionMs.toSeq), "ms")
        else r.absent("store.compaction_put_ms.p50") = "no compaction while traced"
        val tracedPuts = r.samples.count(s => s.traced && s.verb == "put")
        val written = Layers.jobsOf(r, "put").map(_.outputBytes).sum
        r.layer("store.bytes_written_per_point",
          written.toDouble / math.max(1L, tracedPuts * Series * 100L), "bytes")
        Layers.attribute(r, byTag = false, streamBatches = 0)
        Layers.overhead(r, "put")
        storeLayers(r, root)
      }
      checkCounts(r, root, accepted)
      Outcome(reps, warmS, Set("put"), cyclePuts, cycleS, bytes, storePoints)
    }
  }

  // ---- dashboard --------------------------------------------------------

  /** One client, one request in flight, read-only over a preloaded store:
   *  gets on all 7 routes in equal shares, histograms of a share of the
   *  get results, and catalog searches.
   */
  object Dashboard {
    def run(r: Run): Outcome = {
      val g = new Gen.DashboardGen(r.seed)
      val posts = g.preload
      val (reps, root) = repeatSetUp(r) { dir =>
        val a = api(r, dir)
        posts.foreach(p => a.putData(r.toDF(p)))
        dir
      }()
      val a = api(r, root)
      // open every route, a histogram and a search once, as a first paint
      val warmS = clock {
        for (f <- Fidelity.all) {
          val df = a.getData(g.ids.head, g.endUs - Gen.spanUs(f), g.endUs)
          if (f.isFull) Histogram.histogram(df, "value").collect() else df.collect()
        }
        a.datasets("host").collect()
      }

      val toVerify = mutable.ArrayBuffer.empty[(GetOp, Array[Row])]
      val routeOf = mutable.HashMap.empty[Long, Fidelity]
      val live = mutable.ArrayBuffer.empty[Double]
      var tracedGetRows = 0L
      r.timedPhaseStart()
      val t0 = System.nanoTime()
      val end = r.deadlineNs(t0)
      var b = 0L
      while (System.nanoTime() < end) {
        for (op <- g.block(b) if System.nanoTime() < end) {
          if (System.nanoTime() - t0 > (end - t0) / 3) r.startTracing()
          if (r.tracer.on) live += r.liveCommits(root.toString)
          op match {
            case q: GetOp =>
              val id = r.tracer.newOp()
              routeOf(id) = q.route
              r.op("get", id)(get(r, a, id, q.series, q.startUs, q.endUs)).foreach {
                case (df, rows) =>
                  if (r.tracer.on) tracedGetRows += rows.length
                  if (q.verify) toVerify += ((q, rows))
                  if (q.histogram) {
                    val col = if (q.route.isFull) "value" else "mean_v"
                    r.op("histogram")(Histogram.histogram(df, col).collect()).foreach { h =>
                      r.check(s"histogram of ${rows.length} rows counts them all")(
                        h.map(_.getLong(3)).sum == rows.length && h.length <= 30)
                    }
                  }
              }
            case SearchOp(q) =>
              r.op("search")(a.datasets(q).collect()).foreach { rows =>
                val want = g.ids.filter(_.contains(q)).sorted.take(300)
                r.check(s"datasets('$q') returns ${want.size} ids")(
                  rows.map(_.getString(0)).toSeq == want)
              }
          }
        }
        b += 1
      }
      val timedS = secondsSince(t0)
      r.timedPhaseEnd()
      for ((q, rows) <- toVerify)
        r.check(s"${q.route.name} read of ${q.series} matches the generator")(
          Reference.sorted(rows) == Reference.read(g.points(q.series), q))
      if (r.traceRun) {
        val spans = r.tracer.spans
        for (f <- Fidelity.all)
          r.layer(s"api.get.${f.name}.p50_ms", p50Of(spans)(s =>
            s.name == "get" && s.parent == 0L && routeOf.get(s.op).contains(f)), "ms")
        r.layer("api.get.plan_ms", p50Of(spans)(_.name == "get.plan"), "ms")
        r.layer("api.get.exec_ms", p50Of(spans)(_.name == "get.exec"), "ms")
        val getIn = Layers.jobsOf(r, "get").map(_.inputBytes).sum
        r.layer("query.get.input_bytes_per_row",
          getIn.toDouble / math.max(1L, tracedGetRows), "bytes")
        val searches = spans.count(s => s.parent == 0L && s.name == "search")
        if (searches > 0)
          r.layer("query.search.input_bytes",
            Layers.jobsOf(r, "search").map(_.inputBytes).sum.toDouble / searches, "bytes")
        r.layer("store.live_commits", Stats.mean(live.toSeq), "count")
        r.layer("store.compactions", 0.0, "count")
        Layers.attribute(r, byTag = false, streamBatches = 0)
        Layers.overhead(r, "get")
        storeLayers(r, root)
      }
      Outcome(reps, warmS, Set("get", "histogram", "search"), r.samples.size, timedS,
        tableBytes(r, root), posts.map(_.size.toLong).sum)
    }
  }

  /** Plain-Scala answers for `dashboard` reads, from the generator's own
   *  points: raw (ts, value) rows on the full route, (bucket, min, mean,
   *  max) for every bucket whose start lies in the span otherwise.
   */
  object Reference {
    def read(p: SeriesPoints, q: GetOp): Seq[Seq[Any]] =
      if (q.route.isFull)
        p.ts.indices.filter(i => p.ts(i) >= q.startUs && p.ts(i) <= q.endUs)
          .map(i => Seq[Any](p.ts(i), p.vals(i)))
      else {
        val d = q.route.seconds
        val (lo, hi) = (q.startUs / 1000000L, q.endUs / 1000000L)
        p.ts.indices.groupBy(i => p.ts(i) / (d * 1000000L) * d)
          .filter { case (bucket, _) => bucket >= lo && bucket <= hi }
          .toSeq.sortBy(_._1).map { case (bucket, is) =>
            val vs = is.map(p.vals)
            Seq[Any](bucket, vs.min, vs.sum / vs.size, vs.max)
          }
      }

    /** Engine rows in the reference's order (reads are unordered). */
    def sorted(rows: Array[Row]): Seq[Seq[Any]] =
      rows.toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
  }

  // ---- live -------------------------------------------------------------

  /** The operating loop: an open-loop generator posts wire files for
   *  `Monitors` monitors, each every 2 s, `decodeWire` + `startAtomic`
   *  ingest them, and one reader refreshes the tail of a skew-chosen
   *  series in a closed loop: the full route each time (verb `get`, the
   *  workload's operation), and every eighth time also the 1 s route
   *  (verb `get_1s`), every eighth time one step of the comment cycle.
   */
  object Live {
    /** Offered rate: Series x 10 Hz points/s, about half of what one
     *  `ingest` client sustains through putData.
     */
    val Series = 400
    /** Monitors, each posting its share of the series every PostMs, on
     *  evenly staggered schedules, as a fleet of hosts would.
     */
    val Monitors = 4
    val PostMs = 2000L

    /** The generator side of one store: writes posts, remembers every
     *  point it offered.
     */
    final class Feed(seed: Long, dir: Path) {
      val gen = new Gen.LiveGen(seed, Series)
      val gridStartMs: Long = System.currentTimeMillis() / 100L * 100L
      private val samples = mutable.ArrayBuffer.empty[Array[Double]]
      private val posted = Array.fill(Monitors)(0) // samples each monitor has posted
      @volatile var posts = 0
      @volatile var lateMaxMs = 0L
      Files.createDirectories(dir)

      def tsUs(k: Int): Long = (gridStartMs + 100L * k) * 1000L

      private def seriesOf(m: Int) = (m * Series / Monitors) until ((m + 1) * Series / Monitors)

      /** Monitor `m` posts every sample its series took since its last
       *  post.
       */
      def post(m: Int): Unit = {
        val upTo = ((System.currentTimeMillis() - gridStartMs) / 100L).toInt
        val ks = posted(m) to upTo
        if (ks.nonEmpty) {
          val vals = samples.synchronized {
            while (samples.size <= upTo) samples += gen.sample(samples.size.toLong)
            ks.map(k => samples(k).slice(seriesOf(m).start, seriesOf(m).end))
          }
          val body = Gen.wireLines(seriesOf(m).map(gen.ids), ks.map(tsUs), vals)
          val tmp = dir.resolve(s".post-$posts.tmp")
          Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
          Files.move(tmp, dir.resolve(f"post-$posts%06d.json"), StandardCopyOption.ATOMIC_MOVE)
          samples.synchronized(posted(m) = upTo + 1)
          posts += 1
        }
      }

      def offered: Long =
        samples.synchronized((0 until Monitors).map(m => posted(m).toLong * seriesOf(m).size).sum)

      /** Open loop: monitor m's k-th post is due at start + (k + m /
       *  Monitors) x PostMs whatever the engine is doing; lateness is how
       *  far behind schedule it ran. Counting `stop` down ends the loop at
       *  once.
       */
      def startLoop(stop: CountDownLatch): Thread = {
        val t = new Thread(() => {
          val start = System.currentTimeMillis()
          var slot = 1L
          def due = start + slot * PostMs / Monitors
          while (!stop.await(due - System.currentTimeMillis(), MILLISECONDS)) {
            lateMaxMs = math.max(lateMaxMs, System.currentTimeMillis() - due)
            post((slot % Monitors).toInt)
            slot += 1
          }
        }, "perfbench-live-generator")
        t.setDaemon(true)
        t.start()
        t
      }

      /** Posted points of series `s` with ts in [lo, hi]. */
      def expected(s: Int, lo: Long, hi: Long): Seq[Seq[Any]] = samples.synchronized {
        (0 until posted(s * Monitors / Series)).filter { k => val t = tsUs(k); t >= lo && t <= hi }
          .map(k => Seq[Any](tsUs(k), samples(k)(s)))
      }
    }

    def startStream(r: Run, dir: Path): StreamingQuery =
      StreamIngest.startAtomic(
        StreamIngest.decodeWire(r.spark.readStream.text(dir.resolve("incoming").toString)),
        dir.resolve("store").toString, dir.resolve("checkpoint").toString,
        SparkTrigger.ProcessingTime(0L))

    def run(r: Run): Outcome = {
      // a set-up starts the stream on a fresh store, posts once, and waits
      // until that post is readable
      val (reps, (dir, feed, q)) = repeatSetUp(r) { dir =>
        val feed = new Feed(r.seed, dir.resolve("incoming"))
        val q = startStream(r, dir)
        (0 until Monitors).foreach(feed.post)
        while (ManifestStore.latest(r.spark, dir.resolve("store").toString)._1 < 1L) {
          q.exception.foreach(e => throw e)
          Thread.sleep(5L)
        }
        (dir, feed, q)
      }(_._3.stop())
      val store = dir.resolve("store")
      val a = api(r, store)
      val warmS = clock {
        for (f <- Seq(Fidelity.Full, Fidelity.S1)) {
          val now = System.currentTimeMillis() * 1000L
          a.getData(feed.gen.ids.head, now - Gen.spanUs(f), now).collect()
        }
        a.comments(0L, Long.MaxValue).collect()
      }

      val zipf = new Gen.Zipf(Series)
      val stale = mutable.ArrayBuffer.empty[Double]
      val live = mutable.ArrayBuffer.empty[Double]
      val toVerify = mutable.ArrayBuffer.empty[(Int, Long, Long, Array[Row])]
      val routeOf = mutable.HashMap.empty[Long, Fidelity]
      val comments = new Comments(r, a)
      val stop = new CountDownLatch(1)
      r.stream.postsWritten = () => feed.posts
      r.timedPhaseStart()
      val t0 = System.nanoTime()
      val end = r.deadlineNs(t0)
      val genThread = feed.startLoop(stop)
      var (i, timedS) = (0L, 0.0)
      try {
        while (System.nanoTime() < end) {
          if (System.nanoTime() - t0 > (end - t0) / 3) r.startTracing()
          val rng = Gen.rng(r.seed, 40, i)
          val s = zipf.draw(rng)
          def refresh(route: Fidelity): Unit = {
            val nowUs = System.currentTimeMillis() * 1000L
            val lo = nowUs - Gen.spanUs(route)
            if (r.tracer.on) live += r.liveCommits(store.toString)
            val id = r.tracer.newOp()
            routeOf(id) = route
            val verb = if (route.isFull) "get" else "get_1s"
            for ((_, rows) <- r.taggedOp(verb, id)(get(r, a, id, feed.gen.ids(s), lo, nowUs))
                 if route.isFull && rows.nonEmpty) {
              val newestUs = rows.map(_.getLong(0)).max
              stale += System.currentTimeMillis() - newestUs / 1000.0
              toVerify += ((s, lo, newestUs, rows))
            }
          }
          refresh(Fidelity.Full)
          if (i % 8 == 3) refresh(Fidelity.S1)
          if (i % 8 == 7) comments.step(rng)
          i += 1
          timedS = secondsSince(t0)
        }
      } finally {
        stop.countDown()
        genThread.join()
      }
      r.timedPhaseEnd()
      if (stale.nonEmpty) {
        r.detail("stale_p50_ms") = (Stats.median(stale.toSeq), "ms")
        r.detail("stale_n") = (stale.size.toDouble, "count")
      }
      Stats.tailPercentile(stale.size).foreach { p =>
        r.detail("stale_tail_ms") = (Stats.percentile(stale.toSeq, p), "ms")
        r.detail("stale_tail_pct") = (p.toDouble, "percentile")
      }
      q.processAllAvailable()
      q.stop()
      for ((s, lo, newest, rows) <- toVerify)
        r.check(s"tail read of ${feed.gen.ids(s)} holds every point up to its newest")(
          Reference.sorted(rows) == feed.expected(s, lo, newest))
      comments.verifyAll()
      if (r.traceRun) {
        val trig = r.stream.triggers.toArray(Array.empty[Trigger]).toSeq
          .filter(t => t.atMs >= r.tracedFromMs && t.atMs <= r.timedEndMs).sortBy(_.atMs)
        val spans = r.tracer.spans
        for (f <- Seq(Fidelity.Full, Fidelity.S1))
          r.layer(s"api.get.${f.name}.p50_ms", p50Of(spans)(s =>
            s.name.startsWith("get") && s.parent == 0L && routeOf.get(s.op).contains(f)), "ms")
        r.layer("api.get.plan_ms", p50Of(spans)(_.name == "get.plan"), "ms")
        r.layer("api.get.exec_ms", p50Of(spans)(_.name == "get.exec"), "ms")
        r.layer("store.live_commits", Stats.mean(live.toSeq), "count")
        r.layer("store.comments.parts", countParts(store.resolve("comments")), "count")
        if (trig.nonEmpty) {
          r.layer("streaming.trigger_ms.p50", Stats.median(trig.map(_.triggerMs.toDouble)), "ms")
          r.layer("streaming.add_batch_ms.p50", Stats.median(trig.map(_.addBatchMs.toDouble)), "ms")
          r.layer("streaming.rows_per_batch", Stats.mean(trig.map(_.rows.toDouble)), "rows")
          // a post is one monitor's wire lines, so lines / that = posts consumed
          val consumed = trig.scanLeft(0L)(_ + _.rows).tail.map(_.toDouble * Monitors / Series)
          r.layer("streaming.backlog_files.max",
            trig.zip(consumed).map { case (t, c) => t.postsWritten - c }.max, "count")
        }
        r.layer("live.generator_late_ms.max", feed.lateMaxMs.toDouble, "ms")
        Layers.attribute(r, byTag = true, streamBatches = trig.size)
        r.absent("trace.unattributed_jobs") =
          "live attributes jobs by tag; untagged jobs are the stream's"
        Layers.overhead(r, "get")
        storeLayers(r, store)
      }
      checkCounts(r, store, feed.offered)
      Outcome(reps, warmS, Set("get"), i, timedS,
        tableBytes(r, store), feed.offered)
    }

    def countParts(dir: Path): Double =
      if (!Files.exists(dir)) 0.0
      else {
        val s = Files.list(dir)
        try s.filter(_.getFileName.toString.endsWith(".parquet")).count().toDouble
        finally s.close()
      }
  }

  /** The reader's comment cycle against a model of the live comments,
   *  one verb per step: create, update, query, create, delete the oldest,
   *  query. Every query must return exactly the model's live comments
   *  carrying its seeded tag (or all of them).
   */
  final class Comments(r: Run, a: GraftApi) {
    private val tags = Seq("deploy", "alert", "ops")
    private val live = mutable.LinkedHashMap.empty[Long, (Long, String, Seq[String])]
    private val queries = mutable.ArrayBuffer.empty[(Seq[String], Seq[Seq[Any]], Array[Row])]
    private var n = 0

    private def pickTags(rng: java.util.SplittableRandom) = tags.filter(_ => rng.nextBoolean())

    private def comment[T](f: => T): Option[T] = r.taggedOp("comment")(f)

    def step(rng: java.util.SplittableRandom): Unit = {
      val date = System.currentTimeMillis() * 1000L
      (n % 6) match {
        case 0 | 3 =>
          val (text, tg) = (s"note $n", pickTags(rng))
          comment(a.createComment(date, text, tg)).foreach(id => live(id) = (date, text, tg))
        case 1 if live.nonEmpty =>
          val id = live.keys.toSeq(rng.nextInt(live.size))
          val upd = (date, s"note $n edited", pickTags(rng))
          comment(a.updateComment(id, upd._1, upd._2, upd._3)).foreach(_ => live(id) = upd)
        case 4 if live.nonEmpty =>
          val oldest = live.keys.min
          comment(a.deleteComment(oldest)).foreach(_ => live.remove(oldest))
        case _ =>
          val want = if (rng.nextBoolean()) Seq(tags(rng.nextInt(tags.size))) else Nil
          val model = live.toSeq.collect {
            case (id, (d, t, tg)) if want.forall(tg.contains) => Seq[Any](id, d, t, tg)
          }.sortBy(x => (x(1).asInstanceOf[Long], x(0).asInstanceOf[Long])).take(20)
          comment(a.comments(0L, Long.MaxValue, want).collect())
            .foreach(rows => queries += ((want, model, rows)))
      }
      n += 1
    }

    def verifyAll(): Unit =
      for ((want, model, rows) <- queries)
        r.check(s"comment query [${want.mkString(",")}] returns the live comments")(
          rows.toSeq.map(x => Seq[Any](x.getLong(0), x.getLong(1), x.getString(2),
            x.getSeq[String](3))) == model)
  }
}
