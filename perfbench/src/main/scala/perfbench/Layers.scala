package perfbench

import graft.model.Fidelity

/** The per-layer metrics of a traced run, by name and unit, and the
 *  attribution of Spark jobs to the client verbs that caused them.
 */
object Layers {
  val Verbs: Seq[String] = Seq("put", "get", "search", "histogram", "comment", "stream_batch")
  private val sparkCounters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "tasks" -> "count", "task_s" -> "s", "shuffle_bytes" -> "bytes",
    "input_bytes" -> "bytes", "output_bytes" -> "bytes", "spill_bytes" -> "bytes")

  /** Every per-layer metric, in `BENCHMARK.json` order. */
  val all: Seq[(String, String)] =
    Fidelity.all.map(f => s"api.get.${f.name}.p50_ms" -> "ms") ++ Seq(
      "api.get.plan_ms" -> "ms", "api.get.exec_ms" -> "ms",
      "query.get.input_bytes_per_row" -> "bytes", "query.search.input_bytes" -> "bytes",
      "store.live_commits" -> "count", "store.compactions" -> "count",
      "store.compaction_put_ms.p50" -> "ms", "store.bytes_written_per_point" -> "bytes",
      "store.files" -> "count", "store.manifest_versions" -> "count",
      "store.comments.parts" -> "count", "ingest.accept_ratio" -> "ratio") ++
      Verbs.flatMap(v => sparkCounters.map { case (c, u) => s"spark.$v.$c" -> u }) ++ Seq(
      "streaming.trigger_ms.p50" -> "ms", "streaming.add_batch_ms.p50" -> "ms",
      "streaming.rows_per_batch" -> "rows", "streaming.backlog_files.max" -> "count",
      "live.generator_late_ms.max" -> "ms", "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
      "trace.overhead" -> "ratio", "trace.unattributed_jobs" -> "count")

  /** Spark work per call of each verb, from the jobs started while
   *  tracing was on. A job belongs to the top-level client span whose
   *  interval holds its start; with `byTag`, a job must also carry that
   *  span's op tag (set by the submitting thread), and every other job
   *  is the stream's. `trace.unattributed_jobs` counts the jobs no span
   *  claimed.
   */
  def attribute(r: Run, byTag: Boolean, streamBatches: Int): Unit = {
    val tops = r.tracer.spans.filter(_.parent == 0L).sortBy(_.startMs)
    val jobs = r.jobs.all.filter(j => j.startMs >= r.tracedFromMs && j.startMs <= r.timedEndMs)
    val byVerb = jobs.groupBy { j =>
      val owner =
        if (!byTag) tops.find(_.covers(j.startMs))
        else j.tag.flatMap(t => tops.find(s => s.op.toString == t && s.covers(j.startMs)))
      owner.map(_.name.stripSuffix("_1s")).getOrElse(if (byTag) "stream_batch" else "")
    }
    for (v <- Verbs) {
      val calls =
        if (v == "stream_batch") streamBatches else tops.count(_.name.stripSuffix("_1s") == v)
      val js = byVerb.getOrElse(v, Nil)
      if (calls == 0) r.absent(s"spark.$v.*") = s"no $v calls in this workload"
      else {
        def per(x: Double) = x / calls
        r.layer(s"spark.$v.jobs", per(js.size), "count")
        r.layer(s"spark.$v.tasks", per(js.map(_.tasks).sum.toDouble), "count")
        r.layer(s"spark.$v.task_s", per(js.map(_.taskMs).sum / 1000.0), "s")
        r.layer(s"spark.$v.shuffle_bytes", per(js.map(_.shuffleBytes).sum.toDouble), "bytes")
        r.layer(s"spark.$v.input_bytes", per(js.map(_.inputBytes).sum.toDouble), "bytes")
        r.layer(s"spark.$v.output_bytes", per(js.map(_.outputBytes).sum.toDouble), "bytes")
        r.layer(s"spark.$v.spill_bytes", per(js.map(_.spillBytes).sum.toDouble), "bytes")
      }
    }
    r.layer("trace.unattributed_jobs", byVerb.getOrElse("", Nil).size.toDouble, "count")
  }

  def jobsOf(r: Run, verb: String): Seq[JobWork] = {
    val tops = r.tracer.spans.filter(s => s.parent == 0L && s.name == verb)
    r.jobs.all.filter(j => j.startMs >= r.tracedFromMs && tops.exists(_.covers(j.startMs)))
  }

  /** `trace.overhead`: traced over untraced median of the workload's
   *  main verb, both measured in this run.
   */
  def overhead(r: Run, verb: String): Unit = {
    val (u, t) = (r.ms(verb, traced = false), r.ms(verb, traced = true))
    if (u.nonEmpty && t.nonEmpty)
      r.layer("trace.overhead", Stats.median(t) / Stats.median(u), "ratio")
  }
}
