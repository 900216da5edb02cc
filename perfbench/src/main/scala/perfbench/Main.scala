package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.SessionTuning

/**
 * Entry point of one benchmark run:
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
 *   perfbench.Main --selftest
 *   perfbench.Main --train --out <dir>
 *
 * Builds the session the engine ships (`SessionTuning` at local[nproc]),
 * runs the named workload, and writes `result.json`, `samples.csv` and,
 * traced, `spans.jsonl` under `--out`, which also holds the run's stores.
 * `--train` runs every workload briefly, so that the JVM can record the
 * classes a run loads (see run.py).
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.indices.collect {
      case i if i + 1 < args.length && !args(i + 1).startsWith("--") =>
        args(i).stripPrefix("--") -> args(i + 1)
    }.toMap
    val selfFailures = SelfTest.all
    if (args.contains("--selftest")) {
      selfFailures.foreach(f => System.err.println(s"self-test failed: $f"))
      println(s"self-test: ${selfFailures.size} failures")
      sys.exit(if (selfFailures.isEmpty) 0 else 1)
    }
    val out = Paths.get(opts("out")).toAbsolutePath
    if (args.contains("--train")) {
      session(out) { spark =>
        for ((name, body) <- Workloads.all.toSeq.sortBy(_._1))
          body(new Run(spark, out.resolve(name), 1L, 1, traceRun = true, setupReps = 1))
        spark.stop()
      }
      return
    }
    val workload = opts("workload")
    val body = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val run = session(out) { spark =>
      new Run(spark, out.resolve("work"), opts("seed").toLong, opts("seconds").toInt,
        opts("trace") == "1")
    }
    val sessionS = (System.currentTimeMillis() - Jvm.startMs) / 1000.0
    selfFailures.foreach(f => run.check(s"self-test: $f")(false))
    val o = body(run)
    if (run.traceRun) run.tracer.writeJsonl(out.resolve("spans.jsonl"))
    Files.writeString(out.resolve("samples.csv"), run.samples.map(s =>
      s"${s.verb},${s.ms},${s.traced}").mkString("verb,ms,traced\n", "\n", "\n"))
    val json = result(workload, run, o, sessionS)
    run.spark.stop()
    Files.writeString(out.resolve("result.json"), json)
  }

  def session[T](out: Path)(f: SparkSession => T): T = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SessionTuning(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true"))
      // as graft.Bench builds it: direct task commits, no _SUCCESS markers
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside the run's own directory
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    f(spark)
  }

  private def result(workload: String, r: Run, o: Outcome, sessionS: Double): String = {
    val ops = r.samples.filter(s => o.opVerbs(s.verb) && !s.traced).map(_.ms).toSeq
    val setupS = sessionS + Stats.median(o.setupRepsS) + o.warmS
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (if (ops.isEmpty) 0.0 else Stats.median(ops), "ms"),
      "ops_per_s" -> (o.ops / o.opsS, "1/s"),
      "store_bytes_per_point" -> (o.storeBytes.toDouble / math.max(1L, o.storePoints), "bytes"))
    // the per-verb metrics, by name, for the verbs this workload runs
    for (verb <- Seq("put", "get", "get_1s", "search", "histogram", "comment")) {
      val xs = r.samples.filter(s => s.verb == verb && !s.traced).map(_.ms).toSeq
      if (xs.nonEmpty) {
        r.detail(s"${verb}_p50_ms") = (Stats.median(xs), "ms")
        r.detail(s"${verb}_n") = (xs.size.toDouble, "count")
        Stats.tailPercentile(xs.size).foreach { p =>
          r.detail(s"${verb}_tail_ms") = (Stats.percentile(xs, p), "ms")
          r.detail(s"${verb}_tail_pct") = (p.toDouble, "percentile")
        }
      }
    }
    r.detail("op_n") = (ops.size.toDouble, "count")
    r.detail("store_bytes_per_point") = e2e.last._2
    r.detail("failed_frac") = (r.failures.size.toDouble / math.max(1L, r.attempted), "ratio")
    r.detail("session_s") = (sessionS, "s")
    o.setupRepsS.zipWithIndex.foreach { case (s, k) => r.detail(s"setup_rep${k}_s") = (s, "s") }
    r.detail("warm_s") = (o.warmS, "s")
    val metrics =
      if (!r.traceRun) e2e
      else Layers.all.map { case (name, unit) =>
        name -> r.perLayer.getOrElse(name, {
          if (!r.absent.keys.exists(k => name.startsWith(k.stripSuffix("*"))))
            r.absent(name) = s"not exercised by $workload"
          (0.0, unit)
        })
      }
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    def obj(kv: Seq[(String, (Double, String))]) = kv.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "${u}"}""" }.mkString("{", ", ", "}")
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def strs(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    val context = Seq(
      "spark_cores" -> r.spark.sparkContext.defaultParallelism.toString,
      "jvm_max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString)
    s"""{"correct": ${r.failures.isEmpty}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failures.size}, "metrics": ${obj(metrics)}, """ +
      s""""detail": ${obj(r.detail.toSeq)}, "absent": ${strs(r.absent.view.mapValues(str))}, """ +
      s""""failures": ${r.failures.take(20).map(str).mkString("[", ", ", "]")}, """ +
      s""""context": ${strs(context)}}"""
  }
}
