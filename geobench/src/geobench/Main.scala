package geobench

import graft.sql.GraftFunctions
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * Benchmark entry point. One run: set the inputs up several times (setup_s is
 * the median), warm up for [[WarmupSeconds]], then run the workload's
 * closed loop for `--seconds` untraced. With `--trace 1` the loop runs twice as long
 * with every second cycle traced, then the layer probes run; the run prints
 * the per-layer metrics instead of the end-to-end ones and writes every
 * span to `--trace-file`. The last line of stdout is the result object.
 *
 *   Main --workload <geo_query|tile_build|stream_ingest> --seed <n>
 *        --seconds <s> --trace <0|1> --work <dir> --trace-file <path>
 *   Main --selftest --work <dir>
 */
object Main {
  val SetupReps = 3
  /** Warm-up cycles run until this long has passed: Spark's generated code
    * and the JIT keep speeding the first cycles up, by up to 2x. */
  val WarmupSeconds = 8

  /** Every per-layer metric a traced run reports, with its unit; 0 where
    * the workload does not call the layer. */
  val PerLayer: Seq[(String, String)] = Seq(
    "data.gen_s" -> "s",
    "cell.cover_cells" -> "count", "cell.cover_s" -> "s", "cell.cellid_rows_per_s" -> "1/s",
    "geom.refine_candidates" -> "count", "geom.refine_hit_ratio" -> "ratio",
    "join.pip_s" -> "s", "join.pip_jobs" -> "count", "join.pip_task_cpu_s" -> "s",
    "join.pip_shuffle_bytes" -> "bytes", "join.pip_task_skew" -> "ratio",
    "join.knn_jobs_per_call" -> "count", "join.knn_s_per_call" -> "s", "join.knn_task_cpu_s" -> "s",
    "img.decode_images_per_s" -> "1/s", "img.decode_cpu_ms_per_image" -> "ms",
    "tile.run_s" -> "s", "tile.run_jobs" -> "count", "tile.run_task_cpu_s" -> "s",
    "tile.input_rows_per_table_row" -> "ratio", "tile.files_written" -> "count",
    "tile.ingest_jobs_per_batch" -> "count", "tile.ingest_task_cpu_ms_per_batch" -> "ms",
    "tile.snapshot_json_bytes" -> "bytes",
    "tile.compact_s" -> "s", "tile.compact_bytes_rewritten" -> "bytes",
    "tile.range_read_input_rows" -> "count", "tile.range_read_jobs" -> "count",
    "trace_overhead" -> "ratio", "trace.span_coverage" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("geobench")
      .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors().toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.install(spark)
    val code =
      try {
        if (args.contains("--selftest")) SelfTest.run(spark, work)
        else run(spark, opt("workload"), opt("seed").toLong, opt("seconds").toInt,
          opt("trace") == "1", work, opt("trace-file"))
      } finally spark.stop()
    sys.exit(code)
  }

  /**
   * Runs the closed loop for `seconds`, each cycle in a `cycle` span, and
   * returns the untraced and the traced cycles. With `alternate` the window
   * is twice as long and every second cycle is traced, so both halves see
   * the same warm-up and host load. A cycle stops starting ops after half
   * the window, so even a long cycle leaves room for the next.
   */
  def phase(w: Workload, tracer: Tracer, seconds: Int, alternate: Boolean): (Phase, Phase) = {
    val (plain, traced) = (new Phase(tracer), new Phase(tracer))
    val window = seconds * 1000000000L * (if (alternate) 2 else 1)
    val deadline = System.nanoTime() + window
    var k = 0
    while (System.nanoTime() < deadline) {
      tracer.on = alternate && k % 2 == 1
      val p = if (tracer.on) traced else plain
      val (t0, n0, s0) = (System.nanoTime(), p.images, p.seconds(w.throughputOps))
      tracer.span("cycle")(w.cycle(p, k, math.min(deadline, t0 + seconds * 500000000L)))
      p.cycleRates += (p.images - n0) / (p.seconds(w.throughputOps) - s0)
      p.wallSeconds += (System.nanoTime() - t0) / 1e9
      k += 1
    }
    tracer.on = false
    (plain, traced)
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Int, trace: Boolean,
          work: String, traceFile: String): Int = {
    val tracer = new Tracer(spark.sparkContext)
    val w = Workload(name, spark, seed, s"$work/data", small = false)
    tracer.on = trace
    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime(); w.setup(tracer); (System.nanoTime() - t0) / 1e9
    }
    tracer.on = false
    val t1 = System.nanoTime()
    w.prepareOracle()
    val t2 = System.nanoTime()
    val all = new Phase(tracer)
    val warm = new Phase(tracer)
    val warmEnd = System.nanoTime() + WarmupSeconds * 1000000000L
    var k = 0
    while (k == 0 || System.nanoTime() < warmEnd) { k -= 1; w.cycle(warm, k, System.nanoTime()) }
    all.absorb(warm)
    System.err.println(f"geobench: setup ${setupS.sum}%.1f s, oracle ${(t2 - t1) / 1e9}%.1f s, " +
      f"warm-up ${(System.nanoTime() - t2) / 1e9}%.1f s")

    val (plain, traced) = phase(w, tracer, seconds, alternate = trace)
    all.absorb(plain)
    all.absorb(traced)
    System.err.println("geobench: cycle rates " + plain.cycleRates.map(r => f"$r%.1f").mkString(" ") +
      "; latencies (ms) " + plain.latencyMs.map { case (k, xs) => s"$k: " + xs.map(x => f"$x%.0f").mkString(" ") }
        .mkString("; "))
    val setup = Metric("setup_s", Stats.median(setupS), "s")
    val images = Metric("images_per_s", Stats.median(plain.cycleRates.toSeq), "1/s")
    val lat = plain.latencyMs.getOrElse(w.latencyOp, Nil).toSeq

    val layers = if (trace) Some(traceReport(w, tracer, plain, traced, all, name, seed, traceFile)) else None
    val rss = Metric("peak_rss_mb", peakRssMb, "MB")
    val out = layers.getOrElse(Seq(setup, images, Metric("op_ms_p50", Stats.median(lat), "ms"), rss))
    val report = Seq(setup, images) ++ w.report(plain) ++
      Seq(rss, Metric("failed_ops_ratio", all.failed.toDouble / all.attempted, "ratio"))
    println(s"""{"workload":"$name","seed":$seed,"report":${metricsJson(report, withSamples = true)},""" +
      s""""failures":[${all.failures.map(f => "\"" + esc(f) + "\"").mkString(",")}]}""")
    all.failures.foreach(f => System.err.println(s"FAILED $f"))
    println(s"""{"correct":${all.failed == 0},"attempted":${all.attempted},"failed":${all.failed},""" +
      s""""metrics":${metricsJson(out, withSamples = false)}}""")
    0
  }

  /** Runs the layer probes, returns every per-layer metric and writes the
    * spans to `traceFile`. */
  private def traceReport(w: Workload, tracer: Tracer, plain: Phase, traced: Phase, all: Phase,
                          name: String, seed: Long, traceFile: String): Seq[Metric] = {
    tracer.on = true
    val probes = new Phase(tracer)
    val own = tracer.span("probes")(w.layerMetrics(probes))
    all.absorb(probes)
    tracer.on = false
    tracer.drain()
    val layers = spanMetrics(tracer) ++ own ++ Seq(
      Metric("data.gen_s", Stats.median(tracer.named("data.gen").map(_.seconds)), "s"),
      Metric("trace_overhead", overhead(plain, traced), "ratio"),
      Metric("trace.span_coverage", coverage(tracer, traced.wallSeconds), "ratio"))
    val byName = layers.map(m => m.name -> m).toMap
    val res = PerLayer.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
    Files.createDirectories(Paths.get(traceFile).getParent)
    Files.write(Paths.get(traceFile), tracer.toJson(Seq(
      "workload" -> s""""$name"""", "seed" -> seed.toString,
      "traced_wall_s" -> traced.wallSeconds.toString,
      "untraced_wall_s" -> plain.wallSeconds.toString,
      "metrics" -> metricsJson(res, withSamples = false))).getBytes(StandardCharsets.UTF_8))
    res
  }

  /** Per-layer metrics derived from the spans of the traced cycles and probes. */
  private def spanMetrics(t: Tracer): Seq[Metric] = {
    def spans(name: String) = t.named(name)
    def secs(name: String) = if (spans(name).isEmpty) 0.0 else Stats.median(spans(name).map(_.seconds))
    def per(name: String)(f: SpanWork => Double) = Stats.mean(spans(name).map(s => f(t.listener.of(s.id))))
    Seq(
      Metric("join.pip_s", secs("join.pip"), "s"),
      Metric("join.pip_jobs", per("join.pip")(_.jobs), "count"),
      Metric("join.pip_task_cpu_s", per("join.pip")(_.cpuNs / 1e9), "s"),
      Metric("join.pip_shuffle_bytes", per("join.pip")(_.shuffleWriteBytes), "bytes"),
      Metric("join.pip_task_skew", if (spans("join.pip").isEmpty) 0.0
        else Stats.median(spans("join.pip").map(s => t.listener.of(s.id).heaviestStageSkew)), "ratio"),
      Metric("join.knn_jobs_per_call", per("join.knn")(_.jobs), "count"),
      Metric("join.knn_s_per_call", secs("join.knn"), "s"),
      Metric("join.knn_task_cpu_s", per("join.knn")(_.cpuNs / 1e9), "s"),
      Metric("tile.run_s", secs("tile.run"), "s"),
      Metric("tile.run_jobs", per("tile.run")(_.jobs), "count"),
      Metric("tile.run_task_cpu_s", per("tile.run")(_.cpuNs / 1e9), "s"),
      Metric("tile.ingest_jobs_per_batch", per("tile.ingest")(_.jobs), "count"),
      Metric("tile.ingest_task_cpu_ms_per_batch", per("tile.ingest")(_.cpuNs / 1e6), "ms"),
      Metric("tile.compact_s", secs("tile.compact"), "s"),
      Metric("tile.compact_bytes_rewritten", per("tile.compact")(_.outputBytes), "bytes"),
      Metric("tile.range_read_input_rows", per("tile.read")(_.inputRecords), "count"),
      Metric("tile.range_read_jobs", per("tile.read")(_.jobs), "count"),
    )
  }

  /** Traced ÷ untraced time of the untraced cycles' op mix, each op kind
    * priced at its median latency in the traced or the untraced cycles. */
  private def overhead(plain: Phase, traced: Phase): Double = {
    val kinds = plain.latencyMs.keys.filter(traced.latencyMs.contains).toSeq
    def cost(p: Phase) = kinds.map(k => plain.latencyMs(k).size * Stats.median(p.latencyMs(k).toSeq)).sum
    cost(traced) / cost(plain)
  }

  /** Share of the traced cycles' wall time spent inside spans of layer calls. */
  private def coverage(t: Tracer, wallSeconds: Double): Double = {
    val cycles = t.spans.iterator.filter(_.name == "cycle").map(_.id).toSet
    t.spans.iterator.filter(s => cycles.contains(s.parent)).map(_.seconds).sum / wallSeconds
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def metricsJson(ms: Seq[Metric], withSamples: Boolean): String =
    ms.map { m =>
      val s = if (withSamples && m.samples > 0) s""","samples":${m.samples}""" else ""
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"$s}"""
    }.mkString("{", ",", "}")
}
