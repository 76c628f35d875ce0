package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM entry point.
 *
 *   prepare --workload W --seed N --work DIR
 *     generate W's input for seed N into the cache, if not there yet;
 *   measure --workload W --seed N --seconds S --trace 0|1 --work DIR
 *     set up nine times, run one cold pass, then passes for S seconds,
 *     each followed by a bare scan of its input (the last two thirds
 *     measured), checking every answer; with --trace 1, also a traced
 *     phase. The last stdout line is the result object.
 *
 * `perfbench/run.py` builds the classpath and calls both.
 */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "validate_x_scan" -> "x", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "cold_pass_s" -> "s", "scan_rows_per_s" -> "rows/s",
    "compile.suite_ms" -> "ms", "compile.schema_import_ms" -> "ms",
    "compile.doc_suite_ms" -> "ms",
    "table.scans" -> "count", "table.read_mb" -> "MB",
    "table.rows_read" -> "rows", "table.scan_only_s" -> "s",
    "table.partitions_listed_ms" -> "ms",
    "exec.rowlocal_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.exchanges" -> "count", "exec.task_cpu_s" -> "s",
    "exec.driver_gap_s" -> "s", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.peak_exec_mem_mb" -> "MB",
    "exec.violation_rows" -> "rows",
    "checks.unique_s" -> "s", "checks.ri_s" -> "s", "checks.drift_s" -> "s",
    "checks.unique_shuffle_mb" -> "MB",
    "checkpoint.pending_s" -> "s", "checkpoint.append_s" -> "s",
    "checkpoint.violations_write_s" -> "s",
    "checkpoint.files_written" -> "count", "checkpoint.skip_ratio" -> "fraction",
    "checkpoint.rows_per_s" -> "rows/s",
    "sketch.profile_s" -> "s",
    "json.doc_s" -> "s", "json.typed_s" -> "s", "json.variant_s" -> "s",
    "json.parse_exprs.typed" -> "count", "json.parse_exprs.variant" -> "count",
    "ops.signatures_s" -> "s", "ops.candidates_s" -> "s", "ops.verify_s" -> "s",
    "ops.cc_s" -> "s", "ops.cc_rounds" -> "count", "ops.jobs" -> "count",
    "ops.driver_gap_s" -> "s", "ops.shuffle_write_mb" -> "MB",
    "ops.verified_per_candidate" -> "fraction", "ops.rows_per_s" -> "rows/s",
    "self.bench_s" -> "s", "self.compile_s" -> "s", "self.table_s" -> "s",
    "self.exec_s" -> "s", "self.checks_s" -> "s", "self.checkpoint_s" -> "s",
    "self.sketch_s" -> "s", "self.ops_s" -> "s",
    "noop_rerun_s" -> "s", "typed_rows_per_s" -> "rows/s",
    "variant_rows_per_s" -> "rows/s", "error_rate" -> "fraction",
    "trace.rows_per_s" -> "rows/s", "trace.overhead_ratio" -> "ratio",
    "trace.counts_repeat" -> "bool")

  /** Counts that must repeat exactly between traced passes. */
  val ExactCounts = Seq("table.scans", "exec.exchanges",
    "json.parse_exprs.typed", "json.parse_exprs.variant")

  /** Later performance claims must also hold on this seed, which is
    * kept out of tuning. */
  val HeldOutSeed = 1009L
  val Setups = 9
  val MinPasses = 6
  val TracedPasses = 2

  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads(opt("workload"))
    val seed = opt("seed").toLong
    val work = opt("work")
    mode match {
      case "prepare" =>
        InputCache.ensure(s"$work/data", w.name, w.size, seed)(w.write(seed, _))
      case "measure" =>
        val trace = opt("trace") == "1"
        val line = measure(w, seed, opt("seconds").toDouble, trace, work,
          opts.getOrElse("commit", "unknown"))
        println(line)
      case other =>
        throw new IllegalArgumentException(s"unknown mode '$other'")
    }
  }

  private def load1m(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One measured run; returns the result line. */
  def measure(w: Workload, seed: Long, seconds: Double, trace: Boolean,
      work: String, commit: String): String = {
    val load0 = load1m()
    val dir = InputCache.dir(s"$work/data", w.name, w.size, seed)
    require(InputCache.ready(dir), s"no input at $dir: run prepare first")
    val truth = w.truth(seed)
    val runId = s"${w.name}-$seed-${System.currentTimeMillis}"
    val tr = new Tracer(runId, trace)
    val chk = new Checker

    // ---- set-up, several times: session, compile, frame + file index
    var spark: SparkSession = null
    var env: Env = null
    var st: w.State = null.asInstanceOf[w.State]
    val setups = (1 to Setups).map { _ =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = tr.span("bench", "SparkSession.getOrCreate")(session(work))
      env = new Env(spark, seed, tr, chk, work, None, None)
      st = tr.span("bench", "setup")(w.setup(env, dir, truth))
      (System.nanoTime() - t0) / 1e9
    }
    val setupSpans = tr.all

    // ---- cold pass, then passes for the run's seconds, each followed by
    // a bare scan of the columns it reads. The JIT is still warming up
    // through the first of them (rates climb pass by pass), so the first
    // third of these passes is warm-up and the rest is measured.
    // The host's speed drifts by a fifth within minutes; a pass and the
    // scan right after it see the same host, so their ratio does not.
    // A traced run only needs these passes as the untraced reference for
    // its overhead, and spends half the time on them.
    val cold = tr.span("bench", "pass[cold]")(w.loopPass(env, st))
    tr.enabled = false
    val passes = mutable.ArrayBuffer.empty[PassOut]
    val scans = mutable.ArrayBuffer.empty[Double]
    val untracedSeconds = if (trace) seconds / 2 else seconds
    val deadline = System.nanoTime() + (untracedSeconds * 1e9).toLong
    while (passes.size < MinPasses || System.nanoTime() < deadline) {
      passes += w.loopPass(env, st)
      scans += w.scanPass(env, st)
    }
    val warm = passes.drop(passes.size / 3).toSeq
    val warmScanS = Stats.median(scans.drop(scans.size / 3).toSeq)
    val warmPassS = Stats.median(warm.map(_.rateSeconds))
    tr.enabled = trace
    def rate(ps: Seq[PassOut]) = Stats.median(ps.map(p => p.rows / p.rateSeconds))
    def extraMedian(ps: Seq[PassOut], k: String) =
      Stats.median(ps.flatMap(_.extra.get(k)))
    val rowsPerS = rate(warm)

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!trace) {
      metrics("validate_x_scan") = warmPassS / warmScanS
      metrics("setup_s") = Stats.median(setups)
    } else {
      val ctr = new Counters(spark)
      val plans = new PlanRecorder(spark)
      val tenv = new Env(spark, seed, tr, chk, work, Some(plans), Some(ctr))
      plans.take()
      val traced = (1 to TracedPasses).map { _ =>
        val (out, _, counts, gap) = ctr.window(
          tr.span("bench", "pass[traced]")(w.pass(tenv, st)))
        (out, counts, gap)
      }
      val m = mutable.Map.empty[String, Double]
      PerLayer.foreach { case (k, _) => m(k) = 0.0 }
      def spanMs(layer: String, names: String*): Double = Stats.median(
        setupSpans.filter(s => s.layer == layer && names.contains(s.name))
          .map(_.seconds * 1e3))
      m("compile.suite_ms") = spanMs("compile", "ConstraintCompiler.compile")
      m("compile.schema_import_ms") = spanMs("compile", "JsonSchemaImport.translate")
      m("compile.doc_suite_ms") = spanMs("compile", "JsonValidator.compile")
      m("table.partitions_listed_ms") =
        spanMs("table", "read.parquet", "ParquetPartitionedTable.partitions")
      val outs = traced.map(_._1)
      outs.flatMap(_.extra.keySet).distinct.foreach(k => m(k) = extraMedian(outs, k))
      val cs = traced.map(_._2)
      def med(f: Counts => Double) = Stats.median(cs.map(f))
      m("exec.jobs") = med(_.jobs.toDouble)
      m("exec.stages") = med(_.stages.toDouble)
      m("exec.task_cpu_s") = med(_.taskCpuS)
      m("exec.driver_gap_s") = Stats.median(traced.map(_._3))
      m("exec.shuffle_write_mb") = med(_.shuffleWriteMb)
      m("exec.spill_mb") = med(_.spillMb)
      m("exec.peak_exec_mem_mb") = med(_.peakExecMemMb)
      m("table.rows_read") = med(_.rowsRead.toDouble)
      m("rows_per_s") = rowsPerS
      m("cold_pass_s") = cold.wallSeconds
      m("scan_rows_per_s") = w.size / warmScanS
      m("trace.rows_per_s") = rate(outs)
      m("trace.overhead_ratio") = m("trace.rows_per_s") / rowsPerS
      val counts = outs.map(o => ExactCounts.map(o.extra.get))
      val repeat = counts.distinct.size == 1
      chk.op("plan counts repeat")(counts) { _ =>
        if (repeat) Nil else Seq(s"exact plan counts differ: ${counts.mkString(" vs ")}")
      }
      m("trace.counts_repeat") = if (repeat) 1.0 else 0.0
      w.layers(tenv, st, m)
      tr.selfSeconds.foreach { case (layer, s) => m(s"self.${layer}_s") = s }
      m("error_rate") = chk.failed.toDouble / chk.attempted
      PerLayer.foreach { case (k, _) => metrics(k) = m(k) }
    }
    stop(spark)

    val units = (if (trace) PerLayer else EndToEnd).toMap
    val metricsJson = metrics.map { case (k, v) =>
      s"${quote(k)}: {\"value\": ${json(v)}, \"unit\": ${quote(units(k))}}"
    }.mkString("{", ", ", "}")
    val correct = chk.failed == 0
    val result = s"""{"correct": $correct, "attempted": ${chk.attempted}, """ +
      s""""failed": ${chk.failed}, "metrics": $metricsJson}"""
    val host = Seq(
      "workload" -> quote(w.name), "seed" -> seed.toString,
      "held_out_seed" -> HeldOutSeed.toString, "trace" -> trace.toString,
      "input_size" -> w.size.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "load_1m_start" -> json(load0), "load_1m_end" -> json(load1m()),
      "commit" -> quote(commit), "spark" -> quote(org.apache.spark.SPARK_VERSION),
      "jvm" -> quote(System.getProperty("java.version")),
      "jit_compile_s" -> json(java.lang.management.ManagementFactory
        .getCompilationMXBean.getTotalCompilationTime / 1e3),
      "passes_warmup" -> (passes.size - warm.size).toString,
      "passes_measured" -> warm.size.toString,
      "error_rate" -> json(chk.failed.toDouble / chk.attempted),
      "problems" -> chk.problems.take(10).map(quote).mkString("[", ", ", "]"),
    ).map { case (k, v) => s"${quote(k)}: $v" }.mkString("{", ", ", "}")
    val samples = Seq(
      "setup_s" -> setups,
      "cold_pass_s" -> Seq(cold.wallSeconds),
      "rows_per_s_all_passes" -> passes.map(p => p.rows / p.rateSeconds).toSeq,
      "scan_s_all_passes" -> scans.toSeq,
    ).map { case (k, v) => s"${quote(k)}: ${v.map(json).mkString("[", ", ", "]")}" }
      .mkString("{", ", ", "}")
    val record = s"""{"result": $result, "host": $host, "samples": $samples""" +
      (if (trace) s""", "spans": ${tr.toJson}""" else "") + "}"
    val out = Paths.get(work, "results")
    Files.createDirectories(out)
    Files.writeString(out.resolve(s"$runId-trace${if (trace) 1 else 0}.json"),
      record + "\n")
    System.out.println(s"""{"host": $host}""")
    chk.problems.take(10).foreach(p => System.err.println(s"[perfbench] $p"))
    result
  }
}
