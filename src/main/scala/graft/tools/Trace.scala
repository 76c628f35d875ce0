package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Per-query trace of `SparkEntry.queries` under Bench's protocol: one
 * `t_tokens` warm-up, then `reps` timed `df.count()` runs per query
 * (median and every rep), a throwing query recording its error and no
 * time. Each rep also reports what it made Spark do: jobs, stages,
 * Σ stage wall, the driver gap (wall time no stage covered), shuffle
 * bytes and spill, and the scan and exchange counts of the timed
 * action's AQE-final plan. Prints one JSON line per query; with
 * `planDir`, also writes that plan to `<planDir>/<query>.txt`.
 *
 * Run: `SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Trace
 * <q1,q2|all> [reps=3] [planDir]"`; the session is [[BenchSession]].
 */
object Trace {

  /** What one timed run did. Stage wall and gap are seconds. */
  final case class Rep(seconds: Double, jobs: Int, stages: Int,
      stageWallS: Double, driverGapS: Double, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, scans: Int,
      exchanges: Int) {
    def counts: (Int, Int, Int, Int) = (jobs, stages, scans, exchanges)
  }

  /** One query's reps; `plan` is the last rep's timed action. */
  final case class Record(name: String, reps: Seq[Rep],
      error: Option[String], plan: Option[QueryExecution],
      load1mStart: Double, load1mEnd: Double) {
    def medianS: Option[Double] =
      if (error.isDefined) None
      else Some(graft.Scaling.median(reps.map(_.seconds)))
    def countsRepeat: Boolean = reps.map(_.counts).distinct.size <= 1

    def toJson: String = {
      def num(d: Double) = f"$d%.3f"
      def mb(b: Long) = f"${b / 1e6}%.3f"
      val fields = ArrayBuffer(
        s""""query":"$name"""",
        s""""median_s":${medianS.map(num).getOrElse("null")}""",
        s""""rep_s":${reps.map(r => num(r.seconds)).mkString("[", ",", "]")}""")
      // the median rep's own counters, so every field is from one run
      if (error.isEmpty) reps.sortBy(_.seconds).lift(reps.size / 2)
        .foreach { r =>
          fields ++= Seq(s""""jobs":${r.jobs}""", s""""stages":${r.stages}""",
            s""""stage_wall_s":${num(r.stageWallS)}""",
            s""""driver_gap_s":${num(r.driverGapS)}""",
            s""""shuffle_read_mb":${mb(r.shuffleReadBytes)}""",
            s""""shuffle_write_mb":${mb(r.shuffleWriteBytes)}""",
            s""""spill_mb":${mb(r.spillBytes)}""",
            s""""scans":${r.scans}""", s""""exchanges":${r.exchanges}""",
            s""""counts_repeat":$countsRepeat""")
        }
      error.foreach(e =>
        fields += s""""error":"${graft.Bench.jsonEscape(e)}"""")
      fields ++= Seq(f""""load_1m_start":$load1mStart%.2f""",
        f""""load_1m_end":$load1mEnd%.2f""")
      fields.mkString("{", ",", "}")
    }
  }

  /** Listener totals over one window; read only after a drain. */
  private final class Counters extends SparkListener
      with QueryExecutionListener {
    var jobs, stages = 0
    var stageWallMs, shuffleRead, shuffleWrite, spill = 0L
    val stageSpans = ArrayBuffer.empty[(Long, Long)]
    var lastAction: Option[QueryExecution] = None

    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; stageWallMs = 0L
      shuffleRead = 0L; shuffleWrite = 0L; spill = 0L
      stageSpans.clear(); lastAction = None
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(jobs += 1)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stages += 1
        for (s <- si.submissionTime; c <- si.completionTime) {
          stageWallMs += c - s
          stageSpans += ((s, c))
        }
        Option(si.taskMetrics).foreach { m =>
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }

    // the timed `count()` is the window's last action: a query's own
    // eager actions (checkpoints, probes) finish before it
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized { lastAction = Some(qe) }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    /** Wall milliseconds in [w0, w1] covered by at least one stage. */
    def busyMs(w0: Long, w1: Long): Long = synchronized {
      var busy, end = 0L
      var start = -1L
      stageSpans.map { case (s, c) => (math.max(s, w0), math.min(c, w1)) }
        .filter { case (s, c) => c > s }.sortBy(_._1).foreach {
          case (s, c) if s > end =>
            if (start >= 0) busy += end - start
            start = s; end = c
          case (_, c) => end = math.max(end, c)
        }
      if (start >= 0) busy += end - start
      busy
    }
  }

  private def load1m(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Times `reps` runs of `q(spark, sfDir).count()`. The listener bus is
    * drained before the counters reset and again before they are read,
    * so no stage event is missed or carried into the next rep. */
  def measure(spark: SparkSession, sfDir: String, name: String,
      q: (SparkSession, String) => DataFrame, reps: Int): Record = {
    val sc = spark.sparkContext
    val c = new Counters
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
    val loadStart = load1m()
    try {
      var err: Option[String] = None
      val out = ArrayBuffer.empty[Rep]
      var plan: Option[QueryExecution] = None
      while (err.isEmpty && out.size < reps) {
        GraftSqlBridge.drainListenerBus(sc)
        c.reset()
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try q(spark, sfDir).count()
        catch {
          case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(200))
        }
        if (err.isEmpty) {
          val sec = (System.nanoTime() - t0) / 1e9
          val w1 = System.currentTimeMillis()
          GraftSqlBridge.drainListenerBus(sc)
          c.synchronized {
            val fin = c.lastAction.map(_.executedPlan)
            plan = c.lastAction
            out += Rep(sec, c.jobs, c.stages, c.stageWallMs / 1e3,
              math.max(0.0, sec - c.busyMs(w0, w1) / 1e3),
              c.shuffleRead, c.shuffleWrite, c.spill,
              fin.map(PlanWalk.fileScans(_).size).getOrElse(0),
              fin.map(PlanWalk.shuffleCount).getOrElse(0))
          }
        }
      }
      Record(name, out.toSeq, err, plan, loadStart, load1m())
    } finally {
      spark.listenerManager.unregister(c)
      sc.removeSparkListener(c)
    }
  }

  /** `all` or a comma list of query names; an unknown name fails and
    * lists the known ones. */
  def select(arg: String): Seq[String] = {
    val known = graft.SparkEntry.queries.keys.toSeq.sorted
    if (arg == "all") known
    else {
      val names = arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = names.filterNot(known.contains)
      require(unknown.isEmpty, "unknown query name(s): " +
        s"${unknown.mkString(", ")}; known: ${known.mkString(", ")}")
      names
    }
  }

  def main(args: Array[String]): Unit = {
    val names = select(args.headOption.getOrElse(
      sys.error("usage: Trace <q1,q2|all> [reps=3] [planDir]")))
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val planDir = args.lift(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the sf directory to read"))
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    // Bench's warm-up: JIT, codegen and file-index caches
    try graft.SparkEntry.queries("t_tokens")(spark, sfDir).count()
    catch { case _: Throwable => () }
    names.foreach { n =>
      val r = measure(spark, sfDir, n, graft.SparkEntry.queries(n), reps)
      for (d <- planDir; qe <- r.plan)
        Files.writeString(Paths.get(d, s"$n.txt"),
          qe.explainString(FormattedMode))
      println(r.toJson)
    }
    spark.stop()
  }
}
