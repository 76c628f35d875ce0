package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into one engine module. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Spans nest by call order on the driver
 * thread; the whole list is written out as JSON when the run ends.
 * Disabled, `span` only runs its body.
 */
final class Tracer(val runId: String, var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, layer, name, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Per layer: span durations minus the time their child spans cover.
    * Spans are sequential on one thread, so children never overlap. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.groupBy(_.layer).view.mapValues(_.map { s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9
    }.sum).toMap
  }

  def toJson: String = spans.map { s =>
    s"""{"run_id":"$runId","id":${s.id},"parent":${s.parent},""" +
      s""""layer":"${s.layer}","name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

/** Totals from the Spark listener over one measured window. */
final case class Counts(jobs: Long, stages: Long, taskCpuS: Double,
    shuffleWriteMb: Double, spillMb: Double, peakExecMemMb: Double,
    rowsRead: Long)

/**
 * Listener counters: jobs, completed stages, task CPU, shuffle bytes,
 * spill, peak execution memory and rows read. Read only through [[window]],
 * which drains the listener bus before it resets and before it reads.
 */
final class Counters(spark: SparkSession) extends SparkListener {
  private var jobs, stages, cpuNs, shuffleW, spill, rows = 0L
  private var peak = 0L
  private val stageSpans = ArrayBuffer.empty[(Long, Long)]
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(jobs += 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
        stageSpans += ((s, c))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peak = math.max(peak, m.peakExecutionMemory)
      rows += m.inputMetrics.recordsRead
    }
  }

  private def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  /** Runs `body` and returns its result, its wall seconds, the counts it
    * caused and its driver gap: wall time during which no stage ran. */
  def window[T](body: => T): (T, Double, Counts, Double) = {
    drain()
    synchronized {
      jobs = 0; stages = 0; cpuNs = 0; shuffleW = 0; spill = 0; peak = 0
      rows = 0; stageSpans.clear()
    }
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    drain()
    synchronized {
      // union of stage intervals clipped to the window
      val merged = stageSpans.map { case (s, c) =>
        (math.max(s, w0), math.min(c, w1)) }.filter(p => p._2 > p._1)
        .sortBy(_._1)
      var busy = 0L
      var curS = -1L
      var curE = -1L
      merged.foreach { case (s, e) =>
        if (s > curE) { busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      busy += curE - curS
      val mb = 1e6
      val c = Counts(jobs, stages, cpuNs / 1e9, shuffleW / mb, spill / mb,
        peak / mb, rows)
      (out, wall, c, math.max(0.0, wall - busy / 1e3))
    }
  }
}

/** Exact counts from one query's final (post-AQE) executed plan. */
final case class PlanCounts(durationS: Double,
    scans: Int, exchanges: Int, jsonParses: Int, filesReadMb: Double,
    writePath: Option[String], readPaths: Seq[String])

/**
 * Records [[PlanCounts]] for every query the session runs. The
 * callbacks ride the same asynchronous bus, so [[take]] drains it first.
 */
final class PlanRecorder(spark: SparkSession) extends QueryExecutionListener {
  private val seen = ArrayBuffer.empty[PlanCounts]
  spark.listenerManager.register(this)

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val c = PlanWalk.counts(durationNs / 1e9, qe.executedPlan)
    synchronized(seen += c)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Everything recorded since the previous call. */
  def take(): Seq[PlanCounts] = {
    ListenerBusDrain(spark.sparkContext)
    synchronized { val out = seen.toSeq; seen.clear(); out }
  }
}

object PlanWalk {
  /** Every node of a physical plan, descending into AQE query stages,
    * command wrappers and subqueries. A reused exchange is a leaf, so
    * shared work is counted once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case c: CommandResultExec     => Seq(c.commandPhysicalPlan)
      case _                        => p.children
    }
    p +: (below ++ p.subqueries).flatMap(nodes)
  }

  /** A JSON text parse: `from_json` (or the evaluator it is replaced
    * by), or `parse_json`/`try_parse_json`, which lower to a static
    * invoke of the variant parser. Matched on the node itself, so an
    * enclosing expression is not counted again. */
  def isJsonParse(e: Expression): Boolean = e match {
    case _: JsonToStructs => true
    case s: StaticInvoke  => s.functionName == "parseJson"
    case i: Invoke        => i.functionName == "evaluate" &&
      String.valueOf(i.targetObject match {
        case l: Literal => l.value
        case o          => o
      }).contains("JsonToStructs")
    case _ => e.getClass.getSimpleName == "ParseJson"
  }

  def counts(durationS: Double, plan: SparkPlan): PlanCounts = {
    val all = nodes(plan)
    val writes = all.collect {
      case d: DataWritingCommandExec => d.cmd
    }.collect { case i: InsertIntoHadoopFsRelationCommand =>
      i.outputPath.toString }
    val fileScans = all.collect { case f: FileSourceScanExec => f }
    val reads = fileScans.flatMap(_.relation.location.rootPaths.map(_.toString))
    PlanCounts(durationS,
      scans = all.count {
        case _: FileSourceScanExec | _: BatchScanExec => true
        case _ => false
      },
      exchanges = all.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      jsonParses = all.map(_.expressions.map(_.collect {
        case e if isJsonParse(e) => 1 }.size).sum).sum,
      filesReadMb = fileScans.flatMap(_.metrics.get("filesSize"))
        .map(_.value).sum / 1e6,
      writePath = writes.headOption,
      readPaths = reads)
  }
}
