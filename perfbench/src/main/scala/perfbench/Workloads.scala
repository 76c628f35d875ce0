package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

import graft.Scaling
import graft.checkpoint.{CheckpointStore, PartitionedRunner}
import graft.checks.{ColumnStats, DriftCheck, RefIntegrityCheck, UniqueCheck}
import graft.compile.{CompiledSuite, ConstraintCompiler, JsonSchemaImport}
import graft.dsl.{Constraint => C, ConstraintSuite}
import graft.exec.{JsonValidator, Validator}
import graft.gen.SequenceGen
import graft.ops.{ConnectedComponents, Dedup}
import graft.table.ParquetPartitionedTable

/**
 * Operations attempted and failed. An operation fails when it throws or
 * when its answer differs from the generator's truth; `error_rate` is
 * failed / attempted.
 */
final class Checker {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  /** Runs one operation, timing only `body`, then checks its answer.
    * Returns the answer (None when it threw) and the body's seconds. */
  def op[T](label: String)(body: => T)(verify: T => Seq[String]): (Option[T], Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $label%s $secs%.3f s")
    out match {
      case Left(e) =>
        failed += 1
        problems += s"$label threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        (None, secs)
      case Right(v) =>
        val bad = verify(v)
        if (bad.nonEmpty) {
          failed += 1
          problems += s"$label: ${bad.take(3).mkString("; ")}".take(300)
        }
        (Some(v), secs)
    }
  }
}

/** What a pass hands back: rows it validated, the seconds those rows
  * took (the rate's denominator), its whole wall time, and
  * workload-specific figures. */
final case class PassOut(rows: Long, rateSeconds: Double, wallSeconds: Double,
    extra: Map[String, Double] = Map.empty)

/** Per-run environment shared by setup, passes and the traced layers. */
final class Env(val spark: SparkSession, val seed: Long, val tr: Tracer,
    val chk: Checker, val work: String, val plans: Option[PlanRecorder],
    val counters: Option[Counters]) {
  var passNo = 0
  /** Plan counts since the last call (empty when not tracing). */
  def takePlans(): Seq[PlanCounts] = plans.map(_.take()).getOrElse(Nil)
}

trait Workload {
  def name: String
  /** Input size (rows or documents). */
  def size: Long
  type Truth
  type State
  /** Generates the input for `seed` as Parquet tables under `root`;
    * the measured table is `root/table`. */
  def write(seed: Long, root: String): Unit
  def truth(seed: Long): Truth
  /** A wrong expected answer, for the checker's own self-test. */
  def perturb(t: Truth): Truth
  def setup(env: Env, root: String, truth: Truth): State
  def pass(env: Env, st: State): PassOut
  /** The pass run cold and then repeated for the run's seconds; by
    * default the whole pass. */
  def loopPass(env: Env, st: State): PassOut = pass(env, st)
  /** Seconds of a bare read, to a noop sink, of the input columns the
    * loop pass reads: the pass's floor, and its host-speed reference. */
  def scanPass(env: Env, st: State): Double =
    throw new UnsupportedOperationException(s"$name has no scan pass")

  protected def scanOnly(df: DataFrame, cols: Seq[String]): Double =
    Workloads.seconds(df.select(cols.map(F.col): _*).write.format("noop")
      .mode("overwrite").save())._2
  /** Traced run only: layer-by-layer figures beyond the pass itself. */
  def layers(env: Env, st: State, m: mutable.Map[String, Double]): Unit = ()

  protected def mismatch[K, V](what: String, want: Map[K, V],
      got: Map[K, V]): Seq[String] =
    (want.keySet ++ got.keySet).toSeq.sortBy(_.toString).collect {
      case k if want.get(k) != got.get(k) =>
        s"$what[$k]: expected ${want.get(k)}, got ${got.get(k)}"
    }
}

object Workloads {
  val all: Seq[Workload] = Seq(TokensValidate, JsonDocs)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  def partKey(r: Row, cols: Seq[String]): String =
    cols.map(c => s"$c=${r.getAs[Any](c)}").mkString("/")

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** One partition's row of `Validator.validate` output. */
final case class Verdict(nRows: Long, nBad: Long, rowsOk: Boolean,
    nPart: Long, nGlobal: Long, valid: Boolean)

/** Shared by the two token workloads: the north-star suite over a
  * `source`-partitioned table, and the traced layer build-up. */
abstract class TokenWorkload extends Workload {
  import Workloads._
  def partitionCols: Seq[String]
  type Truth = TokenTruth.Tally

  def dims(spark: SparkSession): Map[String, DataFrame] =
    Map("sources" -> SequenceGen.sourcesDim(spark))
  def compileSuite(env: Env, constraints: Seq[C]): CompiledSuite =
    env.tr.span("compile", "ConstraintCompiler.compile") {
      ConstraintCompiler.compile(
        ConstraintSuite(Scaling.benchSuite.id, constraints))
    }

  def expectedVerdicts(t: Truth, rowLocalOnly: Boolean): Map[String, Verdict] =
    t.parts.map { case (k, p) =>
      val nPart = if (rowLocalOnly) 0L
        else p.dangling + (if (t.drifted(k)) 1L else 0L)
      val nGlobal = if (rowLocalOnly) 0L else t.dupKeys
      k -> Verdict(p.nRows, p.nBad, p.nBad == 0, nPart, nGlobal,
        p.nBad == 0 && nPart == 0 && nGlobal == 0)
    }

  def verdictsOf(rows: Array[Row]): Map[String, Verdict] =
    rows.map(r => partKey(r, partitionCols) -> Verdict(
      r.getAs[Long]("n_rows"), r.getAs[Long]("n_bad_rows"),
      r.getAs[Boolean]("rows_ok"), r.getAs[Long]("n_partition_violations"),
      r.getAs[Long]("n_global_violations"), r.getAs[Boolean]("valid"))).toMap

  def perturb(t: Truth): Truth = t.copy(dupKeys = t.dupKeys + 1)

  def scanCols: Seq[String] = Seq("doc_id", "tokens", "n_tok") ++ partitionCols

  /** Scan only, then the row-local suite, then each dataset check
    * alone, each checked against the truth. */
  def buildUp(env: Env, df: DataFrame, t: Truth,
      m: mutable.Map[String, Double]): Unit = {
    val spark = env.spark
    val cols = scanCols
    val scans = (1 to 3).map(_ => env.tr.span("table", "scan_only")(scanOnly(df, cols)))
    m("table.scan_only_s") = Stats.median(scans)

    val rowLocal = Scaling.benchSuite.constraints.filter {
      case _: C.Unique | _: C.RefIntegrity | _: C.NoDrift => false
      case _ => true
    }
    val rl = compileSuite(env, rowLocal)
    val wantRl = expectedVerdicts(t, rowLocalOnly = true)
    val rlTimes = (1 to 3).map { _ =>
      env.chk.op("validate[rowlocal]") {
        env.tr.span("exec", "Validator.validate[rowlocal]") {
          Validator.validate(df, rl, partitionCols).collect()
        }
      }(rows => mismatch("rowlocal", wantRl, verdictsOf(rows)))._2
    }
    m("exec.rowlocal_s") = Stats.median(rlTimes)

    val full = compileSuite(env, Scaling.benchSuite.constraints)
    val d = dims(spark)
    // each check alone, three times: the median is its time
    def alone[T](label: String, span: String)(body: => T)(
        verify: T => Seq[String]): Double =
      Stats.median((1 to 3).map { _ =>
        env.chk.op(s"check[$label]")(env.tr.span("checks", span)(body))(verify)._2
      })
    def perPart(rows: Array[Row], v: Row => Any): Map[String, Any] =
      rows.map(x => partKey(x, partitionCols) -> v(x)).toMap
    full.datasetChecks.foreach {
      case u: UniqueCheck =>
        def dups = u.violations(df, "doc_id", partitionCols, d).count()
        m("checks.unique_s") = alone("unique", "UniqueCheck.violations")(dups) {
          n => if (n == t.dupKeys) Nil
            else Seq(s"duplicate keys: expected ${t.dupKeys}, got $n")
        }
        m("checks.unique_shuffle_mb") = env.counters.get.window(dups)._3.shuffleWriteMb
      case r: RefIntegrityCheck =>
        val want: Map[String, Any] =
          t.parts.collect { case (k, p) if p.dangling > 0 => k -> p.dangling }
        m("checks.ri_s") = alone("ri", "RefIntegrityCheck.violationCountsByPartition") {
          r.violationCountsByPartition(df, "doc_id", partitionCols, d).get.collect()
        }(rows => mismatch("dangling", want, perPart(rows, _.getAs[Long]("_n_ds_viol"))))
      case dr: DriftCheck =>
        val want: Map[String, Any] = t.drifted.map(_ -> true).toMap
        m("checks.drift_s") = alone("drift", "DriftCheck.violationCountsByPartition") {
          dr.violationCountsByPartition(df, "doc_id", partitionCols, d).get.collect()
        }(rows => mismatch("drifted", want, perPart(rows, _ => true)))
      case _ => ()
    }
  }
}

/** The headline: the full north-star suite over SequenceGen's table. */
object TokensValidate extends TokenWorkload {
  val name = "tokens_validate"
  var size = 100000L
  val partitionCols = Seq("source")
  final case class State(root: String, df: DataFrame, suite: CompiledSuite,
      dims: Map[String, DataFrame], want: Map[String, Verdict], t: Truth)

  def write(seed: Long, root: String): Unit = {
    TokensReport.write(seed, s"$root/report")
    val out = new ParquetOut(s"$root/table", ParquetOut.Tokens)
    (0L until size).foreach { i =>
      val r = Gen.cleanRow(seed, i)
      out.write(s"source=${r.source}/${ParquetOut.OneFile}")(
        ParquetOut.tokens(r.doc_id, r.tokens, r.n_tok))
    }
    out.close()
  }

  def truth(seed: Long): Truth = TokenTruth.tally(
    (0L until size).iterator.map { i =>
      val r = Gen.cleanRow(seed, i)
      (s"source=${r.source}", r.doc_id, r.tokens, r.n_tok, r.source)
    }, (0 until Gen.Sources).map(i => s"src$i").toSet)

  def setup(env: Env, root: String, t: Truth): State = {
    val suite = compileSuite(env, Scaling.benchSuite.constraints)
    val df = env.tr.span("table", "read.parquet")(
      env.spark.read.parquet(s"$root/table"))
    State(root, df, suite, dims(env.spark),
      expectedVerdicts(t, rowLocalOnly = false), t)
  }

  def pass(env: Env, st: State): PassOut = {
    val (_, secs) = env.chk.op("validate") {
      env.tr.span("exec", "Validator.validate") {
        Validator.validate(st.df, st.suite, partitionCols, dims = st.dims)
          .collect()
      }
    }(rows => mismatch("verdict", st.want, verdictsOf(rows)))
    PassOut(size, secs, secs, Plans.totals(env.takePlans()))
  }

  override def scanPass(env: Env, st: State): Double = scanOnly(st.df, scanCols)

  override def layers(env: Env, st: State, m: mutable.Map[String, Double]): Unit = {
    buildUp(env, st.df, st.t, m)
    // the resumable runner over the dirty table: the second pass is warm
    val r = TokensReport
    val rst = r.setup(env, s"${st.root}/report", r.truth(env.seed))
    val out = (1 to 2).map(_ => env.tr.span("bench", "report")(r.pass(env, rst))).last
    r.Layer.foreach(k => m(k) = out.extra(k))
    m("checkpoint.rows_per_s") = out.rows / out.rateSeconds
  }
}

/**
 * A dirty table (about 5% of rows fail one row-local check) validated
 * by the resumable runner: a run capped at half the partitions, the
 * resume, and a no-op rerun, into a fresh checkpoint store; then a
 * profile with t-digest quantiles.
 */
object TokensReport extends TokenWorkload {
  val name = "tokens_report"
  var size = 20000L
  val partitionCols = Seq("source", "shard")
  final case class State(table: ParquetPartitionedTable, parts: Seq[String],
      suite: CompiledSuite, dims: Map[String, DataFrame], t: Truth)

  /** Its per-layer figures, reported by the traced tokens_validate run. */
  val Layer = Seq("noop_rerun_s", "sketch.profile_s", "exec.violation_rows",
    "checkpoint.skip_ratio", "checkpoint.append_s",
    "checkpoint.violations_write_s", "checkpoint.pending_s",
    "checkpoint.files_written")

  def write(seed: Long, root: String): Unit = {
    val out = new ParquetOut(s"$root/table", ParquetOut.Tokens)
    (0L until size).foreach { i =>
      val r = Gen.reportRow(seed, i)
      out.write(s"source=${r.source}/shard=${r.shard}/${ParquetOut.OneFile}")(
        ParquetOut.tokens(r.doc_id, r.tokens, r.n_tok))
    }
    out.close()
  }

  def truth(seed: Long): Truth = TokenTruth.tally(
    (0L until size).iterator.map { i =>
      val r = Gen.reportRow(seed, i)
      (s"source=${r.source}/shard=${r.shard}", r.doc_id, r.tokens, r.n_tok,
        r.source)
    }, (0 until Gen.Sources).map(i => s"src$i").toSet)

  def setup(env: Env, root: String, t: Truth): State = {
    val suite = compileSuite(env, Scaling.benchSuite.constraints)
    val table = new ParquetPartitionedTable(env.spark, s"$root/table",
      partitionCols)
    val parts = env.tr.span("table", "ParquetPartitionedTable.partitions")(
      table.partitions())
    State(table, parts, suite, dims(env.spark), t)
  }

  private def violationCounts(t: Truth): Map[String, Long] =
    t.failsById.filter(_._2 > 0) ++
      Seq("doc_id_unique" -> 2 * t.dupKeys,
        "n_tok_stable" -> 2L * t.drifted.size).filter(_._2 > 0)

  def pass(env: Env, st: State): PassOut = {
    val spark = env.spark
    env.passNo += 1
    val base = s"${env.work}/report"
    val cpDir = s"$base/cp-${env.passNo}"
    val violDir = s"$base/viol-${env.passNo}"
    InputCache.deleteTree(new java.io.File(base))
    val store = new CheckpointStore(spark, cpDir)
    val half = st.parts.size / 2
    val t = st.t
    def runner(label: String, cap: Int)(
        verify: graft.checkpoint.RunResult => Seq[String]) =
      env.chk.op(label) {
        env.tr.span("checkpoint", s"PartitionedRunner.run[$label]") {
          PartitionedRunner.run(st.table, st.suite, store, label,
            dims = st.dims, violationsOut = Some(violDir), maxPartitions = cap)
        }
      }(verify)
    val t0 = System.nanoTime()
    val (_, capped) = runner("capped", half) { r =>
      if (r.processed == st.parts.take(half)) Nil
      else Seq(s"capped run processed ${r.processed.size} partitions")
    }
    var violRows = 0L
    val (_, resumed) = runner("resume", Int.MaxValue) { r =>
      val entries = store.load().collect().map(e =>
        e.getAs[String]("partition") -> ((e.getAs[Long]("n_rows"),
          e.getAs[Long]("n_bad_rows"), e.getAs[Boolean]("valid")))).toSeq
      val wantEntries = t.parts.map { case (k, p) =>
        k -> ((p.nRows, p.nBad, p.nBad == 0 && !t.drifted(k) && t.dupKeys == 0))
      }
      val viol = spark.read.parquet(violDir).groupBy("constraint_id").count()
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      violRows = viol.values.sum
      (if (r.processed == st.parts.drop(half)) Nil
       else Seq(s"resume processed ${r.processed.size} partitions")) ++
        (if (entries.size == st.parts.size) Nil
         else Seq(s"${entries.size} checkpoint entries")) ++
        mismatch("entry", wantEntries, entries.toMap) ++
        mismatch("violations", violationCounts(t), viol)
    }
    var skipped = 0
    val (_, noop) = runner("noop", Int.MaxValue) { r =>
      skipped = r.skipped.size
      if (r.processed.isEmpty && r.skipped.size == st.parts.size) Nil
      else Seq(s"no-op rerun processed ${r.processed.size}")
    }
    val (_, profile) = env.chk.op("profile") {
      env.tr.span("sketch", "ColumnStats.profileWithQuantiles") {
        ColumnStats.profileWithQuantiles(st.table.scanAll(), partitionCols,
          Seq("n_tok")).collect()
      }
    } { rows =>
      mismatch("profile", t.parts.map { case (k, p) =>
        k -> ((p.nRows, p.nTokMin, p.nTokMax)) },
        rows.map(r => Workloads.partKey(r, partitionCols) ->
          ((r.getAs[Long]("n_rows"), r.getAs[Int]("n_tok_min"),
            r.getAs[Int]("n_tok_max")))).toMap)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val extra = mutable.Map("noop_rerun_s" -> noop, "sketch.profile_s" -> profile,
      "exec.violation_rows" -> violRows.toDouble,
      "checkpoint.skip_ratio" -> skipped.toDouble / st.parts.size)
    // query times attributed by the paths they write or read
    val ps = env.takePlans()
    def sum(f: PlanCounts => Boolean) = ps.filter(f).map(_.durationS).sum
    extra("checkpoint.append_s") = sum(_.writePath.exists(_.contains(cpDir)))
    extra("checkpoint.violations_write_s") =
      sum(_.writePath.exists(_.contains(violDir)))
    extra("checkpoint.pending_s") = sum(p => p.writePath.isEmpty &&
      p.readPaths.exists(_.contains(cpDir)))
    extra("checkpoint.files_written") = Seq(cpDir, violDir).map { d =>
      Option(new java.io.File(d).listFiles).toSeq.flatten
        .count(_.getName.startsWith("part-")).toDouble
    }.sum
    PassOut(size, capped + resumed, wall, extra.toMap)
  }
}

/** One imported JSON Schema, one column of raw JSON documents, three
  * validation paths. */
object JsonDocs extends Workload {
  val name = "json_docs"
  var size = 100000L
  type Truth = Set[(String, String)]
  final case class State(root: String, df: DataFrame,
      doc: graft.exec.DocValidator.CompiledDocSuite, suite: ConstraintSuite,
      t: Truth)
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("lang", StringType),
    StructField("n_chars", LongType), StructField("text", StringType)))

  def write(seed: Long, root: String): Unit = {
    DedupGroups.write(seed, s"$root/dedup")
    ParquetOut.strings(s"$root/table", ParquetOut.Json, size, files = 8)({ i =>
      val r = Gen.jsonRow(seed, i)
      (r.id, r.js)
    }, ("id", "js"))
  }

  def truth(seed: Long): Truth = (0L until size).iterator.flatMap { i =>
    val f = Gen.docFault(seed, i)
    if (f < 0) None else Some(i.toString -> Gen.DocFaults(f))
  }.toSet

  def perturb(t: Truth): Truth = t - t.head

  def setup(env: Env, root: String, t: Truth): State = {
    val suite = env.tr.span("compile", "JsonSchemaImport.translate")(
      JsonSchemaImport.translate(Gen.DocSchema))
    val doc = env.tr.span("compile", "JsonValidator.compile")(
      JsonValidator.compile(suite))
    // the two Catalyst paths compile the suite inside each call; this
    // prices that compile on its own
    env.tr.span("compile", "ConstraintCompiler.compile")(
      ConstraintCompiler.compile(suite))
    val df = env.tr.span("table", "read.parquet")(
      env.spark.read.parquet(s"$root/table"))
    State(root, df, doc, suite, t)
  }

  /** One path's violations, collected and checked against the truth:
    * its seconds, JSON parse expressions in its plans, and rows. */
  private def path(env: Env, st: State, label: String)(v: => DataFrame)
      : (Double, Seq[PlanCounts], Int) = {
    val (got, secs) = env.chk.op(label) {
      env.tr.span("exec", s"JsonValidator.$label") {
        v.select("doc_id", "constraint_id").collect()
      }
    } { rows =>
      val got = rows.map(r => (r.getString(0), r.getString(1))).toSet
      val missing = st.t -- got
      val extra = got -- st.t
      (if (missing.isEmpty) Nil
       else Seq(s"$label missed ${missing.size}, e.g. ${missing.head}")) ++
        (if (extra.isEmpty) Nil
         else Seq(s"$label reported ${extra.size} extra, e.g. ${extra.head}"))
    }
    (secs, env.takePlans(), got.fold(0)(_.length))
  }

  private def docPath(env: Env, st: State) = path(env, st, "violations")(
    JsonValidator.violations(st.df, "id", "js", st.doc))

  /** The cold and measured passes run the document-engine path only:
    * it is what `rows_per_s` times, and the two slower paths would
    * leave it a small share of each pass. The traced passes run all
    * three. */
  override def loopPass(env: Env, st: State): PassOut = {
    val (doc, _, _) = docPath(env, st)
    PassOut(size, doc, doc)
  }

  override def scanPass(env: Env, st: State): Double = scanOnly(st.df, Seq("id", "js"))

  def pass(env: Env, st: State): PassOut = {
    val t0 = System.nanoTime()
    val (doc, docPlans, docRows) = docPath(env, st)
    val (typed, typedPlans, _) = path(env, st, "violationsTyped")(
      JsonValidator.violationsTyped(st.df, "id", "js", Schema, st.suite))
    val (variant, variantPlans, _) = path(env, st, "violationsVariant")(
      JsonValidator.violationsVariant(st.df, "id", "js", Schema, st.suite))
    val wall = (System.nanoTime() - t0) / 1e9
    val extra = Map("typed_rows_per_s" -> size / typed,
      "variant_rows_per_s" -> size / variant, "json.doc_s" -> doc,
      "json.typed_s" -> typed, "json.variant_s" -> variant,
      "exec.violation_rows" -> docRows.toDouble) ++
      (if (env.plans.isEmpty) Map.empty
       else Map("json.parse_exprs.typed" -> typedPlans.map(_.jsonParses).sum.toDouble,
         "json.parse_exprs.variant" -> variantPlans.map(_.jsonParses).sum.toDouble) ++
         Plans.totals(docPlans ++ typedPlans ++ variantPlans))
    PassOut(size, doc, wall, extra)
  }

  override def layers(env: Env, st: State, m: mutable.Map[String, Double]): Unit = {
    // the dedup pipeline over its own corpus: the second pass is warm
    val d = DedupGroups
    val dst = d.setup(env, s"${st.root}/dedup", d.truth(env.seed))
    val passes = (1 to 2).map(_ => env.counters.get.window(
      env.tr.span("bench", "dedup")(d.pass(env, dst))))
    env.chk.op("cc rounds repeat")(passes.map(_._1.extra("ops.cc_rounds"))) { r =>
      if (r.distinct.size == 1) Nil else Seq(s"rounds differ: $r")
    }
    val (out, _, counts, gap) = passes.last
    d.Layer.foreach(k => m(k) = out.extra(k))
    m("ops.rows_per_s") = out.rows / out.rateSeconds
    m("ops.jobs") = counts.jobs.toDouble
    m("ops.driver_gap_s") = gap
    m("ops.shuffle_write_mb") = counts.shuffleWriteMb
  }
}

/** Near-duplicate grouping: minhash signatures and grams, band
  * candidates, exact verify, connected components. */
object DedupGroups extends Workload {
  val name = "dedup_groups"
  var size = 3000L
  type Truth = Set[Set[String]]
  final case class State(df: DataFrame, t: Truth)
  /** Its per-layer figures, reported by the traced json_docs run. */
  val Layer = Seq("ops.signatures_s", "ops.candidates_s", "ops.verify_s",
    "ops.cc_s", "ops.cc_rounds", "ops.verified_per_candidate")
  val NumHashes = 64
  val Bands = 32
  val MinJaccard = 0.8

  def write(seed: Long, root: String): Unit =
    ParquetOut.strings(s"$root/table", ParquetOut.Text, size, files = 8)({ i =>
      val r = Gen.textRow(seed, size, i)
      (r.doc_id, r.text)
    }, ("doc_id", "text"))

  def truth(seed: Long): Truth =
    Gen.components(size).map(_.map(Gen.dedupId).toSet).toSet

  def perturb(t: Truth): Truth = t - t.head

  def setup(env: Env, root: String, t: Truth): State =
    State(env.tr.span("table", "read.parquet")(
      env.spark.read.parquet(s"$root/table")), t)

  private def verify(rows: Array[Row], t: Truth): Seq[String] = {
    val got = rows.groupBy(_.getAs[String]("group_id"))
      .values.map(_.map(_.getAs[String]("doc_id")).toSet).toSet
    if (got == t) Nil
    else Seq(s"${(got -- t).size} unexpected and ${(t -- got).size} " +
      "missing components")
  }

  def pass(env: Env, st: State): PassOut = {
    // each stage is materialized on its own, so its time is attributable
    def stage(name: String)(df: => DataFrame): (DataFrame, Double) =
      Workloads.seconds(env.tr.span("ops", name)(df.localCheckpoint()))
    var extra = Map.empty[String, Double]
    val (_, wall) = env.chk.op("groups") {
      val (sg, sgS) = stage("Dedup.minhashSignaturesWithGrams")(
        Dedup.minhashSignaturesWithGrams(st.df, "doc_id", "text",
          numHashes = NumHashes, shingleK = 5))
      val (cands, cS) = stage("Dedup.minhashBandPairs")(
        Dedup.minhashBandPairs(sg, numHashes = NumHashes, bands = Bands))
      val (pairs, vS) = stage("Dedup.ngramJaccardFromGrams")(
        Dedup.ngramJaccardFromGrams(cands, sg)
          .filter(F.col("jaccard") >= MinJaccard))
      val ((rows, rounds), ccS) = Workloads.seconds(
        env.tr.span("ops", "ConnectedComponents.groupsWithRounds") {
          val (g, r) = ConnectedComponents.groupsWithRounds(pairs)
          (g.collect(), r)
        })
      val nCands = cands.count()
      extra = Map("ops.signatures_s" -> sgS, "ops.candidates_s" -> cS,
        "ops.verify_s" -> vS, "ops.cc_s" -> ccS,
        "ops.cc_rounds" -> rounds.toDouble,
        "ops.verified_per_candidate" ->
          (if (nCands == 0) 0.0 else pairs.count().toDouble / nCands))
      rows
    }(rows => verify(rows, st.t))
    PassOut(size, wall, wall, extra)
  }
}

object Plans {
  /** Exact plan-walk totals over the queries of one pass; empty when
    * nothing was recorded (untraced). */
  def totals(ps: Seq[PlanCounts]): Map[String, Double] =
    if (ps.isEmpty) Map.empty else Map(
    "table.scans" -> ps.map(_.scans).sum.toDouble,
    "table.read_mb" -> ps.map(_.filesReadMb).sum,
    "exec.exchanges" -> ps.map(_.exchanges).sum.toDouble)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
