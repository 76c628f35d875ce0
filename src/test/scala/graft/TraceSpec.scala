package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.tools.{PlanWalk, Trace}

/** `graft.tools.Trace.measure` on a small generated parquet table: the
  * listener counters and plan counts it reports, their repeatability
  * across reps (the listener bus is drained around each rep), and
  * Bench's error contract. */
class TraceSpec extends SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-trace").toString
    spark.range(0L, 20000L, 1L, 4)
      .select(F.col("id"), (F.col("id") % 7).as("k"))
      .write.parquet(s"$d/t.parquet")
    d
  }

  private val grouped: (SparkSession, String) => DataFrame =
    (s, d) => s.read.parquet(s"$d/t.parquet").groupBy("k").count()

  test("a groupBy query reports its jobs, shuffle, scan and exchanges") {
    val r = Trace.measure(spark, dir, "grouped", grouped, reps = 3)
    assert(r.error.isEmpty)
    assert(r.reps.size == 3 && r.medianS.exists(_ > 0))
    val expected = {
      val df = grouped(spark, dir).groupBy().count()
      df.collect()
      PlanWalk.shuffleCount(df.queryExecution.executedPlan)
    }
    assert(expected >= 1)
    r.reps.foreach { rep =>
      assert(rep.jobs >= 1)
      assert(rep.stages >= 1)
      assert(rep.shuffleWriteBytes > 0)
      assert(rep.scans == 1)
      assert(rep.exchanges == expected)
      assert(rep.driverGapS >= 0 && rep.driverGapS <= rep.seconds)
    }
    assert(r.plan.isDefined)
    assert(r.toJson.contains("\"counts_repeat\":true"))
  }

  test("jobs, stages, scans and exchanges repeat exactly across reps") {
    val r = Trace.measure(spark, dir, "grouped", grouped, reps = 3)
    assert(r.reps.map(_.counts).distinct.size == 1, r.reps)
    assert(r.countsRepeat)
  }

  test("a throwing query records its error, stops repeating, has no time") {
    var calls = 0
    val failing: (SparkSession, String) => DataFrame = { (s, d) =>
      calls += 1
      s.read.parquet(s"$d/t.parquet")
        .filter(F.when(F.col("id") >= 0, F.raise_error(F.lit("trace boom")))
          .isNull)
    }
    val r = Trace.measure(spark, dir, "failing", failing, reps = 3)
    assert(r.error.exists(_.contains("trace boom")), r.error)
    assert(calls == 1)
    assert(r.reps.isEmpty && r.medianS.isEmpty)
    val json = r.toJson
    assert(json.contains("\"median_s\":null") && json.contains("\"rep_s\":[]"))
    assert(!json.contains("\"jobs\""))
  }

  test("an unknown query name fails and lists the known names") {
    val e = intercept[IllegalArgumentException](
      Trace.select("t_tokens,no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
    assert(e.getMessage.contains("d_groups") && e.getMessage.contains("t_tokens"))
    assert(Trace.select("all") == SparkEntry.queries.keys.toSeq.sorted)
  }
}
