package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

/**
 * The benchmark's own tests, on small inputs:
 *  - each generator is byte-deterministic per seed (two writes of one
 *    seed read back identical; another seed differs);
 *  - a pass checked against a deliberately wrong expected answer is
 *    counted as failed, and against the true answer is not;
 *  - the metric names and units in BENCHMARK.json are the ones the
 *    harness emits.
 * Exits 1 on any failure. Run through `python3 perfbench/selftest.py`.
 */
object SelfTest {
  private var failures = 0
  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  /** SHA-256 over every Parquet file's relative path and bytes. */
  private def digest(dir: String): String = {
    val root = Paths.get(dir)
    val md = MessageDigest.getInstance("SHA-256")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString).foreach { f =>
        md.update(root.relativize(f).toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(f))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val work = args.sliding(2).collectFirst { case Array("--work", d) => d }
      .getOrElse(throw new IllegalArgumentException("missing --work"))
    val benchJson = new String(Files.readAllBytes(Paths.get("BENCHMARK.json")),
      "UTF-8")
    TokensValidate.size = 3000
    TokensReport.size = 3000
    JsonDocs.size = 3000
    DedupGroups.size = 2000
    val spark = Main.session(work)
    val root = s"$work/selftest"
    InputCache.deleteTree(new java.io.File(root))

    for (w <- Workloads.all ++ Seq(TokensReport, DedupGroups)) {
      val a = s"$root/${w.name}/a"
      w.write(5, a)
      w.write(5, s"$root/${w.name}/b")
      w.write(6, s"$root/${w.name}/c")
      val (da, db, dc) = (digest(a), digest(s"$root/${w.name}/b"),
        digest(s"$root/${w.name}/c"))
      check(s"${w.name}: same seed writes identical bytes", da == db, s"$da != $db")
      check(s"${w.name}: another seed writes other rows", da != dc)
      check(s"${w.name}: truth replay is deterministic", w.truth(5) == w.truth(5))

      def failedWith(t: w.Truth): Long = {
        val chk = new Checker
        val env = new Env(spark, 5, new Tracer("selftest", false), chk,
          s"$root/${w.name}/work", None, None)
        w.pass(env, w.setup(env, a, t))
        chk.problems.foreach(p => println(s"  note: $p"))
        chk.failed
      }
      val truth = w.truth(5)
      check(s"${w.name}: true answer passes", failedWith(truth) == 0)
      check(s"${w.name}: perturbed answer is counted as failed",
        failedWith(w.perturb(truth)) > 0)
    }
    spark.stop()

    for ((name, unit) <- Main.EndToEnd ++ Main.PerLayer)
      check(s"BENCHMARK.json names $name in $unit",
        benchJson.contains(s""""name": "$name", "unit": "$unit""""))
    InputCache.deleteTree(new java.io.File(root))
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
