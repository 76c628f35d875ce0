package perfbench

import scala.collection.mutable

/**
 * Expected answers for the two token tables, derived on the driver by
 * replaying the generator and applying each constraint of
 * `Scaling.benchSuite` in plain Scala: the engine's answers are checked
 * against this, never against the engine itself.
 */
object TokenTruth {
  val RowLocalIds = Seq("doc_id_present", "doc_id_shape", "n_tok_range",
    "n_tok_consistent", "token_range")
  val MaxToken = 50256
  private val Shape = java.util.regex.Pattern.compile("^seq-[a-z0-9-]+$")
  // the suite's drift check: PSI over 32 buckets of n_tok on [0, 2048)
  private val Buckets = 32
  private val Width = 64.0
  private val Psi = 0.4
  private val MinRows = 100L

  /** Indices into [[RowLocalIds]] of the checks a row fails. A check on
    * a null value passes, except the not-null check itself. */
  def fails(docId: String, tokens: Array[Int], nTok: Int): Seq[Int] = {
    val out = mutable.ArrayBuffer.empty[Int]
    if (docId == null) out += 0
    else if (!Shape.matcher(docId).matches()) out += 1
    if (nTok < 1 || nTok > 8192) out += 2
    if (nTok != tokens.length) out += 3
    if (tokens.exists(t => t < 0 || t > MaxToken)) out += 4
    out.toSeq
  }

  final class Part {
    var nRows = 0L
    var nBad = 0L
    var nTokMin = Int.MaxValue
    var nTokMax = Int.MinValue
    var dangling = 0L
    val fails = new Array[Long](RowLocalIds.size)
    val hist = new Array[Long](Buckets)
    private def key = (nRows, nBad, nTokMin, nTokMax, dangling, fails.toSeq,
      hist.toSeq)
    override def equals(o: Any): Boolean = o match {
      case p: Part => key == p.key
      case _ => false
    }
    override def hashCode: Int = key.hashCode
  }

  /** Per-partition tallies plus table-scope facts of one table. */
  final case class Tally(parts: Map[String, Part], dupKeys: Long,
      drifted: Set[String]) {
    def failsById: Map[String, Long] = RowLocalIds.indices.map(k =>
      RowLocalIds(k) -> parts.values.map(_.fails(k)).sum).toMap
  }

  /** `rows`: (partition key, doc_id, tokens, n_tok, source). */
  def tally(rows: Iterator[(String, String, Array[Int], Int, String)],
      knownSources: Set[String]): Tally = {
    val parts = mutable.Map.empty[String, Part]
    val keys = mutable.HashMap.empty[String, Int]
    rows.foreach { case (pk, docId, tokens, nTok, source) =>
      val p = parts.getOrElseUpdate(pk, new Part)
      p.nRows += 1
      val f = fails(docId, tokens, nTok)
      if (f.nonEmpty) p.nBad += 1
      f.foreach(k => p.fails(k) += 1)
      p.nTokMin = math.min(p.nTokMin, nTok)
      p.nTokMax = math.max(p.nTokMax, nTok)
      if (!knownSources(source)) p.dangling += 1
      val b = math.min(Buckets - 1, math.max(0, math.floor(nTok / Width).toInt))
      p.hist(b) += 1
      keys(docId) = keys.getOrElse(docId, 0) + 1 // null is one key
    }
    Tally(parts.toMap, keys.count(_._2 > 1).toLong, drifted(parts.toMap))
  }

  /** Partitions whose n_tok histogram has PSI above the threshold
    * against the whole table's, epsilon-smoothed as the check does. */
  private def drifted(parts: Map[String, Part]): Set[String] = {
    val eps = 1e-6
    val global = (0 until Buckets).map(b => parts.values.map(_.hist(b)).sum)
    val gt = global.sum.toDouble
    parts.collect { case (k, p) if p.nRows >= MinRows =>
      val psi = (0 until Buckets).map { b =>
        val pp = (p.hist(b) + eps) / (p.nRows + eps * Buckets)
        val q = (global(b) + eps) / (gt + eps * Buckets)
        (pp - q) * math.log(pp / q)
      }.sum
      k -> psi
    }.filter(_._2 > Psi).keySet
  }
}
