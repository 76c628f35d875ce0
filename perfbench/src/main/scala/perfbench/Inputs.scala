package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import graft.gen.{SequenceGen, SequenceRow}

/** A dirty `tokens_report` row: the `input_hint` shape plus a shard
  * column, so the table has sources × shards partitions. */
final case class ReportRow(doc_id: String, tokens: Array[Int], n_tok: Int,
    source: String, shard: Int)

/** One raw-JSON document row of `json_docs`. */
final case class JsonRow(id: String, js: String)

/** One text row of the `dedup_groups` corpus. */
final case class TextRow(doc_id: String, text: String)

/**
 * Seeded input generators. Every row is a pure function of
 * (seed, index), so the Spark job that writes the table and the
 * driver-side replay that derives the expected answers see the same
 * rows.
 */
object Gen {
  /** splitmix64 keyed by (seed, index, stream). */
  def mix(seed: Long, i: Long, stream: Long): Long = {
    var z = seed * 0x632BE59BD9B4E019L + i * 0x9E3779B97F4A7C15L +
      stream * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def unif(seed: Long, i: Long, stream: Long): Double =
    (mix(seed, i, stream) >>> 11).toDouble / (1L << 53).toDouble
  def below(seed: Long, i: Long, stream: Long, n: Int): Int =
    ((mix(seed, i, stream) & Long.MaxValue) % n).toInt

  // ---- tokens_validate: SequenceGen's own planted table ----------------
  val Sources = 8
  def cleanRow(seed: Long, i: Long): SequenceRow =
    SequenceGen.row(seed, i, Sources, plantViolations = true)

  // ---- tokens_report: ~5% of rows fail exactly one row-local check -----
  val Shards = 4
  val DirtyShare = 0.05
  /** Row-local check broken by row `i`, or -1 for a clean row; the index
    * is into [[Truth.RowLocalIds]]. */
  def dirtyKind(seed: Long, i: Long): Int = {
    val u = unif(seed, i, 11)
    if (u < DirtyShare) (u / DirtyShare * 5).toInt else -1
  }
  def reportRow(seed: Long, i: Long): ReportRow = {
    val base = SequenceGen.row(seed, i, Sources, plantViolations = false)
    val shard = below(seed, i, 12, Shards)
    val id = f"seq-$i%012d"
    dirtyKind(seed, i) match {
      case 0 => ReportRow(null, base.tokens, base.n_tok, base.source, shard)
      case 1 => ReportRow(f"SEQ_$i%012d", base.tokens, base.n_tok,
        base.source, shard)
      case 2 => ReportRow(id, Array.emptyIntArray, 0, base.source, shard)
      case 3 => ReportRow(id, base.tokens, base.n_tok + 1, base.source, shard)
      case 4 =>
        val t = base.tokens.clone()
        t(0) = SequenceGen.VocabSize + 7
        ReportRow(id, t, base.n_tok, base.source, shard)
      case _ => ReportRow(id, base.tokens, base.n_tok, base.source, shard)
    }
  }

  // ---- json_docs --------------------------------------------------------
  /** The imported JSON Schema: one local `$ref`. */
  val DocSchema: String =
    """{"$id": "docs-v1", "type": "object",
      | "required": ["doc_id", "lang"],
      | "$defs": {"langCode": {"enum": ["en", "de", "fr", "es"]}},
      | "properties": {
      |   "doc_id": {"type": "string", "pattern": "^d[0-9]+$"},
      |   "lang": {"$ref": "#/$defs/langCode"},
      |   "n_chars": {"type": "integer", "minimum": 1, "maximum": 400},
      |   "text": {"type": "string", "minLength": 8}}}""".stripMargin
  /** Planted fault kinds and the constraint each one breaks. */
  val DocFaults: Seq[String] = Seq("_document", "doc_id.pattern.2",
    "lang.enum.3", "n_chars.bounds.5", "text.length.7", "lang.required.9")
  private val Langs = Array("en", "de", "fr", "es")

  /** Fault index into [[DocFaults]] (-1: valid): about 1% malformed and
    * 9% breaking one keyword. */
  def docFault(seed: Long, i: Long): Int = {
    val u = unif(seed, i, 21)
    if (u < 0.01) 0
    else if (u < 0.10) 1 + ((u - 0.01) / 0.09 * 5).toInt.min(4)
    else -1
  }
  def word(seed: Long, i: Long, j: Int, vocab: Int): String =
    "w" + java.lang.Integer.toString(below(seed, i, 1000 + j, vocab), 36)

  def jsonRow(seed: Long, i: Long): JsonRow = {
    val fault = docFault(seed, i)
    val nWords = 3 + below(seed, i, 22, 20)
    val text =
      if (fault == 4) "short"
      else (0 until nWords).map(j => word(seed, i, j, 5000)).mkString(" ")
    val docId = if (fault == 1) s"D$i" else s"d$i"
    val lang = if (fault == 2) "xx" else Langs(below(seed, i, 23, 4))
    val nChars = if (fault == 3) 401 + below(seed, i, 24, 500)
      else 1 + below(seed, i, 24, 400)
    val langField = if (fault == 5) "" else s""""lang": "$lang", """
    val js =
      s"""{"doc_id": "$docId", $langField"n_chars": $nChars, "text": "$text"}"""
    JsonRow(i.toString, if (fault == 0) js.take(js.length / 2) else js)
  }

  // ---- dedup_groups -----------------------------------------------------
  val DocWords = 60
  val HubSize = 40      // hub variants, plus the hub itself
  val ChainShare = 0.1  // share of the corpus in 3-document chains
  def dedupId(i: Long): String = f"d$i%08d"
  private def baseText(seed: Long, i: Long): Array[String] =
    Array.tabulate(DocWords)(j => word(seed, i, j, 20000))

  /** Planted components, as index lists; every other document is a
    * singleton. */
  def components(nDocs: Long): Seq[Seq[Long]] = {
    val hub = (0L to HubSize.toLong)
    val nChains = ((nDocs * ChainShare) / 3).toLong
    val chains = (0L until nChains).map { c =>
      val b = HubSize + 1 + 3 * c
      Seq(b, b + 1, b + 2)
    }
    hub +: chains
  }

  def textRow(seed: Long, nDocs: Long, i: Long): TextRow = {
    val nChains = ((nDocs * ChainShare) / 3).toLong
    val chainEnd = HubSize + 1 + 3 * nChains
    val words =
      if (i == 0) baseText(seed, 0)
      else if (i <= HubSize) {
        // the hub with one word replaced: within Jaccard 0.8 of the hub
        val w = baseText(seed, 0)
        w(below(seed, i, 31, DocWords)) = "x" + i
        w
      } else if (i < chainEnd) {
        // chain: base, base + 3 words, base + 6 words
        val b = i - (i - HubSize - 1) % 3
        val step = (i - b).toInt
        baseText(seed, b) ++ (0 until 3 * step).map(j => s"t$b-$j")
      } else baseText(seed, i)
    TextRow(dedupId(i), words.mkString(" "))
  }
}

/**
 * Writes generated rows as Parquet files with the plain parquet-hadoop
 * writer: no Spark session, so generating an input costs seconds of
 * JVM time rather than a Spark start-up, and the same rows always give
 * byte-identical files. A row is a function that emits its fields to
 * the record consumer, so no per-value objects are built. Each row goes
 * to the file named by its path relative to `root`; partitioned tables
 * use Hive-style directories (`col=value/part-00000.snappy.parquet`).
 * Rows are held until `close`, which writes the files in parallel, each
 * in the order its rows arrived.
 */
final class ParquetOut(root: String, schema: String) {
  import ParquetOut.Emit
  private val msg = MessageTypeParser.parseMessageType(schema)
  private val files = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Emit]]

  def write(file: String)(row: Emit): Unit =
    files.getOrElseUpdate(file, mutable.ArrayBuffer.empty) += row

  def close(): Unit = {
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    try files.toSeq.map { case (file, rows) =>
      pool.submit(new Callable[Unit] {
        def call(): Unit = {
          val w = new ParquetOut.Builder(new Path(s"$root/$file"), msg)
            .withConf(new Configuration())
            .withCompressionCodec(CompressionCodecName.SNAPPY)
            .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
            .build()
          try rows.foreach(w.write) finally w.close()
        }
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }
}

object ParquetOut {
  type Emit = RecordConsumer => Unit

  private final class Support(msg: MessageType) extends WriteSupport[Emit] {
    private var rc: RecordConsumer = _
    def init(conf: Configuration) =
      new WriteSupport.WriteContext(msg, new java.util.HashMap[String, String]())
    def prepareForWrite(c: RecordConsumer): Unit = rc = c
    def write(row: Emit): Unit = { rc.startMessage(); row(rc); rc.endMessage() }
  }

  private final class Builder(path: Path, msg: MessageType)
      extends ParquetWriter.Builder[Emit, Builder](path) {
    def self(): Builder = this
    def getWriteSupport(conf: Configuration): WriteSupport[Emit] = new Support(msg)
  }

  def field(rc: RecordConsumer, name: String, i: Int)(value: => Unit): Unit = {
    rc.startField(name, i)
    value
    rc.endField(name, i)
  }

  val Tokens = """message row {
    |  optional binary doc_id (STRING);
    |  optional group tokens (LIST) { repeated group list { required int32 element; } }
    |  required int32 n_tok;
    |}""".stripMargin
  val Json = "message row { optional binary id (STRING); optional binary js (STRING); }"
  val Text = "message row { optional binary doc_id (STRING); optional binary text (STRING); }"

  def tokens(docId: String, tokens: Array[Int], nTok: Int)(rc: RecordConsumer): Unit = {
    if (docId != null) field(rc, "doc_id", 0)(rc.addBinary(Binary.fromString(docId)))
    field(rc, "tokens", 1) {
      rc.startGroup()
      if (tokens.nonEmpty) field(rc, "list", 0) {
        tokens.foreach { t =>
          rc.startGroup()
          field(rc, "element", 0)(rc.addInteger(t))
          rc.endGroup()
        }
      }
      rc.endGroup()
    }
    field(rc, "n_tok", 2)(rc.addInteger(nTok))
  }

  val OneFile = "part-00000.snappy.parquet"

  /** Rows 0 until n as two string columns, spread round-robin over
    * `files` unpartitioned files. */
  def strings(root: String, schema: String, n: Long, files: Int)(
      row: Long => (String, String), cols: (String, String)): Unit = {
    val out = new ParquetOut(root, schema)
    (0L until n).foreach { i =>
      val (a, b) = row(i)
      out.write(f"part-${i % files}%05d.snappy.parquet") { rc =>
        field(rc, cols._1, 0)(rc.addBinary(Binary.fromString(a)))
        field(rc, cols._2, 1)(rc.addBinary(Binary.fromString(b)))
      }
    }
    out.close()
  }
}

/**
 * Per-seed input cache: a table is generated once per (workload, seed)
 * and reused by later runs with that seed. Only the newest few seeds
 * per workload are kept, to bound disk use.
 */
object InputCache {
  val KeepSeeds = 2

  def dir(dataRoot: String, workload: String, size: Long, seed: Long): String =
    s"$dataRoot/$workload/n=$size-seed=$seed"

  def ready(d: String): Boolean = Files.exists(Paths.get(d, "_READY"))

  def ensure(dataRoot: String, workload: String, size: Long, seed: Long)(
      write: String => Unit): String = {
    val d = dir(dataRoot, workload, size, seed)
    if (!ready(d)) {
      deleteTree(new File(d))
      write(d)
      Files.writeString(Paths.get(d, "_READY"), "")
      evict(new File(s"$dataRoot/$workload"), keep = d)
    }
    d
  }

  private def evict(parent: File, keep: String): Unit = {
    val old = Option(parent.listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getAbsolutePath != new File(keep).getAbsolutePath)
      .sortBy(-_.lastModified)
      .drop(KeepSeeds - 1)
    old.foreach(deleteTree)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
