package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.compile.JsonSchemaImport
import graft.dsl.{ConstraintJson, ConstraintSuite}
import graft.exec.DocValidator
import graft.registry.ConstraintRegistry

/** Detail-row replay of both conformance corpora through the document
  * engine: one record per test row carrying every `(constraint_id,
  * observed, expected)` that `validateWithDetails` returns, or the
  * exception it throws (class and message). A case whose suite refuses
  * at compile records the refusal once. Each suite is validated after a
  * Java-serialization round trip, so the replay also proves that every
  * lowered constraint ships in a Spark task closure. The committed golden file
  * `conformance/doc_details.json` holds these records as the engine
  * produced them before its evaluator was lowered to closures;
  * DocValidatorSpec requires them byte for byte. */
object DocDetailGolden {

  val Resource = "conformance/doc_details.json"

  private val mapper = new ObjectMapper()

  private def corpus(resource: String): JsonNode = {
    val in = getClass.getClassLoader.getResourceAsStream(resource)
    require(in != null, s"$resource missing")
    try mapper.readTree(in) finally in.close()
  }

  /** The suite after a Java-serialization round trip, as a Spark task
    * closure receives it. */
  private def serialized(
      s: DocValidator.CompiledDocSuite): DocValidator.CompiledDocSuite = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(s)
    out.close()
    new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[DocValidator.CompiledDocSuite]
  }

  private def failure(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}"

  private def replay(out: ArrayBuffer[ObjectNode], name: String,
      caseIdx: Int, tests: Seq[JsonNode],
      compile: () => DocValidator.CompiledDocSuite): Unit = {
    def rec(testIdx: Int): ObjectNode = {
      val o = mapper.createObjectNode()
      o.put("corpus", name).put("case", caseIdx).put("test", testIdx)
    }
    val suite =
      try Right(serialized(compile()))
      catch { case e: Exception => Left(failure(e)) }
    suite match {
      case Left(err) => out += rec(-1).put("compile_error", err)
      case Right(s) => tests.zipWithIndex.foreach { case (t, j) =>
        val o = rec(j)
        try {
          val rows = o.putArray("rows")
          DocValidator.validateWithDetails(s, t.get("row").toString)
            .foreach(v => rows.addArray().add(v.constraintId)
              .add(v.observed).add(v.expected))
        } catch {
          case e: Exception =>
            o.remove("rows")
            o.put("error", failure(e))
        }
        out += o
      }
    }
  }

  /** Every record, in corpus order: the DSL corpus, then the imported
    * JSON Schema corpus. */
  def records(): Seq[ObjectNode] = {
    val out = ArrayBuffer.empty[ObjectNode]
    corpus("conformance/corpus.json").elements().asScala.zipWithIndex
      .foreach { case (c, i) =>
        val tests = c.path("tests").elements().asScala.toSeq
        if (tests.nonEmpty) replay(out, "corpus.json", i, tests, () => {
          val registry = ConstraintRegistry.empty
          Option(c.get("registry")).foreach(_.elements().asScala.foreach {
            s =>
              val st = ConstraintJson.suiteFromNode(s)
              registry.register(st.id, st)
          })
          val anchors = Option(c.get("dynamicAnchors"))
            .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
          val constraints = c.get("constraints").elements().asScala
            .map(ConstraintJson.parseConstraint).toSeq
          DocValidator.compile(ConstraintSuite(
            c.get("description").asText(), constraints, anchors), registry)
        })
      }
    corpus("conformance/schema_corpus.json").elements().asScala.zipWithIndex
      .foreach { case (c, i) =>
        val remotes = Option(c.get("remotes")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.toString).toMap)
          .getOrElse(Map.empty[String, String])
        replay(out, "schema_corpus.json", i,
          c.path("tests").elements().asScala.toSeq, () =>
            DocValidator.compile(JsonSchemaImport.translate(
              c.get("schema").toString, c.get("description").asText(),
              remotes = remotes)))
      }
    out.toSeq
  }

  /** The golden file's text: a JSON array, one record per line. */
  def render(recs: Seq[ObjectNode]): String =
    recs.map(mapper.writeValueAsString).mkString("[\n", ",\n", "\n]\n")

  def load(): Seq[JsonNode] = corpus(Resource).elements().asScala.toSeq
}
