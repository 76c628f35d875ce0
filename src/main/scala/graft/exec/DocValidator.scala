package graft.exec

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.util.regex.{Pattern, PatternSyntaxException}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{MissingNode, TextNode}
import scala.jdk.CollectionConverters._

import graft.compile.{ConstraintCompiler, FormatSpecs}
import graft.dsl.{Constraint, ConstraintSuite}
import graft.dsl.Constraint._
import graft.registry.ConstraintRegistry

/**
 * Single-DOCUMENT validation — the reference's primary API shape
 * (`BlazeValidator.validate(template, jsonString) → boolean`,
 * `BlazeWrapper.java`): evaluate a resolved constraint suite directly
 * over one Jackson tree, no SparkSession, no job. The same
 * [[ConstraintSuite]] drives BOTH engines: this one for per-document
 * hot paths, the Catalyst lowering for tables; DocValidatorSpec proves
 * verdict parity by replaying both conformance corpora through each.
 *
 * Like the reference's template, the suite is lowered ONCE, in
 * [[compile]]: every constraint becomes an evaluator closure
 * `(doc, scope) => Boolean` with its paths pre-split, its regexes
 * compiled, its enum values in a set and its bounds as
 * `java.math.BigDecimal` (with a `long` fast path for integral nodes).
 * A document then costs one `readTree` plus direct checks.
 *
 * Semantics mirror the Catalyst lowering exactly (content-typed
 * scalars, pass-on-null applicability, find-semantics regexes, the
 * compiler's own `expectedOf` strings in violations). Dataset-scope
 * constraints (unique / referential / drift) need a table and are
 * rejected loudly; `ExprIs` needs Spark SQL and is rejected likewise.
 * Errors that depend on the document (`$` outside an element scope, an
 * unsupported `typeIs`, an invalid regex) still surface at validate
 * time, when the offending check first meets a value.
 */
object DocValidator {

  final case class DocViolation(constraintId: String, observed: String,
      expected: String)

  /** A lowered constraint: the document root and the element bound by
    * the nearest array/map scope (`null` outside any scope) → verdict. */
  private type Eval = (JsonNode, JsonNode) => Boolean

  /** One top-level check: its verdict, its `observed` renderer over the
    * document root, and its pre-rendered `expected` text. */
  private[exec] final case class DocCheck(id: String, eval: Eval,
      observed: JsonNode => String, expected: String)

  /** Compile-once artifact for the document path: the lowered top-level
    * checks. Immutable, thread-safe and serializable (it ships in task
    * closures). */
  final case class CompiledDocSuite private[exec] (
      suiteId: String, checks: Seq[DocCheck])

  private val mapper = new ObjectMapper()

  def compile(suite: ConstraintSuite,
      registry: ConstraintRegistry = ConstraintRegistry.empty,
      maxUnroll: Int = ConstraintCompiler.DefaultMaxUnroll): CompiledDocSuite = {
    val resolved = ConstraintCompiler.resolve(suite, registry, maxUnroll)
    resolved.constraints.foreach(Constraint.walk(_) {
      case c @ (_: Unique | _: RefIntegrity | _: NoDrift |
          _: NoArrayDrift) =>
        throw new IllegalArgumentException(
          s"constraint '${c.id}' is dataset-scope — single-document " +
            "validation has no table; use Validator over a DataFrame")
      case c: ExprIs =>
        throw new IllegalArgumentException(
          s"constraint '${c.id}' is a SQL expression — not evaluable " +
            "without Spark; use Validator over a DataFrame")
      // unknown formats refuse at COMPILE, like the Catalyst path —
      // not per-document at validate time (and only when present)
      case FormatIs(id, _, format, true)
          if !FormatSpecs.specs.contains(format) =>
        throw new IllegalArgumentException(
          s"constraint '$id': unsupported strict format: $format")
      case _ => ()
    })
    CompiledDocSuite(resolved.id, resolved.constraints.map(c =>
      DocCheck(c.id, lower(c), lowerObserved(c),
        ConstraintCompiler.expectedOf(c))))
  }

  /** Fast boolean path. */
  def validate(suite: CompiledDocSuite, json: String): Boolean =
    validateNode(suite, parse(json))

  def validateNode(suite: CompiledDocSuite, doc: JsonNode): Boolean =
    suite.checks.forall(_.eval(doc, null))

  /** Detail path: one violation per failing top-level constraint, with
    * the compiler's own `expected` rendering. */
  def validateWithDetails(suite: CompiledDocSuite,
      json: String): Seq[DocViolation] = {
    val doc = parse(json)
    suite.checks.collect {
      case c if !c.eval(doc, null) =>
        DocViolation(c.id, c.observed(doc), c.expected)
    }
  }

  private def parse(json: String): JsonNode = {
    val n =
      try mapper.readTree(json)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"invalid JSON document: ${e.getMessage}")
      }
    // readTree of empty/blank input returns MissingNode WITHOUT
    // throwing — that is not a document either
    if (n == null || n.isMissingNode)
      throw new IllegalArgumentException(
        "invalid JSON document: empty input")
    n
  }

  // ---- value resolution (mirrors the compiler's `res`) -------------

  private def present(n: JsonNode): JsonNode =
    if (n.isMissingNode || n.isNull) null else n

  /** A column path, split once: the node it addresses, or `null` when
    * missing/JSON null. `$` is the element bound by the nearest array
    * scope, `$.f.g` drills into record elements. */
  private final class Path(col: String) extends Serializable {
    private val fromScope = col == "$" || col.startsWith("$.")
    private val fields: Array[String] =
      if (col == "$") Array.empty
      else if (fromScope) col.drop(2).split('.')
      else col.split('.')

    def apply(doc: JsonNode, scope: JsonNode): JsonNode = {
      var n =
        if (!fromScope) present(doc)
        else if (scope == null) throw new IllegalArgumentException(
          "'$' used outside an array-element scope") // same as the compiler
        else present(scope)
      var i = 0
      while (n != null && i < fields.length) {
        n = present(n.path(fields(i)))
        i += 1
      }
      n
    }
  }

  /** Pass-on-null applicability, like the lowering's `nullPasses`:
    * `f` sees the document root and the value at `col`. */
  private def withValue(col: String)(
      f: (JsonNode, JsonNode) => Boolean): Eval = {
    val path = new Path(col)
    (doc, scope) => {
      val v = path(doc, scope)
      v == null || f(doc, v)
    }
  }

  /** Content string — the analogue of `cast("string")` on a typed
    * column: numbers/booleans render canonically, text verbatim.
    * Container values have NO scalar content (Jackson's asText would be
    * "") — a scalar check against an object/array value fails rather
    * than silently comparing empty strings; the table engine refuses
    * such a suite at analysis time, so there is no parity to preserve.
    * `null` for containers. */
  private def str(n: JsonNode): String =
    if (n.isValueNode) n.asText() else null

  private val NumericContent = Pattern.compile(FormatSpecs.numericContent)

  /** Numeric content: number nodes by value, numeric-looking text
    * parsed; `null` otherwise. */
  private def numeric(n: JsonNode): JBigDecimal =
    if (n.isNumber) n.decimalValue()
    else if (n.isTextual && NumericContent.matcher(n.asText()).matches())
      try new JBigDecimal(n.asText()) catch { case _: Exception => null }
    else null

  /** Find-semantics matcher, compiled once. An invalid pattern keeps
    * failing where the check meets a value, with the compiler's own
    * PatternSyntaxException, rather than at suite compile. */
  private def regex(pattern: String): String => Boolean =
    try {
      val p = Pattern.compile(pattern)
      s => p.matcher(s).find()
    } catch {
      case _: PatternSyntaxException =>
        s => Pattern.compile(pattern).matcher(s).find()
    }

  /** Numeric range check, compiled once. When both bounds are whole
    * numbers that fit a `long` (the usual case), integral nodes that
    * fit one compare as longs; everything else compares as
    * `BigDecimal`. */
  private final class Range(mn: Option[BigDecimal], mx: Option[BigDecimal],
      emn: Boolean, emx: Boolean) extends Serializable {
    private val lo = mn.map(_.bigDecimal).orNull
    private val hi = mx.map(_.bigDecimal).orNull
    private def exactLong(b: Option[BigDecimal]): Option[Long] =
      try b.map(_.bigDecimal.longValueExact)
      catch { case _: ArithmeticException => None }
    private val longs = (mn.isEmpty || exactLong(mn).isDefined) &&
      (mx.isEmpty || exactLong(mx).isDefined)
    private val loL = exactLong(mn).getOrElse(Long.MinValue)
    private val hiL = exactLong(mx).getOrElse(Long.MaxValue)
    private val loStrict = emn && mn.isDefined
    private val hiStrict = emx && mx.isDefined

    def apply(n: JsonNode): Boolean =
      if (longs && n.isIntegralNumber && n.canConvertToLong) {
        val x = n.longValue()
        (if (loStrict) x > loL else x >= loL) &&
          (if (hiStrict) x < hiL else x <= hiL)
      } else {
        val d = numeric(n)
        d != null &&
          (lo == null || { val c = d.compareTo(lo); if (emn) c > 0 else c >= 0 }) &&
          (hi == null || { val c = d.compareTo(hi); if (emx) c < 0 else c <= 0 })
      }
  }

  /** Order-insensitive canonical rendering for JSON equality inside
    * containers: object fields sorted recursively, numbers by value
    * (1 ≡ 1.0), arrays positional. Nested scalars keep strict JSON
    * typing ("1" ≠ 1) — content-typing applies only at column level. */
  private def canonical(n: JsonNode): String =
    if (n.isNumber)
      "n" + n.decimalValue().stripTrailingZeros.toPlainString
    else if (n.isObject)
      n.properties().asScala.toSeq
        .map(e => e.getKey -> canonical(e.getValue))
        .sortBy(_._1)
        .map { case (k, v) => s"${mapper.writeValueAsString(k)}:$v" }
        .mkString("{", ",", "}")
    else if (n.isArray)
      n.elements().asScala.map(canonical).mkString("[", ",", "]")
    else n.toString

  /** Element identity for `uniqueItems`: numerically equal values of
    * different JSON node types (1 vs 1.0) are the SAME element — a
    * typed array column would have coerced them (and the official
    * suite's uniqueItems cases agree). Containers canonicalize (object
    * keys sorted recursively, numbers by value): 2020-12 equality
    * ignores property order. */
  private def itemKeys(xs: JsonNode): Seq[String] =
    xs.elements().asScala.map { x =>
      val d = numeric(x)
      if (d != null) "n:" + d.stripTrailingZeros.toPlainString
      else if (x.isContainerNode) "c:" + canonical(x)
      else "v:" + x.toString
    }.toSeq

  private def keys(n: JsonNode): Seq[String] =
    n.fieldNames().asScala.toSeq

  private def all(n: JsonNode, from: Int)(p: JsonNode => Boolean): Boolean = {
    var i = from.max(0)
    while (i < n.size()) {
      if (!p(n.get(i))) return false
      i += 1
    }
    true
  }

  private def allFields(n: JsonNode)(
      p: java.util.Map.Entry[String, JsonNode] => Boolean): Boolean = {
    val it = n.properties().iterator()
    while (it.hasNext) if (!p(it.next())) return false
    true
  }

  private def fail(e: => RuntimeException): Eval = (_, _) => throw e

  // ---- the lowering (one case per lowerPred case) ------------------

  private def lower(c: Constraint): Eval = c match {
    case NotNull(_, col) =>
      val path = new Path(col)
      (doc, scope) => path(doc, scope) != null

    case IsIn(_, col, values) =>
      val set = values.toSet
      withValue(col)((_, v) => v.isValueNode && set.contains(v.asText()))
    case ConstEq(_, col, value) =>
      withValue(col)((_, v) => v.isValueNode && v.asText() == value)

    case Bounds(_, col, mn, mx, emn, emx) =>
      val range = new Range(mn, mx, emn, emx)
      withValue(col)((_, v) => range(v))
    case MultipleOf(_, col, k) =>
      // java.math remainder: exact, no MathContext — scala's wrapper
      // carries DECIMAL128 and throws "Division impossible" on huge
      // quotients (the 1e308 suite case)
      val kj = k.bigDecimal
      withValue(col) { (_, v) =>
        val d = numeric(v)
        d != null && d.remainder(kj).signum() == 0
      }

    case LengthBounds(_, col, mn, mx) =>
      withValue(col) { (_, v) =>
        val s = str(v)
        // CODE POINTS, matching Spark's length() — String.length counts
        // UTF-16 units and disagrees on supplementary characters
        s != null && {
          val len = s.codePointCount(0, s.length)
          mn.forall(len >= _) && mx.forall(len <= _)
        }
      }
    case Matches(_, col, pattern) =>
      val find = regex(pattern)
      withValue(col) { (_, v) => val s = str(v); s != null && find(s) }
    case FormatIs(_, col, format, strict) =>
      if (!strict) (_, _) => true // annotation-only, like the lowering
      else {
        // present: compile refuses unknown strict formats
        val spec = FormatSpecs.specs(format)
        val must = spec.must.map(regex)
        val mustNot = spec.mustNot.map(regex)
        withValue(col) { (_, v) =>
          val s = str(v)
          s != null && must.forall(_(s)) && mustNot.forall(!_(s))
        }
      }

    case SizeBounds(_, col, mn, mx) =>
      withValue(col)((_, v) => !v.isArray ||
        (mn.forall(v.size() >= _) && mx.forall(v.size() <= _)))
    case UniqueItems(_, col) =>
      withValue(col)((_, v) => !v.isArray || {
        val ks = itemKeys(v)
        ks.distinct.size == ks.size
      })
    case EachElement(_, col, elem) =>
      val e = lower(elem)
      withValue(col)((doc, v) => !v.isArray || all(v, 0)(e(doc, _)))
    case EachElementFrom(_, col, start, elem) =>
      val e = lower(elem)
      withValue(col)((doc, v) => !v.isArray || all(v, start)(e(doc, _)))
    case PrefixItems(_, col, es) =>
      val ls = es.map(lower).toArray
      withValue(col)((doc, v) => !v.isArray || {
        var i = 0
        while (i < ls.length && (i >= v.size() || ls(i)(doc, v.get(i))))
          i += 1
        i == ls.length
      })
    case ContainsCount(_, col, elem, mn, mx) =>
      val e = lower(elem)
      withValue(col)((doc, v) => !v.isArray || {
        var n = 0
        var i = 0
        while (i < v.size()) { if (e(doc, v.get(i))) n += 1; i += 1 }
        n >= mn && mx.forall(n <= _)
      })
    case UnevaluatedItems(_, _, _) =>
      fail(new IllegalStateException(
        "unevaluatedItems survived the coverage pass — compile via " +
          "DocValidator.compile"))

    case KeysIn(_, col, allowed) =>
      val set = allowed.toSet
      withValue(col)((_, v) => !v.isObject || keys(v).forall(set.contains))
    case KeyCountBounds(_, col, mn, mx) =>
      withValue(col)((_, v) => !v.isObject ||
        (mn.forall(v.size() >= _) && mx.forall(v.size() <= _)))
    case EachKey(_, col, elem) =>
      val e = lower(elem)
      withValue(col)((doc, v) => !v.isObject ||
        keys(v).forall(k => e(doc, TextNode.valueOf(k))))
    case PropertyValues(_, col, key, elem) =>
      // A MISSING key evaluates elem with a MissingNode scope, mirroring
      // the Catalyst lowering's try_element_at(v, key) → null: NotNull
      // fails (this is how map-flavored `required` lowers), every other
      // leaf keeps pass-on-null applicability. Skipping absent keys
      // would silently PASS NotNull — verdict-parity break.
      val e = lower(elem)
      withValue(col)((doc, v) => !v.isObject || {
        val x = v.get(key)
        e(doc, if (x == null) MissingNode.getInstance else x)
      })
    case PatternValues(_, col, keyPattern, elem) =>
      val find = regex(keyPattern)
      val e = lower(elem)
      withValue(col)((doc, v) => !v.isObject || allFields(v)(f =>
        !find(f.getKey) || e(doc, f.getValue)))
    case UnevaluatedProperties(_, col, elem, ks, ps) =>
      val covered = ks.toSet
      val finds = ps.map(regex)
      val e = lower(elem)
      withValue(col)((doc, v) => !v.isObject || allFields(v) { f =>
        val k = f.getKey
        covered.contains(k) || finds.exists(_(k)) || e(doc, f.getValue)
      })

    case TypeIs(_, col, tpe) =>
      // integral nodes that fit a long are numbers and integers outright:
      // their text matches the numeric shape and they sit far inside the
      // 1e28 magnitude bound, which mirrors the lowering's decimal(38,10)
      // try_cast (beyond-range integer-valued numbers report false on
      // BOTH engines)
      tpe match {
        case "integer" => withValue(col)((_, v) =>
          v.isValueNode && (fitsLong(v) || {
            val s = v.asText()
            isNum(s) && {
              val d = new JBigDecimal(s)
              // the lowering's try_cast to decimal(38,10) ROUNDS at
              // scale 10 (HALF_UP), so "5.00000000001" is integer there;
              // round identically before the remainder for verdict parity
              d.abs.compareTo(IntegerMagnitude) < 0 &&
                d.setScale(10, RoundingMode.HALF_UP)
                  .remainder(JBigDecimal.ONE).signum() == 0
            }
          }))
        case "number" => withValue(col)((_, v) =>
          v.isValueNode && (fitsLong(v) || isNum(v.asText())))
        case "boolean" => withValue(col)((_, v) => v.isValueNode && {
          val l = v.asText().toLowerCase; l == "true" || l == "false"
        })
        case "string" => withValue(col)((_, v) => v.isValueNode)
        case other => withValue(col)((_, v) => v.isValueNode &&
          (throw new IllegalArgumentException(s"unsupported typeIs: $other")))
      }
    case SizeConsistency(_, intCol, arrCol) =>
      val ip = new Path(intCol)
      val ap = new Path(arrCol)
      (doc, scope) => {
        val i = ip(doc, scope)
        val a = ap(doc, scope)
        i == null || a == null || { // null-tolerant, like the lowering
          val d = numeric(i)
          d != null && a.isArray &&
            d.compareTo(JBigDecimal.valueOf(a.size().toLong)) == 0
        }
      }

    case AllOf(_, cs) =>
      val ls = cs.map(lower).toArray
      (doc, scope) => {
        var i = 0
        while (i < ls.length && ls(i)(doc, scope)) i += 1
        i == ls.length
      }
    case AnyOf(_, cs) =>
      val ls = cs.map(lower).toArray
      (doc, scope) => {
        var i = 0
        while (i < ls.length && !ls(i)(doc, scope)) i += 1
        i < ls.length
      }
    case OneOf(_, cs) =>
      val ls = cs.map(lower).toArray
      (doc, scope) => {
        var n = 0
        var i = 0
        while (i < ls.length) { if (ls(i)(doc, scope)) n += 1; i += 1 }
        n == 1
      }
    case Not(_, c0) =>
      val l = lower(c0)
      (doc, scope) => !l(doc, scope)
    case IfThen(_, i, t, e) =>
      val li = lower(i)
      val lt = lower(t)
      val le = e.map(lower).orNull
      (doc, scope) =>
        if (li(doc, scope)) lt(doc, scope)
        else le == null || le(doc, scope)
    case BoolSchema(_, v) => (_, _) => v

    case _: Ref | _: DynamicRef | _: Defs =>
      fail(new IllegalStateException(
        "unresolved ref survived resolution — compile via " +
          "DocValidator.compile"))
    case c @ (_: Unique | _: RefIntegrity | _: NoDrift |
        _: NoArrayDrift | _: ExprIs) =>
      fail(new IllegalArgumentException(
        s"'${c.id}' is not evaluable on a single document"))
  }

  private val IntegerMagnitude = new JBigDecimal("1e28")
  private def fitsLong(v: JsonNode) = v.isIntegralNumber && v.canConvertToLong
  private def isNum(s: String) = NumericContent.matcher(s).matches()

  // ---- violation `observed` rendering ------------------------------

  /** Scalar content of a node for observed text — the analogue of
    * `cast("string")`: text verbatim, numbers/booleans by their JSON
    * literal; containers fall back to compact JSON (the table engine
    * refuses scalar checks on containers, so no parity obligation). */
  private def content(n: JsonNode): String =
    if (n.isValueNode) n.asText() else n.toString

  /** Keys as violation rows list them: in the iteration order of a
    * Scala hash set of the object's entries, not in document order. The
    * Catalyst engine lists `map_keys` in document order, so the two
    * engines' key summaries differ in order when they list two or more
    * keys (pinned by DocValidatorSpec's detail golden). */
  private def listedKeys(n: JsonNode): Seq[String] =
    n.properties().asScala.map(e => e.getKey -> e.getValue).toSeq.map(_._1)

  /** First-8-keys JSON summary — parity with the compiler's
    * `keySummary` (`to_json(slice(keys,1,8))` + " +N more"). */
  private def keySummary(keys: Seq[String]): String = {
    val head = mapper.writeValueAsString(keys.take(8).toArray)
    if (keys.size > 8) s"$head +${keys.size - 8} more" else head
  }

  /** The violation row's `observed` field, lowered like the verdict —
    * mirrors the compiler's `observedOf` case for case, so a document
    * failing the same constraint renders the same observed text on
    * every engine (the shared v_docjson oracle pins this for the driver
    * suite). Missing/null values render "null", matching the Catalyst
    * side's `coalesce(observed, 'null')`. Top-level only — detail rows
    * are per top-level constraint on both engines. */
  private def lowerObserved(c: Constraint): JsonNode => String = {
    def node(col: String): JsonNode => JsonNode = {
      val path = new Path(col)
      doc => path(doc, null)
    }
    def sized(col: String): JsonNode => String = {
      val at = node(col)
      doc => {
        val v = at(doc)
        if (v != null && v.isArray) s"size=${v.size()}" else "null"
      }
    }
    def keysOf(col: String)(keep: String => Boolean): JsonNode => String = {
      val at = node(col)
      doc => {
        val v = at(doc)
        keySummary(if (v != null && v.isObject) listedKeys(v).filter(keep)
          else Seq.empty)
      }
    }
    c match {
      case SizeBounds(_, col, _, _)          => sized(col)
      case EachElement(_, col, _)            => sized(col)
      case EachElementFrom(_, col, _, _)     => sized(col)
      case ContainsCount(_, col, _, _, _)    => sized(col)
      case PrefixItems(_, col, _)            => sized(col)
      case UnevaluatedItems(_, col, _)       => sized(col)
      case UniqueItems(_, col) =>
        // same element-identity keys as the verdict — array_distinct on
        // the equivalent typed column coerces identically
        val at = node(col)
        doc => {
          val v = at(doc)
          if (v != null && v.isArray) {
            val ks = itemKeys(v)
            s"distinct=${ks.distinct.size}/${ks.size}"
          } else "null"
        }
      case KeysIn(_, col, allowed) =>
        val set = allowed.toSet
        keysOf(col)(k => set.isEmpty || !set.contains(k))
      case KeyCountBounds(_, col, _, _) =>
        val at = node(col)
        doc => {
          val v = at(doc)
          if (v != null && v.isObject) s"n_keys=${v.size()}" else "null"
        }
      case EachKey(_, col, _) => keysOf(col)(_ => true)
      case PropertyValues(_, col, k, _) =>
        val at = node(col)
        doc => {
          val v = at(doc)
          val x = if (v != null && v.isObject) v.get(k) else null
          if (x == null || x.isMissingNode || x.isNull) "null"
          else content(x)
        }
      case PatternValues(_, col, p, _) => keysOf(col)(regex(p))
      case UnevaluatedProperties(_, col, _, ks, ps) =>
        val covered = ks.toSet
        val finds = ps.map(regex)
        keysOf(col)(k => !(covered.contains(k) || finds.exists(_(k))))
      case SizeConsistency(_, i, a) =>
        val iat = node(i)
        val aat = node(a)
        doc => {
          val iv = iat(doc)
          val av = aat(doc)
          if (iv != null && av != null && av.isArray)
            s"${content(iv)}!=size:${av.size()}"
          else "null"
        }
      case LengthBounds(_, col, _, _) =>
        val at = node(col)
        doc => {
          val v = at(doc)
          val s = if (v == null) null else str(v)
          if (s == null) "null" else s"len=${s.codePointCount(0, s.length)}"
        }
      case other =>
        val cols = ConstraintCompiler.refCols(other)
        if (cols.isEmpty) _ => ""
        else if (cols.sizeIs == 1) {
          val at = node(cols.head)
          doc => {
            val v = at(doc)
            if (v == null) "null" else content(v)
          }
        } else {
          // to_json(struct(cols…)) parity: JSON object keyed by the
          // LEAF field name (struct(col("a.b")) names the field "b"),
          // null/missing fields omitted, insertion order kept
          val fields = cols.map(p => p.split('.').last -> node(p))
          doc => {
            val o = mapper.createObjectNode()
            fields.foreach { case (leaf, at) =>
              val v = at(doc)
              if (v != null) o.set[JsonNode](leaf, v)
            }
            mapper.writeValueAsString(o)
          }
        }
    }
  }
}
