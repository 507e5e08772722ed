package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr
import scala.jdk.CollectionConverters._

/** JUTE-style declarative transformation templates, compiled to Catalyst.
  *
  * The reference fetches YAML JUTE templates and compiles them to
  * record-transforming closures run per record in an interpreter
  * (/root/reference/src/etlp/utils/mapper.clj:28-38 `resolve-jute-template`
  * — yaml parse → jute.core/compile). Spark-first re-expression: the
  * template compiles ONCE, on the driver, to a single SQL expression
  * tree, so the "interpreter" is whole-stage codegen — nested structure
  * construction, conditionals and loops all run as vectorized Catalyst
  * expressions, constant-folded and prunable like any hand-written
  * column.
  *
  * Template language (YAML or JSON, mirroring JUTE's shapes):
  *  - mapping            → named struct (field order preserved)
  *  - sequence           → array
  *  - `"$ <sql>"` string → SQL expression over the input columns
  *  - other scalars      → literals
  *  - `{$if: <sql>, $then: T, $else: T}` → conditional (else optional →
  *    NULL, like JUTE's absent else)
  *  - `{$map: <array sql>, $as: x, $body: T}` → per-element transform;
  *    `$body` may reference the lambda variable `x`
  *  - `{$let: {k: T...}, $body: T}` → named bindings usable as
  *    variables in `$body` (compiled via a transform over a 1-element
  *    array, so bindings evaluate once per row)
  *  - `{$switch: <sql>, <case>: T, ..., $default: T}` → string-compare
  *    dispatch on the subject expression (cases are the literal YAML
  *    keys; missing `$default` → NULL, like JUTE)
  *  - `{$reduce: <array sql>, $acc: a, $as: x, $start: T, $body: T}` →
  *    left fold over the array (`aggregate` in Spark SQL); `$acc`
  *    defaults to `acc`, `$as` to `it`
  *  - `{$call: <name>, $args: [T...]}` → invoke a template function
  *    from the top-level `$defs` block (inline-expanded with args bound
  *    lexically, like `$let`) or, when the name is not defined there,
  *    any SQL function of that name
  *  - `$defs:` (top level) → named template functions:
  *    `{<name>: {$args: [p...], $body: T}}` — JUTE's `$fn`, hoisted to
  *    the template head so definitions compile once and expand at each
  *    call site (recursive definitions are rejected: a Catalyst
  *    expression tree is finite)
  *
  * The top level is usually a mapping of output column name → template;
  * [[columns]] turns that into `Column`s for a `select`.
  */
object Jute {

  /** name → (positional params, body template) from a `$defs` block. */
  private type Defs = Map[String, (Seq[String], JsonNode)]

  private val yaml = new ObjectMapper(new YAMLFactory())
  private val json = new ObjectMapper()

  /** Fresh-name source for hygienic $call expansion (names under the
    * reserved __graft_a prefix; [[ident]] rejects user identifiers
    * starting with it). */
  private val freshId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Parse a YAML (or JSON — YAML is a superset) template. */
  def parse(template: String): JsonNode = yaml.readTree(template)

  /** Top-level mapping → one Column per output field (a `$defs` block,
    * if present, contributes template functions, not a column). */
  def columns(template: String): Seq[Column] = {
    val root = parse(template)
    require(root.isObject, "top-level JUTE template must be a mapping")
    val defs = parseDefs(root)
    root.properties().asScala.toSeq.filterNot(_.getKey == "$defs").map { e =>
      expr(compileSql(e.getValue, defs)).as(e.getKey)
    }
  }

  /** One Column from a (sub-)template. */
  def column(template: String): Column = expr(compileSql(parse(template)))

  private def parseDefs(root: JsonNode): Defs =
    Option(root.get("$defs")).map { d =>
      require(d.isObject, "$defs must be a mapping of name -> function")
      d.properties().asScala.map { e =>
        val v = e.getValue
        val params = Option(v.get("$args"))
          .map(_.elements().asScala.map(a => ident(a.asText, "$args")).toSeq)
          .getOrElse(Nil)
        e.getKey -> ((params, operand(v, "$body")))
      }.toMap
    }.getOrElse(Map.empty)

  /** Lambda-variable / function names splice into SQL text — restrict
    * them to identifiers so a template can't smuggle expression syntax
    * through a binding name. */
  private def ident(s: String, where: String): String = {
    require(s.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"$where name must be an identifier: '$s'")
    require(!s.startsWith("__graft_a"),
      s"$where name '$s' uses the reserved __graft_a prefix")
    s
  }

  /** Compile a template node to a SQL expression string. Strings are the
    * composition medium because SQL lambdas (`x -> body`) bind variables
    * lexically by name — exactly the template's scoping — and one final
    * `expr()` hands the whole tree to Catalyst in a single parse. */
  /** Escape a string for a Spark SQL single-quoted literal: backslashes
    * first (Spark's default parser processes \t, \n, ... escapes inside
    * literals), then quote doubling. */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

  /** Required directive operand — a missing `$then`/`$body` must be a
    * template error naming the directive, not an NPE mid-recursion. */
  private def operand(node: JsonNode, key: String): JsonNode = {
    val v = node.get(key)
    require(v != null, s"directive needs a $key operand: $node")
    v
  }

  private[functions] def compileSql(node: JsonNode, defs: Defs = Map.empty,
      expanding: List[String] = Nil): String = node match {
    case _ if node.isTextual =>
      val s = node.asText
      if (s.startsWith("$ ")) s"(${s.drop(2)})"
      else sqlLit(s)
    case _ if node.isIntegralNumber => s"CAST(${node.asLong} AS BIGINT)"
    case _ if node.isNumber         => s"CAST(${node.asDouble}D AS DOUBLE)"
    case _ if node.isBoolean        => node.asBoolean.toString
    case _ if node.isNull           => "NULL"
    case _ if node.isArray =>
      node.elements().asScala.map(compileSql(_, defs, expanding))
        .mkString("array(", ", ", ")")
    case _ if node.isObject && node.has("$if") =>
      val cond = exprBody(node.get("$if"), "$if")
      val thenB = compileSql(operand(node, "$then"), defs, expanding)
      val elseB = Option(node.get("$else"))
        .map(compileSql(_, defs, expanding)).getOrElse("NULL")
      s"(CASE WHEN ($cond) THEN $thenB ELSE $elseB END)"
    case _ if node.isObject && node.has("$map") =>
      val arr = exprBody(node.get("$map"), "$map")
      val as = ident(Option(node.get("$as")).map(_.asText).getOrElse("it"), "$as")
      val body = compileSql(operand(node, "$body"), defs, expanding)
      s"transform(($arr), $as -> $body)"
    case _ if node.isObject && node.has("$reduce") =>
      // left fold: JUTE's $reduce is Spark's aggregate() higher-order
      // function — start value's type fixes the accumulator type
      val arr = exprBody(node.get("$reduce"), "$reduce")
      val acc = ident(Option(node.get("$acc")).map(_.asText)
        .getOrElse("acc"), "$acc")
      val as = ident(Option(node.get("$as")).map(_.asText).getOrElse("it"), "$as")
      val start = compileSql(operand(node, "$start"), defs, expanding)
      val body = compileSql(operand(node, "$body"), defs, expanding)
      s"aggregate(($arr), $start, ($acc, $as) -> $body)"
    case _ if node.isObject && node.has("$switch") =>
      // string-compare dispatch: YAML case keys vs the subject cast to
      // STRING (JUTE switches on scalar equality; strings make the
      // comparison type-stable for every scalar subject)
      val subject = exprBody(node.get("$switch"), "$switch")
      val cases = node.properties().asScala.toSeq
        .filterNot(_.getKey.startsWith("$"))
      require(cases.nonEmpty, s"$$switch with no cases: $node")
      val default = Option(node.get("$default"))
        .map(compileSql(_, defs, expanding)).getOrElse("NULL")
      val whens = cases.map(e =>
        s"WHEN ${sqlLit(e.getKey)} THEN ${compileSql(e.getValue, defs, expanding)}")
        .mkString(" ")
      s"(CASE CAST(($subject) AS STRING) $whens ELSE $default END)"
    case _ if node.isObject && node.has("$call") =>
      val name = node.get("$call").asText
      val args = Option(node.get("$args"))
        .map(_.elements().asScala.toSeq).getOrElse(Nil)
        .map(compileSql(_, defs, expanding))
      defs.get(name) match {
        case Some((params, body)) =>
          // inline expansion with args bound like $let bindings; the
          // expansion stack rejects recursion (no finite expression)
          require(!expanding.contains(name),
            s"recursive $$call of '$name' (via ${expanding.reverse.mkString(" -> ")})")
          require(params.length == args.length,
            s"$$call $name expects ${params.length} args, got ${args.length}")
          val compiled = compileSql(body, defs, name :: expanding)
          // Hygienic expansion (rename-apart): naively nesting
          // `transform(array(argN), paramN -> ...)` compiles later args
          // INSIDE earlier params' lambda scopes, so an arg referencing
          // an outer $let binding (or column) that shares a name with an
          // earlier param would silently capture that param's value.
          // Instead args first bind to FRESH reserved names (no user
          // identifier may start with __graft_a), then params bind to
          // those — every arg now compiles outside every param's scope.
          val fresh = params.map(_ => s"__graft_a${freshId.getAndIncrement()}")
          val paramsBound = params.zip(fresh).foldRight(compiled) {
            case ((p, f), inner) =>
              s"element_at(transform(array($f), $p -> $inner), 1)"
          }
          fresh.zip(args).foldRight(paramsBound) { case ((f, a), inner) =>
            s"element_at(transform(array($a), $f -> $inner), 1)"
          }
        case None =>
          s"${ident(name, "$call")}(${args.mkString(", ")})"
      }
    case _ if node.isObject && node.has("$let") =>
      // each binding becomes a 1-element transform whose lambda variable
      // IS the binding name — true lexical scoping (later bindings and
      // the body see earlier ones), each value evaluated once per row
      val binds = node.get("$let").properties().asScala.toSeq
      val body = compileSql(operand(node, "$body"), defs, expanding)
      binds.foldRight(body) { case (e, acc) =>
        s"element_at(transform(array(${compileSql(e.getValue, defs, expanding)}), " +
          s"${ident(e.getKey, "$let")} -> $acc), 1)"
      }
    case _ if node.isObject =>
      node.properties().asScala.toSeq
        .map(e => s"${sqlLit(e.getKey)}, ${compileSql(e.getValue, defs, expanding)}")
        .mkString("named_struct(", ", ", ")")
    case other =>
      throw new IllegalArgumentException(s"unsupported template node: $other")
  }

  /** etlp-mapper registry client analogue — the reference GETs
    * `<base-url>/mappings/<id>` per alias, unwraps the response's
    * `content.yaml`, compiles it, and records a per-alias error string
    * on any failure instead of failing the whole batch
    * (/root/reference/src/etlp/utils/mapper.clj:40-48 `fetch-mappings`,
    * :7-24 `get-mapping`). Transport is pluggable (`fetch`) for the
    * zero-egress environment — a filesystem- or test-map-backed fetch
    * exercises the same unwrap/compile/error paths a real HTTP client
    * would.
    *
    * @param specs alias → mapping id
    * @return alias → Right(compiled output columns) | Left(error) */
  def fetchMappings(baseUrl: String, specs: Map[String, String],
      fetch: String => String): Map[String, Either[String, Seq[Column]]] =
    specs.map { case (alias, id) =>
      val url = s"$baseUrl/mappings/$id"
      alias -> (try {
        val body = json.readTree(fetch(url))
        val yamlNode = body.at("/content/yaml")
        require(!yamlNode.isMissingNode && yamlNode.isTextual,
          s"response carries no content.yaml: $url")
        Right(columns(yamlNode.asText))
      } catch {
        case e: Exception => Left(
          s"Error fetching mapping for alias: $alias, mapping-id: $id, ${e.getMessage}")
      })
    }

  /** Directive bodies ($if/$map) are SQL whether or not they carry the
    * `$ ` marker — matching JUTE, where directive values are always
    * expressions. */
  private def exprBody(node: JsonNode, directive: String): String = {
    require(node != null && node.isTextual, s"$directive needs a SQL string")
    val s = node.asText
    if (s.startsWith("$ ")) s.drop(2) else s
  }
}
