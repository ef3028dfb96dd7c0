package graft.schema

/** Portable compiled-schema model.
  *
  * Mirrors the reference artifact shape (kyepy `kye/compiled.py`) so an
  * artifact produced by the reference compiler (`kye -c out.json`) loads
  * verbatim here; the runtime semantics are re-expressed on Spark.
  */

/** One instruction: op + inline literal args; remaining operands come from
  * the evaluation stack (`kye/compiled.py:8-26`). */
final case class Cmd(op: Op, args: List[Any]) {
  def numStackArgs: Int = op.arity - args.length
  // NO construction-time validation BY PARITY: the reference validates
  // only on artifact LOAD (parse_command, op.py:74-93) — its COMPILER
  // freely emits shapes like {"not": true} or {"add": ["a","b"]} that its
  // own loader would reject. Validation lives in CompiledSchema.parseCmd.
}

object Cmd {
  def apply(op: Op): Cmd = Cmd(op, Nil)
  def one(op: Op, arg: Any): Cmd = Cmd(op, List(arg))
}

/** Boolean row predicate attached to a model (`kye/compiled.py:30-68`). */
final case class Assertion(model: String, msg: String, expr: List[Cmd], loc: Option[String]) {
  /** Column names referenced by the program (order of first occurrence;
    * reference uses an unordered set, `compiled.py:61-68`). */
  lazy val edges: List[String] =
    expr.collect { case Cmd(Op.COL, List(name: String)) => name }.distinct
}

/** A column (or computed attribute) of a model/type: declared type +
  * cardinality as two bools (`kye/compiled.py:70-127`). */
final case class Edge(
    model: String,
    name: String,
    none: Boolean,
    many: Boolean,
    tpe: String,
    title: Option[String],
    expr: Option[List[Cmd]],
    loc: Option[String]) {
  def cardinality: String =
    (many, none) match {
      case (true, true)   => "many"
      case (true, false)  => "more"
      case (false, true)  => "maybe"
      case (false, false) => "one"
    }
}

/** Non-model nominal type (`kye/compiled.py:129-189`). Carries coercion
  * edges (e.g. String.Number = cast program). */
final case class TypeSpec(
    name: String,
    parent: Option[String],
    format: Option[String],
    conditions: Option[List[Cmd]],
    edges: Map[String, Edge],
    assertions: List[Assertion],
    loc: Option[String])

/** A named table with one or more candidate keys (`kye/compiled.py:192-276`). */
final case class Model(
    name: String,
    indexes: List[List[String]],
    edges: Map[String, Edge],
    assertions: List[Assertion],
    loc: Option[String]) {

  /** All edges participating in any index (first-occurrence order;
    * reference uses a set, `compiled.py:252-258`). */
  lazy val index: List[String] = indexes.flatten.distinct

  lazy val edgeTitles: Map[String, Edge] =
    edges.values.flatMap(e => e.title.map(_ -> e)).toMap

  /** Lookup by name or by source-column title (`compiled.py:268-276`). */
  def edge(key: String): Edge = edgeTitles.getOrElse(key, edges(key))
}

final case class CompiledSchema(types: Map[String, TypeSpec], models: Map[String, Model]) {
  /** Right-biased merge (`compiled.py:320-324`). */
  def merge(other: CompiledSchema): CompiledSchema =
    CompiledSchema(types ++ other.types, models ++ other.models)

  /** Serialize to the reference artifact JSON shape (`compiled.py:295-307`
    * `to_dict` + `kye.py:100-113` `write_compiled`): models first, types
    * only when non-empty, 2-space indent. */
  def toJson: String = CompiledSchema.write(this, yaml = false)

  /** Same artifact as YAML. */
  def toYaml: String = CompiledSchema.write(this, yaml = true)
}

object CompiledSchema {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import scala.collection.immutable.VectorMap
  import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
  import scala.jdk.CollectionConverters._

  private val jsonMapper = new ObjectMapper()
  // READ-only: YAML artifacts are parsed with Jackson; writing goes through
  // PyText.Yaml for byte parity with the reference's PyYAML output
  private val yamlMapper = new ObjectMapper(new YAMLFactory())

  def fromJson(text: String): CompiledSchema = fromTree(jsonMapper.readTree(text))
  def fromYaml(text: String): CompiledSchema = fromTree(yamlMapper.readTree(text))

  /** Native coercion table merged into every loaded schema
    * (reference ships `kye/native_types.kye.json`, merged at
    * `kye/vm/loader.py:30`). */
  lazy val nativeTypes: CompiledSchema = fromJson(
    """{
      |  "types": {
      |    "String": {
      |      "edges": {
      |        "length": {"type": "Number", "expr": [{"len": null}]},
      |        "Number": {"type": "Number", "expr": [{"cast": "float"}]}
      |      }
      |    },
      |    "Number": {
      |      "edges": {
      |        "String": {"type": "String", "expr": [{"cast": "str"}]}
      |      }
      |    },
      |    "Boolean": {}
      |  },
      |  "models": {}
      |}""".stripMargin)

  /** Load an artifact and merge native types, ready for validation. */
  def load(text: String, yaml: Boolean = false): CompiledSchema = {
    val s = if (yaml) fromYaml(text) else fromJson(text)
    nativeTypes.merge(s)
  }

  // ---- tree walking -------------------------------------------------------

  private def fromTree(root: JsonNode): CompiledSchema = {
    // VectorMap: keep DOCUMENT order — the reference serializes declaration
    // order (json.dumps/yaml.dump with sort_keys=False, kye.py:100-113), so
    // artifacts must round-trip byte-comparably for multi-edge schemas
    val types = VectorMap.from(objFields(root.get("types")).map { case (name, node) =>
      name -> parseType(name, node)
    })
    val models = VectorMap.from(objFields(root.get("models")).map { case (name, node) =>
      name -> parseModel(name, node)
    })
    CompiledSchema(types, models)
  }

  private def objFields(node: JsonNode): List[(String, JsonNode)] =
    if (node == null || node.isNull) Nil
    // fieldNames(), NOT properties(): this Jackson version's properties()
    // set does not iterate in document order, which would scramble the
    // declaration order the artifact codec must preserve
    else node.fieldNames().asScala.toList.map(n => n -> node.get(n))

  private def optText(node: JsonNode, field: String): Option[String] = {
    val n = node.get(field)
    if (n == null || n.isNull) None else Some(n.asText())
  }

  private def parseModel(name: String, node: JsonNode): Model = {
    // `index` (single) vs `indexes` (list); each entry a string or list of
    // strings (`compiled.py:200-222`).
    val rawIndexes: List[JsonNode] =
      if (node.has("index")) List(node.get("index"))
      else if (node.has("indexes")) node.get("indexes").elements().asScala.toList
      else Nil
    val indexes = rawIndexes.map { n =>
      if (n.isTextual) List(n.asText())
      else n.elements().asScala.map(_.asText()).toList
    }
    Model(
      name = name,
      indexes = indexes,
      edges = VectorMap.from(objFields(node.get("edges"))
        .map { case (en, e) => en -> parseEdge(name, en, e) }),
      assertions = parseAssertions(name, node),
      loc = optText(node, "loc"))
  }

  private def parseType(name: String, node: JsonNode): TypeSpec =
    TypeSpec(
      name = name,
      parent = optText(node, "parent"),
      format = optText(node, "format"),
      conditions =
        if (node.has("conditions")) Some(parseExpr(node.get("conditions"))) else None,
      edges = VectorMap.from(objFields(node.get("edges"))
        .map { case (en, e) => en -> parseEdge(name, en, e) }),
      assertions = parseAssertions(name, node),
      loc = optText(node, "loc"))

  private def parseAssertions(model: String, node: JsonNode): List[Assertion] =
    if (!node.has("assertions")) Nil
    else node.get("assertions").elements().asScala.map { a =>
      Assertion(
        model = model,
        msg = a.get("msg").asText(),
        expr = parseExpr(a.get("expr")),
        loc = optText(a, "loc"))
    }.toList

  private def parseEdge(model: String, name: String, node: JsonNode): Edge =
    Edge(
      model = model,
      name = name,
      none = node.has("none") && node.get("none").asBoolean(false),
      many = node.has("many") && node.get("many").asBoolean(false),
      tpe = node.get("type").asText(),
      title = optText(node, "title"),
      expr = if (node.has("expr")) Some(parseExpr(node.get("expr"))) else None,
      loc = optText(node, "loc"))

  private def parseExpr(node: JsonNode): List[Cmd] =
    node.elements().asScala.map(parseCmd).toList

  /** Accepts `"op"`, `{"op": arg}`, `{"op": [args]}`, `{"op": null}`
    * (`kye/vm/op.py:74-93`). */
  private def parseCmd(node: JsonNode): Cmd =
    if (node.isTextual) Cmd(Op.forName(node.asText()), Nil)
    else {
      val fields = objFields(node)
      require(fields.size == 1, s"Command object must have exactly one key: $node")
      val (opName, argNode) = fields.head
      val op = Op.forName(opName)
      val args: List[Any] =
        if (argNode == null || argNode.isNull) Nil
        else if (argNode.isArray) argNode.elements().asScala.map(scalarValue).toList
        else List(scalarValue(argNode))
      // load-time validation parity (reference parse_command asserts
      // matches_signature, op.py:74-93; arity is implied by signature
      // length). Compile-built Cmds are deliberately NOT validated.
      require(op.matchesSignature(args), s"Bad inline args for ${op.opName}: $args")
      Cmd(op, args)
    }

  private def scalarValue(n: JsonNode): Any =
    if (n.isTextual) n.asText()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else throw new IllegalArgumentException(s"Unsupported literal: $n")

  // ---- serialization (compiled.py to_dict parity) ---------------------------

  import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

  private def write(schema: CompiledSchema, yaml: Boolean): String = {
    val root = jsonMapper.createObjectNode()
    val modelsNode = root.putObject("models")
    for ((name, m) <- schema.models) modelsNode.set[ObjectNode](name, modelNode(m))
    if (schema.types.nonEmpty) {
      val typesNode = root.putObject("types")
      for ((name, t) <- schema.types) typesNode.set[ObjectNode](name, typeNode(t))
    }
    // byte parity with the reference's writers (kye.py:100-113): the
    // PyText codecs reproduce json.dumps(indent=2, sort_keys=False) and
    // PyYAML yaml.dump(sort_keys=False) exactly — incl. Python float repr,
    // ensure_ascii escapes, YAML 1.1 quoting of numeric-looking strings,
    // '' for empty strings, and 80-column scalar folding
    if (yaml) PyText.Yaml.dump(root)
    else PyText.Json.dumps(root)
  }

  private def putScalar(node: ObjectNode, field: String, v: Any): Unit = v match {
    case s: String  => node.put(field, s)
    case b: Boolean => node.put(field, b)
    case l: Long    => node.put(field, l)
    case i: Int     => node.put(field, i)
    case d: Double  => node.put(field, d)
    case other => throw new IllegalArgumentException(s"Unsupported literal: $other")
  }

  private def addScalar(node: ArrayNode, v: Any): Unit = v match {
    case s: String  => node.add(s)
    case b: Boolean => node.add(b)
    case l: Long    => node.add(l)
    case i: Int     => node.add(i)
    case d: Double  => node.add(d)
    case other => throw new IllegalArgumentException(s"Unsupported literal: $other")
  }

  /** `{"op": arg}` with a single arg unwrapped, `{"op": [args]}` otherwise
    * (`compiled.py:18-23`). */
  private def cmdNode(cmd: Cmd): ObjectNode = {
    val node = jsonMapper.createObjectNode()
    cmd.args match {
      case List(single) => putScalar(node, cmd.op.opName, single)
      case args =>
        val arr = node.putArray(cmd.op.opName)
        args.foreach(addScalar(arr, _))
    }
    node
  }

  private def exprNode(expr: List[Cmd]): ArrayNode = {
    val arr = jsonMapper.createArrayNode()
    expr.foreach(c => arr.add(cmdNode(c)))
    arr
  }

  private def assertionNode(a: Assertion): ObjectNode = {
    val node = jsonMapper.createObjectNode()
    node.put("msg", a.msg)
    node.set[ObjectNode]("expr", exprNode(a.expr))
    a.loc.foreach(node.put("loc", _))
    node
  }

  private def edgeNode(e: Edge): ObjectNode = {
    val node = jsonMapper.createObjectNode()
    node.put("type", e.tpe)
    // Python truthiness: empty titles are omitted (`if self.title:`,
    // compiled.py:100-101)
    e.title.filter(_.nonEmpty).foreach(node.put("title", _))
    e.expr.filter(_.nonEmpty).foreach(x => node.set[ObjectNode]("expr", exprNode(x)))
    if (e.many) node.put("many", true)
    if (e.none) node.put("none", true)
    e.loc.foreach(node.put("loc", _))
    node
  }

  private def modelNode(m: Model): ObjectNode = {
    val node = jsonMapper.createObjectNode()
    // one index -> singular `index`; several -> `indexes`; single-edge
    // entries collapse to bare strings (compiled.py:224-241)
    def idxValue(idx: List[String], into: ArrayNode): Unit =
      if (idx.size == 1) into.add(idx.head)
      else { val a = into.addArray(); idx.foreach(a.add) }
    if (m.indexes.size == 1) {
      if (m.indexes.head.size == 1) node.put("index", m.indexes.head.head)
      else { val a = node.putArray("index"); m.indexes.head.foreach(a.add) }
    } else if (m.indexes.nonEmpty) {
      val arr = node.putArray("indexes")
      m.indexes.foreach(idxValue(_, arr))
    }
    val edges = node.putObject("edges")
    for ((en, e) <- m.edges) edges.set[ObjectNode](en, edgeNode(e))
    if (m.assertions.nonEmpty) {
      val arr = node.putArray("assertions")
      m.assertions.foreach(a => arr.add(assertionNode(a)))
    }
    m.loc.foreach(node.put("loc", _))
    node
  }

  private def typeNode(t: TypeSpec): ObjectNode = {
    val node = jsonMapper.createObjectNode()
    t.parent.foreach(node.put("parent", _))
    t.format.foreach(node.put("format", _))
    t.conditions.filter(_.nonEmpty).foreach(c => node.set[ObjectNode]("conditions", exprNode(c)))
    if (t.edges.nonEmpty) {
      val edges = node.putObject("edges")
      for ((en, e) <- t.edges) edges.set[ObjectNode](en, edgeNode(e))
    }
    if (t.assertions.nonEmpty) {
      val arr = node.putArray("assertions")
      t.assertions.foreach(a => arr.add(assertionNode(a)))
    }
    t.loc.foreach(node.put("loc", _))
    node
  }
}
