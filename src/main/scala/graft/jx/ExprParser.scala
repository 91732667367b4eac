package graft.jx

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeType
import scala.jdk.CollectionConverters._
import Expr._

/** JSON -> [[Expr]] parser for JX expressions.
  *
  * Follows the normalization conventions of the reference's public
  * `vendor/jx_base/expressions.py` (SURVEY.md §2i):
  *   - bare strings in operand position are VARIABLES,
  *   - bare numbers/booleans are literals,
  *   - `{"literal": v}` forces a literal (incl. strings and arrays),
  *   - comparison map-form `{"eq": {"a": 1, "b": 2}}` means a=1 AND b=2,
  *   - `{"date": "today-7day"}` is a (relative) date literal.
  */
object ExprParser {
  private val mapper = new ObjectMapper()

  def parse(json: String): Expr = fromNode(mapper.readTree(json))

  def fromNode(n: JsonNode): Expr = {
    if (n == null) throw new IllegalArgumentException("missing expression")
    n.getNodeType match {
      case JsonNodeType.STRING  => Var(n.asText)
      case JsonNodeType.NUMBER  => Lit(num(n))
      case JsonNodeType.BOOLEAN => Lit(java.lang.Boolean.valueOf(n.asBoolean))
      case JsonNodeType.NULL | JsonNodeType.MISSING => Lit(null)
      case JsonNodeType.OBJECT  => fromObject(n)
      case t => throw new IllegalArgumentException(s"bad expression node: $t")
    }
  }

  private def num(n: JsonNode): Any =
    if (n.isIntegralNumber) java.lang.Long.valueOf(n.asLong)
    else java.lang.Double.valueOf(n.asDouble)

  private def literalValue(n: JsonNode): Any = n.getNodeType match {
    case JsonNodeType.STRING  => n.asText
    case JsonNodeType.NUMBER  => num(n)
    case JsonNodeType.BOOLEAN => java.lang.Boolean.valueOf(n.asBoolean)
    case JsonNodeType.NULL    => null
    case JsonNodeType.ARRAY   => n.elements.asScala.map(literalValue).toSeq
    case t => throw new IllegalArgumentException(s"bad literal: $t")
  }

  private def elems(n: JsonNode): Seq[JsonNode] =
    if (n.isArray) n.elements.asScala.toSeq else Seq(n)

  private def parseSeq(n: JsonNode): Seq[Expr] = elems(n).map(fromNode)

  /** Operand that must be an integer (digits args etc.). */
  private def intOf(n: JsonNode): Int = n.asInt

  private def fromObject(o: JsonNode): Expr = {
    val fields = o.fields.asScala.toSeq
    // clauses like {"add":[...], "default": 0} — pull the op key
    val opField = fields.find(f => f.getKey != "default")
      .getOrElse(throw new IllegalArgumentException("empty expression"))
    val op = opField.getKey
    val arg = opField.getValue
    val default = Option(o.get("default")).map(fromNode)

    op match {
      case "literal" => Lit(literalValue(arg))
      case "date"    =>
        if (arg.isObject && arg.has("literal"))
          DateLit(arg.get("literal").asText)
        else DateLit(arg.asText)
      case "and" => And(parseSeq(arg))
      case "or"  => Or(parseSeq(arg))
      case "not" => Not(fromNode(arg))
      case "eq" | "ne" | "gt" | "gte" | "lt" | "lte" =>
        if (arg.isObject && !arg.has("literal")) {
          // map form: {"eq": {"a": 1, "b": 2}} -> AND of comparisons;
          // rhs values are LITERALS in map form.
          val cmps = arg.fields.asScala.toSeq.map { f =>
            val rhs = f.getValue
            val r =
              if (rhs.isObject || rhs.isTextual) Lit(literalValue(rhs))
              else fromNode(rhs)
            // in + eq unify: {"eq":{"a":[1,2]}} means a IN (1,2)
            if (op == "eq" && rhs.isArray)
              In(Var(f.getKey), literalValue(rhs).asInstanceOf[Seq[Any]])
            else Cmp(op, Var(f.getKey), r)
          }
          if (cmps.size == 1) cmps.head else And(cmps)
        } else {
          val Seq(l, r) = parseSeq(arg)
          Cmp(op, l, r)
        }
      case "in" =>
        if (arg.isObject) {
          val f = arg.fields.asScala.next()
          In(Var(f.getKey),
             literalValue(f.getValue).asInstanceOf[Seq[Any]])
        } else {
          val items = elems(arg)
          In(fromNode(items.head),
             literalValue(items(1)).asInstanceOf[Seq[Any]])
        }
      case "between" =>
        if (arg.isObject) {
          val f = arg.fields.asScala.next()
          val bounds = f.getValue.elements.asScala.toSeq
          if (bounds.forall(_.isTextual))
            BetweenStr(Var(f.getKey), bounds.head.asText, bounds(1).asText)
          else
            BetweenNum(Var(f.getKey), Lit(literalValue(bounds.head)),
                       Lit(literalValue(bounds(1))))
        } else {
          val items = elems(arg)
          val v = fromNode(items.head)
          if (items(1).isTextual && items.size == 3 && items(2).isTextual)
            BetweenStr(v, items(1).asText, items(2).asText)
          else BetweenNum(v, fromNode(items(1)), fromNode(items(2)))
        }
      case "when" =>
        When(fromNode(arg),
             Option(o.get("then")).map(fromNode).getOrElse(Lit(null)),
             Option(o.get("else")).map(fromNode).getOrElse(Lit(null)))
      case "case" =>
        val items = elems(arg)
        val (whenNodes, elseNodes) = items.partition(_.has("when"))
        val whens = whenNodes.map { w =>
          (fromNode(w.get("when")),
           Option(w.get("then")).map(fromNode).getOrElse(Lit(null)))
        }
        val els = elseNodes.headOption.map(fromNode).getOrElse(Lit(null))
        Case(whens, els)
      case "coalesce" => Coalesce(parseSeq(arg))
      case "missing"  => Missing(fromNode(arg))
      case "exists"   => Exists(fromNode(arg))
      case "add" | "sum" => Arith("add", parseSeq(arg), default)
      case "mult" | "mul" | "multiply" => Arith("mult", parseSeq(arg), default)
      case "max" | "most"  => Arith("max", parseSeq(arg), default)
      case "min" | "least" => Arith("min", parseSeq(arg), default)
      case "sub" | "minus" | "subtract" =>
        val Seq(l, r) = parseSeq(arg); Bin("sub", l, r)
      case "div" | "divide" =>
        val Seq(l, r) = parseSeq(arg)
        default match {
          case Some(d) => Coalesce(Seq(Bin("div", l, r), d))
          case None    => Bin("div", l, r)
        }
      case "mod" => val Seq(l, r) = parseSeq(arg); Bin("mod", l, r)
      case "exp" | "power" | "pow" =>
        val Seq(l, r) = parseSeq(arg); Bin("exp", l, r)
      case "round" =>
        if (arg.isArray) { val items = elems(arg)
          Round(fromNode(items.head), intOf(items(1))) }
        else Round(fromNode(arg),
          Option(o.get("digits")).map(intOf).getOrElse(0))
      case "floor" =>
        if (arg.isArray) { val items = elems(arg)
          FloorD(fromNode(items.head), intOf(items(1))) }
        else FloorD(fromNode(arg),
          Option(o.get("digits")).map(intOf).getOrElse(0))
      case "abs" => Abs(fromNode(arg))
      case "length" => StrLen(fromNode(arg))
      case "left" =>
        val items = elems(arg); StrLeft(fromNode(items.head), fromNode(items(1)))
      case "right" =>
        val items = elems(arg); StrRight(fromNode(items.head), fromNode(items(1)))
      case "not_left" =>
        val items = elems(arg); StrNotLeft(fromNode(items.head), fromNode(items(1)))
      case "not_right" =>
        val items = elems(arg); StrNotRight(fromNode(items.head), fromNode(items(1)))
      case "concat" =>
        val sep = Option(o.get("separator")).map(_.asText).getOrElse("")
        ConcatOp(parseSeq(arg), sep)
      case "prefix" =>
        if (arg.isObject) { val f = arg.fields.asScala.next()
          Prefix(Var(f.getKey), Lit(literalValue(f.getValue))) }
        else { val items = elems(arg)
          Prefix(fromNode(items.head), fromNode(items(1))) }
      case "suffix" =>
        if (arg.isObject) { val f = arg.fields.asScala.next()
          Suffix(Var(f.getKey), Lit(literalValue(f.getValue))) }
        else { val items = elems(arg)
          Suffix(fromNode(items.head), fromNode(items(1))) }
      case "find" =>
        if (arg.isObject) { val f = arg.fields.asScala.next()
          Find(Var(f.getKey), Lit(literalValue(f.getValue))) }
        else { val items = elems(arg)
          Find(fromNode(items.head), fromNode(items(1))) }
      case "split" =>
        val items = elems(arg)
        SplitOp(fromNode(items.head),
                if (items.size > 1) items(1).asText else " ")
      case "regex" | "regexp" =>
        if (arg.isObject) { val f = arg.fields.asScala.next()
          RegexMatch(Var(f.getKey), f.getValue.asText) }
        else { val items = elems(arg)
          RegexMatch(fromNode(items.head), items(1).asText) }
      case "number" | "integer" | "string" | "boolean" =>
        CastOp(op, fromNode(arg))
      case "is_number"  => IsKind("number", fromNode(arg))
      case "is_string"  => IsKind("string", fromNode(arg))
      case "is_boolean" => IsKind("boolean", fromNode(arg))
      case "unix"      => Unix(fromNode(arg))
      case "from_unix" => FromUnix(fromNode(arg))
      case "leaves" => Leaves(arg.asText)
      case "items"  => Items(fromNode(arg))
      case "get" =>
        val items = elems(arg)
        GetOp(fromNode(items.head), fromNode(items(1)))
      case "tuple" => Tup(parseSeq(arg))
      case "rows" =>
        val items = elems(arg)
        Rows(fromNode(items.head), intOf(items(1)))
      case "rownum" => RowNum
      case "script" =>
        throw new UnsupportedOperationException(
          "JX {\"script\"} op is not supported (arbitrary code execution)")
      case other =>
        throw new IllegalArgumentException(s"unknown JX op: $other")
    }
  }
}
