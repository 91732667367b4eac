package graft.jx

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._
import Expr._

/** Normalized JX query IR — the Spark-side analog of the reference's
  * `QueryOp.wrap` normalization (public repo `vendor/jx_base/queries.py`,
  * SURVEY.md §3.2). Clauses: from / select / where / groupby / edges /
  * window / sort / limit / format.
  */
final case class JxQuery(
    /** table name (Left) or nested subquery (Right) — JX allows
      * `from: {another query}`. */
    from: Either[String, JxQuery],
    select: Seq[SelectItem],
    selectAll: Boolean,
    where: Option[Expr],
    groupby: Seq[KeyItem],
    edges: Seq[EdgeClause],
    windows: Seq[WindowClause],
    sort: Seq[SortSpec],
    limit: Option[Long],
    format: String,
    /** true -> scale-path aggregate variants (approx_count_distinct,
      * percentile_approx) instead of the exact oracle-parity forms. */
    approx: Boolean = false) {
  def isAggregate: Boolean =
    groupby.nonEmpty || edges.nonEmpty || select.exists(_.aggregate.nonEmpty)
}

/** select item: plain projection or aggregate. value=None + aggregate=count
  * means count(*). */
final case class SelectItem(
    name: String,
    value: Option[Expr],
    aggregate: Option[String],
    percentile: Option[Double],
    /** JX select.default: fills missing aggregate results (e.g. empty
      * cube cells) with this literal. */
    default: Option[Any] = None)

/** groupby key (name + expression). */
final case class KeyItem(name: String, value: Expr)

final case class SortSpec(value: Expr, descending: Boolean)

/** edges clause entry: value bucketed by a domain; dense output. */
final case class EdgeClause(
    name: String,
    value: Option[Expr],
    domain: DomainSpec,
    allowNulls: Boolean)

sealed trait DomainSpec
object DomainSpec {
  /** Explicit partition list (dense even when empty). */
  final case class SetDomain(partitions: Seq[Any]) extends DomainSpec
  /** Predicate partitions: ordered (name, where) buckets. */
  final case class PredicateDomain(parts: Seq[(String, Expr)])
      extends DomainSpec
  /** Tumbling time buckets [min, max). Bounds are JX date literals;
    * interval is fixed-width seconds OR calendar months (the reference's
    * Duration is calendar-aware — SURVEY.md §2 data model). */
  final case class TimeDomain(min: String, max: String, intervalSec: Long,
                              intervalMonths: Int = 0) extends DomainSpec
  /** Numeric buckets [min, max) step interval. */
  final case class RangeDomain(min: Double, max: Double, interval: Double)
      extends DomainSpec
  /** Duration buckets: values are seconds, bounds/interval accept
    * duration strings ("hour", "2day") or numbers (public repo
    * `vendor/jx_base/domains.py` DurationDomain). Same dense-bucket
    * arithmetic as [[RangeDomain]], distinct named type. */
  final case class DurationDomain(minSec: Double, maxSec: Double,
                                  intervalSec: Double) extends DomainSpec
  /** Distinct values from data, `limit` most frequent (SURVEY.md §2e). */
  final case class DefaultDomain(limit: Int) extends DomainSpec
}

/** window clause: per-row value from an aggregate over a row frame within a
  * partition (public repo `vendor/jx_python/jx.py` window(); SURVEY.md §2f). */
final case class WindowClause(
    name: String,
    value: Option[Expr],
    aggregate: Option[String],
    edges: Seq[Expr],
    sort: Seq[SortSpec],
    range: Option[(Option[Long], Option[Long])],
    where: Option[Expr])

/** JSON -> [[JxQuery]]. Malformed input — unparseable JSON, a missing
  * or wrongly typed clause, an unknown operator — fails with an
  * `IllegalArgumentException` naming the problem (unknown tables fail
  * the same way, at resolution in `Catalog`). */
object QueryParser {
  private val mapper = new ObjectMapper()

  def parse(json: String): JxQuery = fromNode(
    try mapper.readTree(json)
    catch {
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        throw new IllegalArgumentException(
          s"malformed JX JSON: ${e.getOriginalMessage}", e)
    })

  /** A required field of a JSON object. */
  private def field(n: JsonNode, name: String): JsonNode =
    Option(n.get(name)).getOrElse(
      throw new IllegalArgumentException(s"missing '$name' in: $n"))

  def fromNode(q: JsonNode): JxQuery = {
    val fromNodeV = Option(q.get("from")).getOrElse(
      throw new IllegalArgumentException(
        "query needs a 'from' clause (table name or subquery)"))
    val from: Either[String, JxQuery] =
      if (fromNodeV.isObject) Right(fromNode(fromNodeV))
      else Left(fromNodeV.asText)
    val (select, selectAll) = parseSelect(Option(q.get("select")))
    val where = Option(q.get("where")).map(ExprParser.fromNode)
    val groupby = Option(q.get("groupby")).map(parseKeys).getOrElse(Nil)
    val edges = Option(q.get("edges")).map(parseEdges).getOrElse(Nil)
    val windows = Option(q.get("window")).map(parseWindows).getOrElse(Nil)
    val sort = Option(q.get("sort")).map(parseSort).getOrElse(Nil)
    val limit = Option(q.get("limit")).map { n =>
      if (n.isIntegralNumber && n.asLong >= 0) n.asLong
      else throw new IllegalArgumentException(
        s"limit must be a non-negative integer, got: $n")
    }
    val format = Option(q.get("format")).map(_.asText).getOrElse("list")
    val approx = Option(q.get("approx")).exists(_.asBoolean)
    JxQuery(from, select, selectAll, where, groupby, edges, windows, sort,
            limit, format, approx)
  }

  private def nodes(n: JsonNode): Seq[JsonNode] =
    if (n.isArray) n.elements.asScala.toSeq else Seq(n)

  private def nameOf(value: Expr, explicit: Option[String]): String =
    explicit.getOrElse(value match {
      case Var(p) => p.replace('.', '_')
      case _ => throw new IllegalArgumentException(
        "computed select/groupby value needs an explicit name")
    })

  private def parseSelect(sel: Option[JsonNode]): (Seq[SelectItem], Boolean) =
    sel match {
      case None => (Nil, true) // select * (all leaves)
      case Some(n) =>
        val items = nodes(n)
        if (items.exists(i => i.isTextual && i.asText == ".")) (Nil, true)
        else (items.map(parseSelectItem), false)
    }

  private def parseSelectItem(n: JsonNode): SelectItem =
    if (n.isTextual) {
      val v = Var(n.asText)
      SelectItem(nameOf(v, None), Some(v), None, None)
    } else if (n.isObject && n.has("leaves")) {
      // bare {"leaves": prefix} select form (SURVEY.md §2b P2)
      SelectItem("*", Some(Leaves(n.get("leaves").asText)), None, None)
    } else {
      val agg = Option(n.get("aggregate")).map(_.asText)
      val value = Option(n.get("value")).map(ExprParser.fromNode)
      val pct = Option(n.get("percentile")).map(_.asDouble)
      val dflt = Option(n.get("default")).map(scalarValue)
      val name = Option(n.get("name")).map(_.asText)
        .getOrElse(value match {
          case Some(Var(p)) => p.replace('.', '_')
          case None if agg.contains("count") => "count"
          case _ => throw new IllegalArgumentException(
            "select item needs a name")
        })
      SelectItem(name, value, agg, pct, dflt)
    }

  private def parseKeys(n: JsonNode): Seq[KeyItem] = nodes(n).map { k =>
    if (k.isTextual) KeyItem(k.asText.replace('.', '_'), Var(k.asText))
    else {
      val v = ExprParser.fromNode(k.get("value"))
      KeyItem(nameOf(v, Option(k.get("name")).map(_.asText)), v)
    }
  }

  private def parseSort(n: JsonNode): Seq[SortSpec] = nodes(n).map { s =>
    if (s.isTextual) SortSpec(Var(s.asText), descending = false)
    else {
      val v = ExprParser.fromNode(s.get("value"))
      val desc = Option(s.get("sort")).exists(_.asInt < 0)
      SortSpec(v, desc)
    }
  }

  private def parseEdges(n: JsonNode): Seq[EdgeClause] = nodes(n).map { e =>
    if (e.isTextual)
      EdgeClause(e.asText.replace('.', '_'), Some(Var(e.asText)),
                 DomainSpec.DefaultDomain(1000), allowNulls = false)
    else {
      val value = Option(e.get("value")).map(ExprParser.fromNode)
      val name = Option(e.get("name")).map(_.asText).getOrElse(value match {
        case Some(Var(p)) => p.replace('.', '_')
        case _ => throw new IllegalArgumentException("edge needs a name")
      })
      val allowNulls = Option(e.get("allowNulls")).exists(_.asBoolean)
      val domain = Option(e.get("domain")).map(parseDomain)
        .getOrElse(DomainSpec.DefaultDomain(
          Option(e.get("limit")).map(_.asInt).getOrElse(1000)))
      EdgeClause(name, value, domain, allowNulls)
    }
  }

  private def parseDomain(d: JsonNode): DomainSpec = {
    val typ = Option(d.get("type")).map(_.asText).getOrElse {
      if (d.has("partitions")) "set" else "default"
    }
    typ match {
      case "set" =>
        val parts = field(d, "partitions").elements.asScala.toSeq
        if (parts.forall(p => p.isObject && p.has("where")))
          DomainSpec.PredicateDomain(parts.map { p =>
            (field(p, "name").asText, ExprParser.fromNode(p.get("where")))
          })
        else
          DomainSpec.SetDomain(parts.map(scalarValue))
      case "time" =>
        val iv = field(d, "interval")
        val (min, max) = (dateText(field(d, "min")), dateText(field(d, "max")))
        intervalMonths(iv) match {
          case Some(m) => DomainSpec.TimeDomain(min, max, 0L, m)
          case None => DomainSpec.TimeDomain(min, max, intervalSeconds(iv))
        }
      case "duration" =>
        DomainSpec.DurationDomain(durationSeconds(field(d, "min")),
          durationSeconds(field(d, "max")),
          durationSeconds(field(d, "interval")))
      case "range" =>
        DomainSpec.RangeDomain(field(d, "min").asDouble,
          field(d, "max").asDouble, field(d, "interval").asDouble)
      case "default" =>
        DomainSpec.DefaultDomain(
          Option(d.get("limit")).map(_.asInt).getOrElse(1000))
      case t => throw new IllegalArgumentException(s"bad domain type: $t")
    }
  }

  private def scalarValue(n: JsonNode): Any =
    if (n.isObject && n.has("value")) scalarValue(n.get("value"))
    else if (n.isTextual) n.asText
    else if (n.isIntegralNumber) java.lang.Long.valueOf(n.asLong)
    else if (n.isNumber) java.lang.Double.valueOf(n.asDouble)
    else if (n.isBoolean) java.lang.Boolean.valueOf(n.asBoolean)
    else if (n.isNull) null
    else throw new IllegalArgumentException(s"bad partition value: $n")

  private def dateText(n: JsonNode): String =
    if (n.isObject && n.has("date")) n.get("date").asText else n.asText

  /** "month" | "2month" | "year" -> calendar months; None otherwise. */
  def intervalMonths(n: JsonNode): Option[Int] =
    if (n.isNumber) None
    else {
      val m = """(\d*)\s*([a-z]+)""".r
      n.asText.toLowerCase match {
        case m(cnt, unit) =>
          val k = if (cnt.isEmpty) 1 else cnt.toInt
          unit match {
            case "month" | "months" => Some(k)
            case "year" | "years"   => Some(k * 12)
            case _ => None
          }
        case _ => None
      }
    }

  /** Duration bound: a number is already seconds, text goes through
    * the duration-string parser. */
  def durationSeconds(n: JsonNode): Double =
    if (n.isNumber) n.asDouble else intervalSeconds(n).toDouble

  /** "day" | "2hour" | seconds-number -> seconds. */
  def intervalSeconds(n: JsonNode): Long =
    if (n.isNumber) n.asLong
    else {
      val m = """(\d*)\s*([a-z]+)""".r
      n.asText.toLowerCase match {
        case m(cnt, unit) =>
          val k = if (cnt.isEmpty) 1L else cnt.toLong
          val sec = unit match {
            case "second" | "seconds" => 1L
            case "minute" | "minutes" => 60L
            case "hour" | "hours"     => 3600L
            case "day" | "days"       => 86400L
            case "week" | "weeks"     => 604800L
            case u => throw new IllegalArgumentException(s"bad interval: $u")
          }
          k * sec
        case other =>
          throw new IllegalArgumentException(s"bad interval: $other")
      }
    }

  private def parseWindows(n: JsonNode): Seq[WindowClause] = nodes(n).map {
    w =>
      val name = field(w, "name").asText
      val value = Option(w.get("value")).map(ExprParser.fromNode)
      val agg = Option(w.get("aggregate")).map(_.asText)
      val edges = Option(w.get("edges")).map(nodes(_).map(ExprParser.fromNode))
        .getOrElse(Nil)
      val sort = Option(w.get("sort")).map(parseSort).getOrElse(Nil)
      val range = Option(w.get("range")).map { r =>
        (Option(r.get("min")).map(_.asLong), Option(r.get("max")).map(_.asLong))
      }
      val where = Option(w.get("where")).map(ExprParser.fromNode)
      WindowClause(name, value, agg, edges, sort, range, where)
  }
}
