package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import scala.jdk.CollectionConverters._

/** Expected answers for the JX request templates, computed with plain
  * Scala collections over the written tables' rows ([[TpchData]]) — no
  * JX parser, runner or query plan is involved — plus the comparison
  * that decides whether an answer is correct. */
object Oracle {
  val mapper = new ObjectMapper()
  private val nf = JsonNodeFactory.instance

  /** Expected time-domain entries are written as "@day:<epoch day>" and
    * match a rendered date in any of the forms Jackson may choose
    * (epoch milliseconds, or an ISO date/timestamp string). */
  private def dayNode(day: Long) = nf.textNode(s"@day:$day")

  private def num(v: Any): JsonNode = v match {
    case null         => nf.nullNode()
    case l: Long      => nf.numberNode(l)
    case i: Int       => nf.numberNode(i)
    case d: Double    => nf.numberNode(d)
    case s: String    => nf.textNode(s)
    case n: JsonNode  => n
    case other        => throw new IllegalArgumentException(s"$other")
  }

  private def list(rows: Seq[Seq[(String, Any)]]): JsonNode = {
    val root = nf.objectNode()
    val arr = root.putArray("data")
    rows.foreach { r =>
      val o = arr.addObject()
      r.foreach { case (k, v) => o.set[JsonNode](k, num(v)) }
    }
    root
  }

  private def table(header: Seq[String], rows: Seq[Seq[Any]]): JsonNode = {
    val root = nf.objectNode()
    val h = root.putArray("header")
    header.foreach(h.add)
    val d = root.putArray("data")
    rows.foreach { r =>
      val a = d.addArray()
      r.foreach(v => a.add(num(v)))
    }
    root
  }

  /** cells(valueName)(i)(j) for a two-edge cube. */
  private def cube(edges: Seq[String], domains: Seq[Seq[Any]],
                   values: Seq[(String, IndexedSeq[IndexedSeq[Any]])])
      : JsonNode = {
    val root = nf.objectNode()
    val e = root.putArray("edges")
    edges.foreach(e.add)
    val ds = root.putArray("domains")
    domains.foreach { d =>
      val a = ds.addArray()
      d.foreach(v => a.add(num(v)))
    }
    val data = root.putObject("data")
    values.foreach { case (name, cells) =>
      val outer = data.putArray(name)
      cells.foreach { row =>
        val inner = outer.addArray()
        row.foreach(v => inner.add(num(v)))
      }
    }
    root
  }

  /** Spark's exact `percentile`: linear interpolation at (n - 1) * p. */
  def percentile(values: Seq[Double], p: Double): Any =
    if (values.isEmpty) null
    else {
      val v = values.sorted
      val pos = (v.size - 1) * p
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi || v(lo) == v(hi)) v(lo)
      else (hi - pos) * v(lo) + (pos - lo) * v(hi)
    }

  private def epochDay(i: java.time.Instant): Long =
    Math.floorDiv(i.getEpochSecond, 86400L)

  final class ForTables(d: TpchData) {
    private lazy val ordersByCustomer: Map[Long, Array[OrderRow]] =
      d.orders.groupBy(_.o_custkey)

    def answer(r: JxRequest): JsonNode =
      if (Requests.InteractiveTemplates.contains(r.template)) interactive(r)
      else analytic(r)

    def interactive(r: JxRequest): JsonNode = {
      val a = r.args
      r.template match {
        case "orders_of_customer" =>
          list(ordersByCustomer.getOrElse(a(0).toLong, Array.empty[OrderRow])
            .sortBy(_.o_orderkey).take(10).toSeq.map(o => Seq(
              "o_orderkey" -> o.o_orderkey, "o_orderstatus" -> o.o_orderstatus,
              "o_totalprice" -> o.o_totalprice)))
        case "lines_of_orders" =>
          val k = a(0).toLong
          val rows = d.lineitem.slice((k * Tpch.LinesPerOrder).toInt,
            ((k + 5) * Tpch.LinesPerOrder).toInt)
          table(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
            rows.toSeq.map(l => Seq[Any](l.l_orderkey, l.l_linenumber, l.l_quantity,
              l.l_returnflag)))
        case "suppliers_by_nation" =>
          val g = d.supplier.filter(_.s_acctbal > a(0)).groupBy(_.s_nationkey)
          table(Seq("s_nationkey", "count", "acctbal"),
            g.keys.toSeq.sorted.map(k => Seq[Any](k, g(k).length.toLong,
              g(k).map(_.s_acctbal).sum)))
        case "customers_by_segment" =>
          val g = d.customer.filter(_.c_nationkey == a(0).toInt)
            .groupBy(_.c_mktsegment)
          list(g.keys.toSeq.sorted.map(k => Seq("c_mktsegment" -> k,
            "count" -> g(k).length.toLong,
            "max_bal" -> g(k).map(_.c_acctbal).max)))
        case "parts_by_brand" =>
          val g = d.part.filter(_.p_size == a(0).toInt).groupBy(_.p_brand)
          table(Seq("p_brand", "count", "avg_price"),
            g.keys.toSeq.sorted.map(k => Seq[Any](k, g(k).length.toLong,
              g(k).map(_.p_retailprice).sum / g(k).length)))
        case "nations_of_region" =>
          list(d.nation.filter(_.n_regionkey == a(0).toInt)
            .sortBy(_.n_nationkey).toSeq.map(n => Seq(
              "n_nationkey" -> n.n_nationkey, "n_name" -> n.n_name)))
        case "top_customers" =>
          list(d.customer
            .filter(c => c.c_nationkey == a(0).toInt && c.c_acctbal > a(1))
            .sortBy(c => (-c.c_acctbal, c.c_custkey)).take(5).toSeq
            .map(c => Seq("c_custkey" -> c.c_custkey, "c_name" -> c.c_name,
              "c_acctbal" -> c.c_acctbal)))
      }
    }

    def analytic(r: JxRequest): JsonNode = {
      val a = r.args
      r.template match {
        case "flag_by_month" =>
          val y = a(1).toInt
          val rows = d.lineitem.filter(l =>
            l.l_extendedprice >= a(0) && l.l_discount >= a(2))
          val cells = Array.fill(3, 12)(List.empty[Double])
          rows.foreach { l =>
            val date = java.time.LocalDate.ofEpochDay(epochDay(l.l_shipdate))
            val f = Tpch.Flags.indexOf(l.l_returnflag)
            if (date.getYear == y)
              cells(f)(date.getMonthValue - 1) ::= l.l_quantity
          }
          val months = (0 until 12).map(m =>
            dayNode(java.time.LocalDate.of(y, m + 1, 1).toEpochDay))
          cube(Seq("flag", "month"), Seq(Tpch.Flags, months), Seq(
            "count" -> cells.toIndexedSeq.map(_.toIndexedSeq.map(c =>
              c.size.toLong: Any)),
            "qty" -> cells.toIndexedSeq.map(_.toIndexedSeq.map(c =>
              if (c.isEmpty) null else c.sum: Any))))
        case "quantity_by_status" =>
          val cells = Array.fill(10, 2)(List.empty[Double])
          d.lineitem.foreach { l =>
            if (l.l_extendedprice >= a(0) && l.l_tax <= a(1) &&
                l.l_quantity >= 0 && l.l_quantity < 50) {
              val b = math.floor(l.l_quantity / 5).toInt
              cells(b)(Tpch.LineStatuses.indexOf(l.l_linestatus)) ::=
                l.l_extendedprice
            }
          }
          cube(Seq("qty", "status"),
            Seq((0 until 10).map(_ * 5.0), Tpch.LineStatuses), Seq(
              "count" -> cells.toIndexedSeq.map(_.toIndexedSeq.map(c =>
                c.size.toLong: Any)),
              "avg_price" -> cells.toIndexedSeq.map(_.toIndexedSeq.map(c =>
                if (c.isEmpty) null else c.sum / c.size: Any))))
        case "priority_by_quarter" =>
          val y = a(1).toInt
          val rows = d.orders.filter(_.o_totalprice >= a(0))
          val freq = rows.groupBy(_.o_orderpriority).view.mapValues(_.length)
          val domain = freq.toSeq.sortBy { case (v, n) => (-n, v) }
            .take(10).map(_._1)
          val minSec = java.time.LocalDate.of(y, 1, 1).toEpochDay * 86400L
          val maxSec = java.time.LocalDate.of(y + 1, 1, 1).toEpochDay * 86400L
          val step = 13L * 604800L
          val n = math.ceil((maxSec - minSec).toDouble / step).toInt
          val cells = Array.fill(domain.size, n)(List.empty[Double])
          rows.foreach { o =>
            val s = o.o_orderdate.getEpochSecond
            val p = domain.indexOf(o.o_orderpriority)
            if (p >= 0 && s >= minSec && s < maxSec)
              cells(p)(((s - minSec) / step).toInt) ::= o.o_totalprice
          }
          cube(Seq("priority", "quarter"),
            Seq(domain, (0 until n).map(k => dayNode((minSec + k * step) / 86400L))),
            Seq(
              "count" -> cells.toIndexedSeq.map(_.toIndexedSeq.map(c =>
                c.size.toLong: Any)),
              "pct" -> cells.toIndexedSeq.map(_.toIndexedSeq.map(c =>
                percentile(c, a(2))))))
        case "customer_totals" =>
          val rows = d.orders.filter(_.o_totalprice >= a(0))
          val totals = rows.groupBy(_.o_custkey).view
            .mapValues(_.map(_.o_totalprice).sum).toMap
          table(Seq("o_orderkey", "o_custkey", "cust_total"),
            rows.toSeq.sortBy(o => (-totals(o.o_custkey), o.o_orderkey))
              .take(10).map(o => Seq[Any](o.o_orderkey, o.o_custkey,
                totals(o.o_custkey))))
        case "price_percentiles" =>
          val g = d.lineitem
            .filter(l => l.l_extendedprice >= a(0) && l.l_discount < a(1))
            .groupBy(l => (l.l_returnflag, l.l_linestatus))
          table(Seq("l_returnflag", "l_linestatus", "pct", "count"),
            g.keys.toSeq.sorted.map { k =>
              Seq[Any](k._1, k._2, percentile(g(k).map(_.l_extendedprice).toSeq, a(2)),
                g(k).length.toLong)
            })
      }
    }
  }

  /** Rows in a rendered answer: list/table rows, or cube cells. */
  def resultRows(answer: JsonNode): Long =
    if (answer.has("domains"))
      answer.get("domains").elements.asScala.map(_.size.toLong).product
    else Option(answer.get("data")).map(_.size.toLong).getOrElse(0L)

  private def dayOf(n: JsonNode): Option[Long] =
    if (n.isNumber) Some(Math.floorDiv(n.asLong, 86400000L))
    else if (n.isTextual && n.asText.length >= 10)
      scala.util.Try(java.time.LocalDate.parse(n.asText.take(10)).toEpochDay)
        .toOption
    else None

  private def numEq(e: Double, a: Double): Boolean =
    math.abs(e - a) <= 1e-6 + 1e-9 * math.abs(e)

  /** None when `actual` matches `expected`; otherwise the first
    * difference, as a JSON path and the two values. Numbers match within
    * a relative 1e-9 (sums over doubles depend on summation order);
    * a missing object field matches null (JSON rendering drops nulls). */
  def diff(expected: JsonNode, actual: JsonNode, path: String = "$")
      : Option[String] = {
    def miss = Some(s"$path: expected $expected, got $actual")
    val a = if (actual == null) nf.nullNode() else actual
    if (expected.isTextual && expected.asText.startsWith("@day:"))
      if (dayOf(a).contains(expected.asText.drop(5).toLong)) None else miss
    else if (expected.isNull) if (a.isNull) None else miss
    else if (expected.isNumber)
      if (a.isNumber && numEq(expected.asDouble, a.asDouble)) None else miss
    else if (expected.isTextual)
      if (a.isTextual && a.asText == expected.asText) None else miss
    else if (expected.isArray)
      if (!a.isArray || a.size != expected.size)
        Some(s"$path: expected ${expected.size} elements, got " +
          (if (a.isArray) a.size.toString else a.toString))
      else (0 until expected.size).iterator
        .flatMap(i => diff(expected.get(i), a.get(i), s"$path[$i]")).nextOption()
    else if (expected.isObject)
      if (!a.isObject) miss
      else {
        val keys = (expected.fieldNames.asScala ++ a.fieldNames.asScala).toSet
        keys.toSeq.sorted.iterator.flatMap { k =>
          val e = Option(expected.get(k)).getOrElse(nf.nullNode())
          diff(e, a.get(k), s"$path.$k")
        }.nextOption()
      }
    else if (expected.equals(a)) None
    else miss
  }

  def parse(text: String): JsonNode = mapper.readTree(text)
}
