package graftbench

import java.time.{Instant, LocalDate}
import org.apache.spark.sql.SparkSession

/** Stateless seeded randomness: every draw is a pure function of
  * (seed, stream, key) — xxhash64(seed, key, stream), exactly as Spark's
  * `xxhash64(lit(seed), key, lit(stream))` computes it — so generators
  * repeat per seed however Spark partitions the work. */
object Rng {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  def long(seed: Long, stream: Long, key: Long): Long =
    XXH64.hashLong(stream, XXH64.hashLong(key, XXH64.hashLong(seed, 42L)))
  def int(seed: Long, stream: Long, key: Long, n: Int): Int =
    java.lang.Math.floorMod(long(seed, stream, key), n.toLong).toInt
  def unit(seed: Long, stream: Long, key: Long): Double =
    (long(seed, stream, key) >>> 11) * (1.0 / (1L << 53))
}

final case class NationRow(n_nationkey: Int, n_name: String,
                           n_regionkey: Int)
final case class SupplierRow(s_suppkey: Long, s_name: String,
                             s_nationkey: Int, s_acctbal: Double)
final case class CustomerRow(c_custkey: Long, c_name: String,
                             c_nationkey: Int, c_acctbal: Double,
                             c_mktsegment: String)
final case class PartRow(p_partkey: Long, p_name: String, p_brand: String,
                         p_type: String, p_size: Int, p_retailprice: Double)
final case class OrderRow(o_orderkey: Long, o_custkey: Long,
                          o_orderstatus: String, o_totalprice: Double,
                          o_orderdate: Instant, o_orderpriority: String)
final case class LineRow(l_orderkey: Long, l_partkey: Long,
                         l_suppkey: Long, l_linenumber: Int,
                         l_quantity: Double, l_extendedprice: Double,
                         l_discount: Double, l_tax: Double,
                         l_returnflag: String, l_linestatus: String,
                         l_shipdate: Instant)

/** TPC-H-shaped tables at sf0.1 row counts. Every column is a [[Rng]]
  * draw over the row key, written by Spark with plain column expressions
  * (whole-stage codegen, no driver-side rows). */
object Tpch {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  val Suppliers = 1000
  val Customers = 15000
  val Parts = 20000
  val Orders = 150000
  val LinesPerOrder = 4
  val Lines: Int = Orders * LinesPerOrder

  val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = Vector("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
    "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  val Types = Vector("ECONOMY ANODIZED STEEL", "LARGE BRUSHED BRASS",
    "MEDIUM POLISHED COPPER", "PROMO BURNISHED NICKEL", "SMALL PLATED TIN",
    "STANDARD ANODIZED COPPER")
  val Colors = Vector("almond", "azure", "blush", "coral", "ivory", "khaki",
    "linen", "olive", "peach", "sienna")
  val Flags = Vector("A", "N", "R")
  val Statuses = Vector("F", "O", "P")
  val LineStatuses = Vector("F", "O")

  /** First order day (1992-01-01) and the span of order dates. */
  val Day0: Long = LocalDate.of(1992, 1, 1).toEpochDay
  val OrderDays = 2557 // through 1998-12-31

  // Rng's draws as Spark columns over a key column
  private def drawCol(seed: Long, stream: Long, key: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), key, lit(stream)), lit(n))
  private def centsCol(seed: Long, stream: Long, key: Column, lo: Long,
                       hi: Long): Column =
    (lit(lo) + drawCol(seed, stream, key, hi - lo + 1)) / lit(100.0)
  private def pick(values: Vector[String], seed: Long, stream: Long,
                   key: Column): Column =
    element_at(array(values.map(lit): _*),
      (drawCol(seed, stream, key, values.size) + 1).cast("int"))

  /** Writes the seven tables as `<dir>/<name>.parquet` directories. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    val id = col("id")
    def day(c: Column): Column = timestamp_seconds(c * lit(86400L))
    // the seven write jobs run concurrently
    val writes = scala.collection.mutable.ArrayBuffer.empty[Thread]
    def save(name: String, rows: Long, first: Long, files: Int)(
        cols: Column*): Unit = {
      val t = new Thread(() =>
        spark.range(first, first + rows, 1, files).select(cols: _*)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet"))
      t.start()
      writes += t
    }
    save("region", Regions.size, 0, 1)(id.cast("int").as("r_regionkey"),
      element_at(array(Regions.map(lit): _*), (id + 1).cast("int")).as("r_name"))
    save("nation", Nations.size, 0, 1)(id.cast("int").as("n_nationkey"),
      element_at(array(Nations.map(lit): _*), (id + 1).cast("int")).as("n_name"),
      drawCol(seed, 1, id, Regions.size).cast("int").as("n_regionkey"))
    save("supplier", Suppliers, 1, 1)(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      drawCol(seed, 2, id, Nations.size).cast("int").as("s_nationkey"),
      centsCol(seed, 3, id, -99999L, 999999L).as("s_acctbal"))
    save("customer", Customers, 1, 1)(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      drawCol(seed, 4, id, Nations.size).cast("int").as("c_nationkey"),
      centsCol(seed, 5, id, -99999L, 999999L).as("c_acctbal"),
      pick(Segments, seed, 6, id).as("c_mktsegment"))
    save("part", Parts, 1, 1)(id.as("p_partkey"),
      concat_ws(" ", pick(Colors, seed, 7, id), pick(Colors, seed, 8, id))
        .as("p_name"),
      concat(lit("Brand#"), drawCol(seed, 9, id, 5) + 1,
        drawCol(seed, 10, id, 5) + 1).as("p_brand"),
      pick(Types, seed, 11, id).as("p_type"),
      (drawCol(seed, 12, id, 50) + 1).cast("int").as("p_size"),
      centsCol(seed, 13, id, 90000L, 209900L).as("p_retailprice"))
    def orderDayCol(o: Column) = lit(Day0) + drawCol(seed, 14, o, OrderDays)
    save("orders", Orders, 0, 4)(id.as("o_orderkey"),
      (drawCol(seed, 15, id, Customers) + 1).as("o_custkey"),
      pick(Statuses, seed, 16, id).as("o_orderstatus"),
      centsCol(seed, 17, id, 100000L, 50000000L).as("o_totalprice"),
      day(orderDayCol(id)).as("o_orderdate"),
      pick(Priorities, seed, 18, id).as("o_orderpriority"))
    val o = (id / LinesPerOrder).cast("long")
    save("lineitem", Lines, 0, 4)(o.as("l_orderkey"),
      (drawCol(seed, 19, id, Parts) + 1).as("l_partkey"),
      (drawCol(seed, 20, id, Suppliers) + 1).as("l_suppkey"),
      (pmod(id, lit(LinesPerOrder.toLong)) + 1).cast("int").as("l_linenumber"),
      (drawCol(seed, 21, id, 50) + 1).cast("double").as("l_quantity"),
      centsCol(seed, 22, id, 90000L, 10000000L).as("l_extendedprice"),
      (drawCol(seed, 23, id, 11) / lit(100.0)).as("l_discount"),
      (drawCol(seed, 24, id, 9) / lit(100.0)).as("l_tax"),
      pick(Flags, seed, 25, id).as("l_returnflag"),
      pick(LineStatuses, seed, 26, id).as("l_linestatus"),
      day(orderDayCol(o) + 1 + drawCol(seed, 27, id, 120)).as("l_shipdate"))
    writes.foreach(_.join())
  }
}

/** The rows [[Tpch.write]] wrote, read back into the driver for the
  * oracle (a plain parquet scan, not a JX path). `lineitem` is in
  * (l_orderkey, l_linenumber) order. */
final class TpchData(spark: SparkSession, dir: String) {
  import org.apache.spark.sql.Encoder
  import org.apache.spark.sql.Encoders.product
  private def rows[T: Encoder](t: String): Array[T] =
    spark.read.parquet(s"$dir/$t.parquet").as[T].collect()
  lazy val nation: Array[NationRow] = rows("nation")(product[NationRow])
  lazy val supplier: Array[SupplierRow] = rows("supplier")(product[SupplierRow])
  lazy val customer: Array[CustomerRow] = rows("customer")(product[CustomerRow])
  lazy val part: Array[PartRow] = rows("part")(product[PartRow])
  lazy val orders: Array[OrderRow] = rows("orders")(product[OrderRow])
  lazy val lineitem: Array[LineRow] = rows("lineitem")(product[LineRow])
    .sortBy(l => (l.l_orderkey, l.l_linenumber))
}

/** One JX request: the template it came from, its literals, its text. */
final case class JxRequest(template: String, args: Vector[Double],
                           text: String)

/** Request generators for the two JX workloads. Each template is a JX
  * query text over the TPC-H-shaped tables; [[Oracle]] answers the same
  * template and literals without going through the JX engine. */
object Requests {
  val PoolSize = 300
  val ZipfExponent = 1.0

  private def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else BigDecimal(d).bigDecimal.stripTrailingZeros.toPlainString

  /** Small requests: selective filters with a limit, group-bys over the
    * dimension tables, list and table formats. */
  def interactive(template: String, a: Vector[Double]): String = {
    val x = a.map(fmt)
    template match {
      case "orders_of_customer" =>
        s"""{"from":"orders","select":["o_orderkey","o_orderstatus","o_totalprice"],"where":{"eq":{"o_custkey":${x(0)}}},"sort":"o_orderkey","limit":10,"format":"list"}"""
      case "lines_of_orders" =>
        s"""{"from":"lineitem","select":["l_orderkey","l_linenumber","l_quantity","l_returnflag"],"where":{"and":[{"gte":{"l_orderkey":${x(0)}}},{"lt":{"l_orderkey":${fmt(a(0) + 5)}}}]},"sort":["l_orderkey","l_linenumber"],"format":"table"}"""
      case "suppliers_by_nation" =>
        s"""{"from":"supplier","groupby":["s_nationkey"],"select":[{"aggregate":"count"},{"value":"s_acctbal","aggregate":"sum","name":"acctbal"}],"where":{"gt":{"s_acctbal":${x(0)}}},"sort":"s_nationkey","format":"table"}"""
      case "customers_by_segment" =>
        s"""{"from":"customer","groupby":["c_mktsegment"],"select":[{"aggregate":"count"},{"value":"c_acctbal","aggregate":"max","name":"max_bal"}],"where":{"eq":{"c_nationkey":${x(0)}}},"sort":"c_mktsegment","format":"list"}"""
      case "parts_by_brand" =>
        s"""{"from":"part","groupby":["p_brand"],"select":[{"aggregate":"count"},{"value":"p_retailprice","aggregate":"avg","name":"avg_price"}],"where":{"eq":{"p_size":${x(0)}}},"sort":"p_brand","format":"table"}"""
      case "nations_of_region" =>
        s"""{"from":"nation","select":["n_nationkey","n_name"],"where":{"eq":{"n_regionkey":${x(0)}}},"sort":"n_nationkey","format":"list"}"""
      case "top_customers" =>
        s"""{"from":"customer","select":["c_custkey","c_name","c_acctbal"],"where":{"and":[{"eq":{"c_nationkey":${x(0)}}},{"gt":{"c_acctbal":${x(1)}}}]},"sort":[{"value":"c_acctbal","sort":-1},"c_custkey"],"limit":5,"format":"list"}"""
    }
  }

  val InteractiveTemplates = Vector("orders_of_customer", "lines_of_orders",
    "suppliers_by_nation", "customers_by_segment", "parts_by_brand",
    "nations_of_region", "top_customers")

  private def interactiveArgs(seed: Long, t: String, k: Long): Vector[Double] =
    t match {
      case "orders_of_customer" =>
        Vector(1.0 + Rng.int(seed, 101, k, Tpch.Customers))
      case "lines_of_orders" =>
        Vector(Rng.int(seed, 102, k, Tpch.Orders - 5).toDouble)
      case "suppliers_by_nation" =>
        Vector(Rng.int(seed, 103, k, 1000) * 10.0 - 1000.0)
      case "customers_by_segment" =>
        Vector(Rng.int(seed, 104, k, Tpch.Nations.size).toDouble)
      case "parts_by_brand" =>
        Vector(1.0 + Rng.int(seed, 105, k, 50))
      case "nations_of_region" =>
        Vector(Rng.int(seed, 106, k, Tpch.Regions.size).toDouble)
      case "top_customers" =>
        Vector(Rng.int(seed, 107, k, Tpch.Nations.size).toDouble,
          Rng.int(seed, 108, k, 90) * 100.0)
    }

  /** The seeded template x literal pool, in popularity-rank order.
    * Templates take turns down the ranks, so every seed sends the same
    * template mix and only the literals (and hence the answers) differ. */
  def interactivePool(seed: Long): Vector[JxRequest] =
    Vector.tabulate(PoolSize) { k =>
      val t = InteractiveTemplates(k % InteractiveTemplates.size)
      val a = interactiveArgs(seed, t, k)
      JxRequest(t, a, interactive(t, a))
    }

  /** Client `client`'s request sequence: Zipf(ZipfExponent) draws over the
    * pool ranks, so popular texts repeat and the tail stays cold. */
  final class ZipfStream(seed: Long, client: Int, pool: Vector[JxRequest]) {
    private val cdf = {
      val w = (1 to pool.size).map(r => 1.0 / math.pow(r, ZipfExponent))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private var i = 0L
    def next(): JxRequest = {
      val u = Rng.unit(seed, 200 + client, i)
      i += 1
      val r = java.util.Arrays.binarySearch(cdf, u)
      pool(math.min(if (r >= 0) r else -r - 1, pool.size - 1))
    }
  }

  /** Whole-table requests: edges over set/range/time/default domains in
    * cube format, a window, and percentile aggregates. `i` (the request's
    * position in the run) enters a literal, so no text ever repeats. */
  val AnalyticTemplates = Vector("flag_by_month", "quantity_by_status",
    "priority_by_quarter", "customer_totals", "price_percentiles")

  def analytic(seed: Long, i: Long): JxRequest = {
    val t = AnalyticTemplates(Rng.int(seed, 300, i, AnalyticTemplates.size))
    val price = 1000.0 + i + Rng.int(seed, 301, i, 100) / 100.0
    val year = 1992 + Rng.int(seed, 302, i, 7)
    val a = t match {
      case "flag_by_month" =>
        Vector(price, year.toDouble, Rng.int(seed, 303, i, 6) / 100.0)
      case "quantity_by_status" =>
        Vector(price, Rng.int(seed, 304, i, 9) / 100.0)
      case "priority_by_quarter" =>
        Vector(price * 10, year.toDouble,
          Vector(0.5, 0.9, 0.99)(Rng.int(seed, 305, i, 3)))
      case "customer_totals" => Vector(price * 100)
      case "price_percentiles" =>
        Vector(price * 10, Rng.int(seed, 306, i, 10) / 100.0 + 0.01,
          Vector(0.25, 0.5, 0.9, 0.95)(Rng.int(seed, 307, i, 4)))
    }
    JxRequest(t, a, analyticText(t, a))
  }

  def analyticText(t: String, a: Vector[Double]): String = {
    val x = a.map(fmt)
    t match {
      case "flag_by_month" =>
        val y = a(1).toInt
        s"""{"from":"lineitem","edges":[{"name":"flag","value":"l_returnflag","domain":{"type":"set","partitions":["A","N","R"]}},{"name":"month","value":"l_shipdate","domain":{"type":"time","min":"$y-01-01","max":"${y + 1}-01-01","interval":"month"}}],"select":[{"aggregate":"count"},{"value":"l_quantity","aggregate":"sum","name":"qty"}],"where":{"and":[{"gte":{"l_extendedprice":${x(0)}}},{"gte":{"l_discount":${x(2)}}}]},"format":"cube"}"""
      case "quantity_by_status" =>
        s"""{"from":"lineitem","edges":[{"name":"qty","value":"l_quantity","domain":{"type":"range","min":0,"max":50,"interval":5}},{"name":"status","value":"l_linestatus","domain":{"type":"set","partitions":["F","O"]}}],"select":[{"aggregate":"count"},{"value":"l_extendedprice","aggregate":"avg","name":"avg_price"}],"where":{"and":[{"gte":{"l_extendedprice":${x(0)}}},{"lte":{"l_tax":${x(1)}}}]},"format":"cube"}"""
      case "priority_by_quarter" =>
        val y = a(1).toInt
        s"""{"from":"orders","edges":[{"name":"priority","value":"o_orderpriority","domain":{"type":"default","limit":10}},{"name":"quarter","value":"o_orderdate","domain":{"type":"time","min":"$y-01-01","max":"${y + 1}-01-01","interval":"13week"}}],"select":[{"aggregate":"count"},{"value":"o_totalprice","aggregate":"percentile","percentile":${x(2)},"name":"pct"}],"where":{"gte":{"o_totalprice":${x(0)}}},"format":"cube"}"""
      case "customer_totals" =>
        s"""{"from":"orders","where":{"gte":{"o_totalprice":${x(0)}}},"window":[{"name":"cust_total","value":"o_totalprice","aggregate":"sum","edges":["o_custkey"]}],"sort":[{"value":"cust_total","sort":-1},"o_orderkey"],"limit":10,"select":["o_orderkey","o_custkey","cust_total"],"format":"table"}"""
      case "price_percentiles" =>
        s"""{"from":"lineitem","groupby":["l_returnflag","l_linestatus"],"select":[{"value":"l_extendedprice","aggregate":"percentile","percentile":${x(2)},"name":"pct"},{"aggregate":"count"}],"where":{"and":[{"gte":{"l_extendedprice":${x(0)}}},{"lt":{"l_discount":${x(1)}}}]},"sort":["l_returnflag","l_linestatus"],"format":"table"}"""
    }
  }
}

/** One mozlog batch plus the values the generator planted in it. */
final case class LogBatch(index: Int, lines: Vector[String], tests: Long,
                          subtests: Long, failed: Long, malformed: Long) {
  def bytes: Long = lines.iterator.map(_.getBytes("UTF-8").length + 1L).sum
}

/** Seeded mozlog JSON-line batches: suite_start, per test a test_start,
  * its test_status lines and a test_end, suite_end — with a planted
  * share of malformed lines the parser must drop. */
object MozLogGen {
  val TestsPerBatch = 150

  private def q(s: String): String = "\"" + s + "\""

  def batch(seed: Long, b: Int): LogBatch = {
    val r = new java.util.SplittableRandom(Rng.long(seed, 400, b))
    val out = Vector.newBuilder[String]
    var time = 1500000000000L + b * 10000000L
    def tick(): Long = { time += 1 + r.nextInt(50); time }
    var subtests, failed, malformed = 0L
    def junk(test: String): String = r.nextInt(5) match {
      case 0 => s"""{"action":"test_status","time":${tick()},"test":${q(test)},"subtest":"trunc"""
      case 1 => "INFO - harness heartbeat " + r.nextInt(100000)
      case 2 => s"""{"action":"log","time":${tick()},"message":"m${r.nextInt(1000)}"}"""
      case 3 => s"""{"action":"test_status","time":${tick()},"test":${q(test)},"subtest":"s"}"""
      case _ => s"""{"action":"test_end","time":${tick()},"status":"OK"}"""
    }
    out += s"""{"action":"suite_start","time":${tick()},"tests":$TestsPerBatch}"""
    for (t <- 0 until TestsPerBatch) {
      val test = s"/b$b/test_$t.html"
      out += s"""{"action":"test_start","time":${tick()},"test":${q(test)}}"""
      for (s <- 0 until r.nextInt(9)) {
        val (status, expected) = r.nextInt(20) match {
          case k if k < 14 => ("PASS", None)
          case k if k < 17 => ("FAIL", None)
          case 17          => ("FAIL", Some("FAIL"))
          case _           => ("TIMEOUT", None)
        }
        if (status != expected.getOrElse("PASS")) failed += 1
        subtests += 1
        val exp = expected.map(e => s""","expected":${q(e)}""").getOrElse("")
        out += s"""{"action":"test_status","time":${tick()},"test":${q(test)},"subtest":"sub_$s","status":${q(status)}$exp}"""
        if (r.nextInt(25) == 0) { out += junk(test); malformed += 1 }
      }
      val end = Vector("OK", "OK", "OK", "ERROR", "TIMEOUT")(r.nextInt(5))
      out += s"""{"action":"test_end","time":${tick()},"test":${q(test)},"status":${q(end)}}"""
      if (r.nextInt(25) == 0) { out += junk(test); malformed += 1 }
    }
    out += s"""{"action":"suite_end","time":${tick()}}"""
    LogBatch(b, out.result(), TestsPerBatch, subtests, failed, malformed)
  }
}

/** One document batch: (id, text) rows and the planted structure. */
final case class DocBatch(index: Int, ids: Vector[Long], texts: Vector[String],
                          survivors: Set[Long], duplicates: Set[Long],
                          filler: Set[Long])

/** Seeded document batches for the dedup pipeline: high-quality base
  * documents, exact copies of some, near-duplicate variants of others
  * (a few token substitutions, Jaccard well above 0.8), and short
  * punctuation filler that fails the quality floor. Every base id is the
  * smallest id of its cluster, so the expected survivors are exactly the
  * base documents. */
object DocGen {
  val Base = 300
  val ExactCopies = 30
  val NearClusters = 30
  val VariantsPerCluster = 2
  val Filler = 30
  val PerBatch: Int = Base + ExactCopies + NearClusters * VariantsPerCluster +
    Filler

  private val Stopwords = Vector("the", "and", "of", "to", "in", "is", "that",
    "it", "was", "for")

  private def word(seed: Long, k: Int): String = {
    val r = new java.util.SplittableRandom(Rng.long(seed, 500, k))
    val n = 4 + r.nextInt(5)
    (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  def batch(seed: Long, b: Int): DocBatch = {
    val vocab = Vector.tabulate(3000)(k => word(seed, k))
    val r = new java.util.SplittableRandom(Rng.long(seed, 501, b))
    def token(): String =
      if (r.nextInt(10) < 3) Stopwords(r.nextInt(Stopwords.size))
      else vocab(r.nextInt(vocab.size))
    val id0 = b.toLong * 100000L
    val base = Vector.fill(Base)(Vector.fill(130 + r.nextInt(40))(token()))
    val rows = Vector.newBuilder[(Long, String)]
    base.zipWithIndex.foreach { case (t, k) => rows += ((id0 + k, t.mkString(" "))) }
    var next = id0 + Base
    val dups = Set.newBuilder[Long]
    for (_ <- 0 until ExactCopies) {
      rows += ((next, base(r.nextInt(Base)).mkString(" "))); dups += next
      next += 1
    }
    for (_ <- 0 until NearClusters) {
      val src = base(r.nextInt(Base))
      for (_ <- 0 until VariantsPerCluster) {
        // two substitutions in ~150 tokens change at most 6 of the ~150
        // 3-shingles per side: Jaccard stays above 0.9
        var v = src
        for (_ <- 0 until 2) v = v.updated(r.nextInt(v.size), vocab(r.nextInt(vocab.size)))
        rows += ((next, v.mkString(" "))); dups += next
        next += 1
      }
    }
    val filler = Set.newBuilder[Long]
    for (k <- 0 until Filler) {
      rows += ((next, s"!! ?? ;; x$k ##")); filler += next
      next += 1
    }
    // seeded shuffle so input order says nothing about the clusters
    val all = rows.result()
    val order = all.indices.sortBy(i => Rng.long(seed, 502 + b, i))
    val shuffled = order.map(all).toVector
    DocBatch(b, shuffled.map(_._1), shuffled.map(_._2),
      (0 until Base).map(id0 + _).toSet, dups.result(), filler.result())
  }
}
