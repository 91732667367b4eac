package graft

import org.apache.spark.sql.SparkSession
import graft.jx.{Formats, JxQuery, QueryParser, Runner}
import graft.tables.Catalog

/** The reference's user-facing surface is a query service: POST a JX
  * JSON query, get a JSON result in the requested format (SURVEY.md
  * §3.2/§3.3). This is that surface minus HTTP: JSON string in, JSON
  * string out, with the reference's `format` semantics:
  *
  *  - "list":  {"data": [ {row...}, ... ]}
  *  - "table": {"header": [...], "data": [ [...], ... ]}
  *  - "cube":  {"edges": [...], "domains": [...], "data": {name: cube}}
  *
  * Only the (small) result is serialized on the driver; the reference's
  * service-level default limit (ActiveData defaults to 10 —
  * SURVEY.md §2g O2) is applied here, NOT in the engine, exactly like
  * the reference.
  *
  * Requests take no lock: each renders its whole result before
  * returning, so no frame it planned outlives it.
  */
object Service {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  val DefaultLimit = 10000L

  def query(spark: SparkSession, dir: String, json: String): String =
    query(spark, dir, json, Map.empty)

  /** Service entry with REGISTERED VIEWS: operator-output frames
    * (e.g. [[graft.llm.QualityModel.classify]] scores, a
    * [[graft.llm.SemDedup.semanticDedup]] survivor set) become
    * queryable JX tables for this call — the q106 composition exposed
    * at the service surface, so a pipeline can publish its stages to
    * ad-hoc queries without a parquet round-trip. */
  def query(spark: SparkSession, dir: String, json: String,
            views: Map[String, org.apache.spark.sql.DataFrame]): String = {
    val q0 = QueryParser.parse(json)
    // service-level default limit for un-limited NON-EDGES queries.
    // The reference applies its default to setop queries only, but an
    // un-limited groupby over a high-cardinality key would collect
    // every group onto the driver (render() serializes the whole
    // result) — so the raw-groupby aggregate path gets the same cap: a
    // driver-protection bound, not engine semantics. EDGES queries are
    // exempt: their output is bounded by the declared/derived domain
    // (DefaultDomain caps at its own limit), and Formats.toCube
    // requires a DENSE input — an injected limit would hand toCube an
    // arbitrary plan-dependent row subset and corrupt the cube. toCube
    // itself now fails loudly on non-dense input as a backstop.
    // an explicit user limit on a cube is a contradiction: the runner
    // would truncate the dense output to an arbitrary plan-dependent
    // row subset and toCube's density backstop would then fail with a
    // low-level shape error — reject it here with the actual reason
    // (the reference applies limits to setop results only)
    if (q0.format == "cube" && q0.limit.nonEmpty)
      throw new IllegalArgumentException(
        "limit is not supported with format:cube — a cube is shaped by " +
          "its edge domains (bound it by narrowing the domains); " +
          "limit applies to list/table formats only")
    val q = if (q0.limit.isEmpty && q0.edges.isEmpty)
      q0.copy(limit = Some(DefaultLimit)) else q0
    val catalog = new Catalog(spark, dir)
    views.foreach { case (n, df) => catalog.register(n, df) }
    val runner = new Runner(spark, catalog)
    render(runner, q)
  }

  private def render(runner: Runner, q: JxQuery): String = {
    val root = mapper.createObjectNode()
    Formats.shaped(runner, q) match {
      case df: org.apache.spark.sql.DataFrame =>
        val rows = df.toJSON.collect()
        val arr = root.putArray("data")
        rows.foreach(r => arr.add(mapper.readTree(r)))
      case t: Formats.JxTable =>
        val header = root.putArray("header")
        t.header.foreach(header.add)
        val data = root.putArray("data")
        t.data.foreach { r =>
          val row = data.addArray()
          r.foreach(v => row.addPOJO(v))
        }
      case c: Formats.JxCube =>
        val edges = root.putArray("edges")
        c.edgeNames.foreach(edges.add)
        val domains = root.putArray("domains")
        c.domains.foreach { d =>
          val dd = domains.addArray()
          d.foreach(v => dd.addPOJO(v))
        }
        val data = root.putObject("data")
        c.data.foreach { case (name, cube) =>
          data.putPOJO(name, deepList(cube))
        }
    }
    mapper.writeValueAsString(root)
  }

  /** IndexedSeq cube -> java Lists so Jackson serializes nested arrays. */
  private def deepList(v: Any): Any = v match {
    case s: IndexedSeq[_] =>
      val l = new java.util.ArrayList[Any]()
      s.foreach(x => l.add(deepList(x)))
      l
    case other => other
  }
}
