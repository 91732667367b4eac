package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table resolver over a directory of parquet files — the Spark analog of
  * the reference's container/namespace (public repo `vendor/jx_base/
  * container.py`, `snowflake.py`; SURVEY.md §2 data model).
  *
  * Snowflake semantics: `table("task.artifacts")` — a dot-path whose prefix
  * is a base table and whose suffix digs into nested array-of-struct
  * columns — yields the EXPLODED nested level (one row per array element),
  * like JX `from: "task.artifacts"`. Parent scalar columns are retained
  * (prefixed) so nested queries can still reference ancestors.
  *
  * Every base table is read by [[graft.sources.TableLog.read]]: a
  * table is a file list plus the schema of its first file's footer. A
  * sink table resolves to exactly the files of its newest manifest, so
  * a query sees one commit's table, never files a later commit dropped
  * or has not yet published; a plain directory resolves to its listing
  * and a single file to itself. TIMESTAMP(NANOS) columns, which
  * Spark's reader rejects, read as microsecond timestamps.
  */
final class Catalog(spark: SparkSession, dir: String) {
  import org.apache.spark.sql.types._
  import Catalog.Resolved

  private val sessionCache = Catalog.resolvedFor(spark)
  private val views = scala.collection.mutable.LinkedHashMap[String, DataFrame]()

  /** Formats a table file/dir may use (S1: the reference reads JSON-lines
    * blocks; parquet is the columnar at-rest form we prefer). */
  private val Extensions = Seq(".parquet", ".orc", ".json", ".jsonl", ".csv")

  def baseTables: Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .flatMap(f => Extensions.find(f.getName.endsWith)
        .map(ext => f.getName.stripSuffix(ext)))
      .distinct.sorted.toSeq
  }

  private def pathOf(base: String): String = {
    val d = new java.io.File(dir)
    Extensions.map(ext => new java.io.File(d, base + ext))
      .find(_.exists())
      .map(_.getAbsolutePath)
      .getOrElse(s"$dir/$base.parquet")
  }

  /** Register an in-session DataFrame as a queryable VIRTUAL table:
    * the JX service/runner path then resolves `name` to this frame
    * like any base table — the hook that exposes operator OUTPUT
    * frames (quality-classifier scores, SemDedup survivors, any
    * pipeline stage) to ad-hoc JX queries without materializing them
    * to parquet first. Dot-path nesting applies to base tables only;
    * a registered name is resolved whole. Registered views are
    * visible to `meta.columns` / `meta.tables` introspection with a
    * `virtual` marker (MetaColumns). */
  def register(name: String, df: DataFrame): Unit = views.put(name, df)

  /** Names registered via [[register]], in registration order. */
  def registeredViews: Seq[String] = views.keys.toSeq

  def table(name: String): DataFrame = views.getOrElse(name, name match {
    // virtual metadata tables, queryable like any other (JX
    // `from: "meta.columns"` — SURVEY.md §2 dynamic schema); they
    // reflect THIS instance's registered views, so never the shared
    // session cache
    case "meta.columns" => graft.meta.MetaColumns.table(spark, this)
    case "meta.tables"  => graft.meta.MetaColumns.tables(spark, this)
    case _              => base(name)
  })

  /** BASE-table resolution is shared SESSION-wide (guide §6: file
    * listing / footer reads are driver-side, single-threaded work): a
    * 414-query sweep re-resolves the same handful of static files
    * thousands of times. Resolving is one [[graft.sources.TableLog.read]]:
    * the table's file list, one parquet footer open on the driver for
    * the schema and its TIMESTAMP(NANOS) columns, and a file index over
    * the list; it starts no Spark job for a parquet table. The cache
    * holds one entry per table: the LAZY plan (file paths + schema,
    * never data) and the generation it was resolved at. A sink table is
    * re-resolved as soon as a newer manifest exists, so readers follow
    * commits without any writer telling them; checking costs one
    * directory read per call (a failed one for a table no commit has
    * touched). */
  private def base(name: String): DataFrame =
    sessionCache.compute(s"$dir $name", (_, old) =>
      if (old != null &&
          old.generation == graft.sources.TableLog.generation(old.path)) old
      else resolve(name)).df

  private def resolve(name: String): Resolved = {
    val parts = name.split('.').toList
    // longest prefix that is a base table
    val baseNames = baseTables.toSet
    val (base, nested) = (1 to parts.length).reverse
      .map(i => (parts.take(i).mkString("."), parts.drop(i)))
      .find { case (b, _) => baseNames.contains(b) }
      .getOrElse(throw new IllegalArgumentException(
        s"unknown table: $name (have: ${baseTables.mkString(", ")})"))
    val path = pathOf(base)
    val format =
      if (path.endsWith(".json") || path.endsWith(".jsonl"))
        "json" // schema inferred from data (JSON-lines S1)
      else if (path.endsWith(".csv")) "csv"
      else if (path.endsWith(".orc")) "orc"
      else "parquet"
    val options =
      if (format == "csv") Map("header" -> "true", "inferSchema" -> "true")
      else Map.empty[String, String]
    val (df, gen) = graft.sources.TableLog.read(spark, path, format, options)
    Resolved(path, gen, nested.foldLeft(df)(explodeLevel))
  }

  /** Drop the session's resolved plan of `name`. No longer needed for
    * correctness: a sink table's commits are picked up by themselves
    * (see [[base]]). Kept only for the callers that still make it. */
  def invalidate(name: String): Unit = sessionCache.remove(s"$dir $name")

  /** Explode one nested array-of-struct level, keeping parent scalars. */
  private def explodeLevel(df: DataFrame, field: String): DataFrame = {
    val keep = df.schema.fields.filterNot(_.name == field)
      .map(f => col(f.name))
    val exploded = df.select((keep :+ explode(col(field)).as("__n"))
      .toIndexedSeq: _*)
    val childCols = exploded.schema.fields.last.dataType match {
      case s: StructType => s.fieldNames.map(n => col(s"__n.$n").as(n)).toSeq
      case _             => Seq(col("__n").as(field))
    }
    exploded.select((keep.toSeq ++ childCols).toIndexedSeq: _*)
  }
}

object Catalog {
  /** A base table's plan, resolved at `generation` of the table at
    * `path` (-1: no manifest). */
  private[graft] final case class Resolved(path: String, generation: Long,
                                           df: DataFrame)

  /** Session-wide resolved-plan cache, keyed "(dir) (name)" inside a
    * weak per-session map (a stopped session's plans must be GC-able
    * — a DataFrame pins its SparkSession). Shared across Catalog
    * INSTANCES because every query helper constructs a fresh Catalog. */
  private val perSession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Resolved]]())

  private[graft] def resolvedFor(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, Resolved] =
    perSession.synchronized {
      var m = perSession.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, Resolved]()
        perSession.put(spark, m)
      }
      m
    }
}
