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
  * A sink table (one with a [[graft.sources.TableLog]]) resolves to
  * exactly the files of its newest manifest, so a query sees one
  * commit's table, never files a later commit dropped or has not yet
  * published; any other table reads as Spark lists its directory.
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
    * listing / footer reads are driver-side, single-threaded work):
    * resolving a table costs a directory listing, a parquet footer
    * open (nano-timestamp detection), schema inference and a file
    * index build, and a 414-query sweep re-resolves the same handful
    * of static files thousands of times. The cache holds one entry per
    * table: the LAZY plan (file paths + schema, never data) and the
    * [[graft.sources.TableLog]] generation it was resolved at. A sink
    * table is re-resolved as soon as a newer manifest exists, so
    * readers follow commits without any writer telling them; checking
    * costs one directory read per call (a failed one for a table no
    * commit has touched). */
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
    val gen = graft.sources.TableLog.generation(path)
    def read(format: String, options: (String, String)*) =
      graft.sources.TableLog.read(spark, path, gen, format, options.toMap)
    val df =
      if (path.endsWith(".json") || path.endsWith(".jsonl"))
        read("json") // schema inferred from data (JSON-lines S1)
      else if (path.endsWith(".csv"))
        read("csv", "header" -> "true", "inferSchema" -> "true")
      else if (path.endsWith(".orc")) read("orc")
      else readParquet(path, gen, read("parquet"))
    Resolved(path, gen, nested.foldLeft(df)(explodeLevel))
  }

  /** Read parquet, transparently handling TIMESTAMP(NANOS) columns (which
    * Spark's vectorized reader rejects): such columns are read as long
    * nanos via the legacy flag and converted to TimestampType (micros).
    * Column detection is from the parquet footer of one live file — no
    * per-table hardcoding, works for any source file. */
  private def readParquet(path: String, gen: Long,
                          read: => DataFrame): DataFrame = {
    val f = new java.io.File(path)
    val first =
      if (!f.isDirectory) Some(f)
      else graft.sources.TableLog.files(path, gen)
        .find(_.endsWith(".parquet")).map(new java.io.File(f, _))
    val nanos = first.fold(Seq.empty[String])(nanoTimestampCols)
    if (nanos.isEmpty) read
    else {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      nanos.foldLeft(read) { (d, c) =>
        // integer `div`, not `/`: long / long is DOUBLE division in Spark
        // and rounds the microsecond (53-bit mantissa) — truncation must
        // match the engines that read the nanos natively.
        // NOTE: `div` truncates toward zero, which equals floor division
        // only for POST-EPOCH timestamps; pre-1970 nanos would round up
        // one microsecond vs a native nanos reader (use a pmod-adjusted
        // floordiv if pre-epoch data ever enters scope)
        d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
      }
    }
  }

  /** Names of top-level TIMESTAMP(NANOS) columns per the parquet footer. */
  private def nanoTimestampCols(file: java.io.File): Seq[String] = {
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf))
    try {
      import scala.jdk.CollectionConverters._
      reader.getFooter.getFileMetaData.getSchema.getFields.asScala.collect {
        case field if Option(field.getLogicalTypeAnnotation).exists {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == TimeUnit.NANOS
          case _ => false
        } => field.getName
      }.toSeq
    } finally reader.close()
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
