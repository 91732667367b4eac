package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit,
  TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileFormat,
  HadoopFsRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The commit log of a sink table, and the one reader of every table:
  * this object decides which files make up a table and which schema
  * they are read with (the Spark form of the reference's atomic
  * Elasticsearch alias switch, SURVEY.md §2a S5/S6; Delta and Iceberg
  * keep the same kind of snapshot log). [[read]] turns a table path
  * into a frame for [[graft.tables.Catalog]], [[Sinks.read]] and
  * [[graft.operators.Staged]]; `EventStream.readTable` takes its schema
  * from the same footer step.
  *
  * A table is its data files plus `<table>/_graft_log/<n>`: manifest
  * `n` lists the live files, one path relative to the table per line.
  * A commit writes manifest `n+1` under a temporary name and publishes
  * it with one atomic rename, so a reader sees manifest `n` or `n+1`,
  * never a half-made table. The manifest number is the table's
  * generation. Writers stage their files in a `_staging-<uuid>`
  * directory, which Spark's listing skips like every `_`-prefixed
  * name, and move them into the table before the commit that lists
  * them.
  *
  * A file a commit drops stays on disk for [[GraceMillis]] after that
  * commit, so a request still reading the older manifest finishes; a
  * later commit deletes it, together with the manifests only it
  * depended on. A table no commit has touched yet (plain Spark output,
  * or a single file) reads as its directory listing; its first commit
  * bootstraps that listing as manifest 0.
  *
  * One writer per table; there is no time travel. */
object TableLog {
  val Dir = "_graft_log"

  /** How long a dropped file outlives the commit that dropped it:
    * longer than any request that may still read the older manifest. */
  val GraceMillis: Long = 10L * 60 * 1000

  private def logDir(root: String): Path = Paths.get(root, Dir)

  /** The newest manifest's number, or -1 when the table has none. */
  def generation(root: String): Long =
    Option(logDir(root).toFile.list()).fold(-1L)(
      _.flatMap(_.toLongOption).maxOption.getOrElse(-1L))

  /** The files of generation `g` relative to `root`; for `g < 0`, the
    * data files a directory listing finds. */
  def files(root: String, g: Long): Vector[String] =
    if (g < 0) listed(Paths.get(root))
    else Files.readAllLines(logDir(root).resolve(g.toString))
      .asScala.toVector.filter(_.nonEmpty)

  /** The files of the newest generation. */
  def live(root: String): Vector[String] = files(root, generation(root))

  /** Data files under `dir`, by Spark's listing rule: a path element
    * starting with `.`, or with `_` and holding no `=`, is not data. */
  private def listed(dir: Path): Vector[String] =
    if (!Files.isDirectory(dir)) Vector.empty
    else Using.resource(Files.walk(dir)) { s =>
      s.iterator.asScala.filter(Files.isRegularFile(_)).map(dir.relativize)
        .filter(_.iterator.asScala.map(_.toString).forall(n =>
          !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))))
        .map(_.toString).toVector.sorted
    }

  /** Run `write` into a fresh staging directory under `root`, move the
    * data files it wrote into the table (partition subdirectories
    * kept) and return their paths relative to `root`. The files are
    * not live until a [[commit]] lists them. */
  def stage(root: String)(write: String => Unit): Vector[String] = {
    bootstrap(root)
    val staging = Paths.get(root, s"_staging-${java.util.UUID.randomUUID()}")
    try {
      write(staging.toString)
      val written = listed(staging)
      written.foreach { f =>
        val to = Paths.get(root, f)
        Files.createDirectories(to.getParent)
        Files.move(staging.resolve(f), to, StandardCopyOption.ATOMIC_MOVE)
      }
      written
    } finally org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
  }

  /** The newest generation, after giving a table no commit has touched
    * yet its manifest 0 from the directory listing — before any staged
    * file moves in. */
  private def bootstrap(root: String): Long = generation(root) match {
    case -1 =>
      Files.createDirectories(logDir(root))
      publish(root, 0, listed(Paths.get(root)))
      0L
    case g => g
  }

  /** Publish `next(live files)` as the next manifest, then delete what
    * the grace period no longer protects. Returns the new generation. */
  def commit(root: String)(next: Vector[String] => Seq[String]): Long = {
    val g = bootstrap(root)
    publish(root, g + 1, next(files(root, g)))
    collect(root)
    g + 1
  }

  private def publish(root: String, n: Long, files: Seq[String]): Unit = {
    val tmp = logDir(root).resolve(s".$n.tmp")
    Files.write(tmp, files.asJava)
    Files.move(tmp, logDir(root).resolve(n.toString),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Manifest `k` is retired once manifest `k+1` is older than the
    * grace period: no request can still be reading it. Its files that
    * `k+1` dropped are deleted with it. */
  private def collect(root: String): Unit = {
    val cutoff = System.currentTimeMillis() - GraceMillis
    val gens = logDir(root).toFile.list().flatMap(_.toLongOption).sorted
    gens.zip(gens.drop(1)).iterator
      .takeWhile { case (_, k1) => Files.getLastModifiedTime(
        logDir(root).resolve(k1.toString)).toMillis < cutoff }
      .foreach { case (k, k1) =>
        (files(root, k).toSet -- files(root, k1))
          .foreach(f => Files.deleteIfExists(Paths.get(root, f)))
        Files.delete(logDir(root).resolve(k.toString))
      }
  }

  /** The table at `path` as of its newest commit, and that commit's
    * generation (-1: no manifest): the one place that turns a table
    * path into a frame. Its files are the newest manifest's list, else
    * the directory's [[listed]] files, else `path` when it is one file.
    * A parquet schema comes from the footer of the first file by path,
    * the file Spark's non-merging inference opens, read on the driver:
    * resolving starts no Spark job. json, csv and orc infer theirs. */
  def read(spark: SparkSession, path: String, format: String = "parquet",
           options: Map[String, String] = Map.empty): (DataFrame, Long) = {
    val root = Paths.get(path).toAbsolutePath.normalize
    val g = generation(path)
    val paths =
      if (Files.isRegularFile(root)) Vector(root)
      else files(path, g).map(root.resolve)
    (scan(spark, root, paths, format, options), g)
  }

  /** Read exactly `files` under `root` through a file index built from
    * the list (Spark would list more than `spark.sql.sources
    * .parallelPartitionDiscovery.threshold` explicit paths in a job).
    * Partition columns come from `k=v` directories under `root`. */
  private[sources] def scan(spark: SparkSession, root: Path, files: Seq[Path],
                            format: String = "parquet",
                            options: Map[String, String] = Map.empty)
      : DataFrame = {
    def hadoopPath(p: Path) =
      new HPath("file", null, p.toAbsolutePath.normalize.toString)
    val statuses = files.map { f =>
      val file = f.toFile
      if (!file.isFile) throw new java.io.FileNotFoundException(
        s"$file is listed as part of the table but missing")
      new FileStatus(file.length, false, 1, 32L << 20, file.lastModified,
        hadoopPath(f))
    }
    val fileFormat: FileFormat = format match {
      case "parquet" => new ParquetFileFormat
      case "json"    => new JsonFileFormat
      case "csv"     => new CSVFileFormat
      case "orc"     => new OrcFileFormat
      case other => throw new IllegalArgumentException(
        s"unsupported table format: $other")
    }
    def noSchema = new IllegalArgumentException(
      s"no schema: $root has no live $format files")
    val (dataSchema, nanos) =
      if (format == "parquet")
        footerSchema(spark, files.minByOption(_.toString).getOrElse(throw noSchema))
      else (nullable(fileFormat.inferSchema(spark, options, statuses)
        .getOrElse(throw noSchema)), Nil)
    val index = new ListedFileIndex(spark, hadoopPath(root), statuses, options)
    micros(spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, dataSchema, None, fileFormat, options)(spark)),
      nanos)
  }

  /** The data schema of parquet `file` as Spark's inference reads it from
    * one footer (TIMESTAMP(NANOS) as long nanos, every field nullable),
    * and the names of its top-level TIMESTAMP(NANOS) columns. */
  private[graft] def footerSchema(spark: SparkSession, file: Path)
      : (StructType, Seq[String]) = {
    val hpath = new HPath(file.toUri)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(hpath, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val conf = spark.sessionState.conf.clone()
    conf.setConfString(NanosAsLong, "true")
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(hpath, footer), new ParquetToSparkSchemaConverter(conf))
    val nanos = footer.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if Option(f.getLogicalTypeAnnotation).exists {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      } => f.getName
    }.toSeq
    (nullable(schema), nanos)
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** `df` with its TIMESTAMP(NANOS) columns, which Spark's parquet
    * reader rejects unless it reads them as long nanos, turned into
    * microsecond timestamps. Integer `div`, not `/` (DOUBLE division
    * rounds the microsecond): it truncates like a native nanos reader
    * for post-epoch values; a pre-1970 one comes out 1 µs later. */
  private[graft] def micros(df: DataFrame, nanos: Seq[String]): DataFrame =
    if (nanos.isEmpty) df
    else {
      df.sparkSession.conf.set(NanosAsLong, "true")
      nanos.foldLeft(df)((d, c) =>
        d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000"))))
    }

  /** `s` with every field, element and map value nullable, as Spark
    * makes a file source's data schema. */
  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType => MapType(nullableType(m.keyType),
      nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** A file index over a known file list (Spark's own
    * `MetadataLogFileIndex` is the same shape over its sink log). */
  private final class ListedFileIndex(spark: SparkSession, root: HPath,
      statuses: Seq[FileStatus], options: Map[String, String])
      extends PartitioningAwareFileIndex(spark, options, None) {
    override protected val leafFiles =
      scala.collection.mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)
    override protected val leafDirToChildrenFiles =
      statuses.toArray.groupBy(_.getPath.getParent)
    private lazy val spec = inferPartitioning()
    override def partitionSpec(): PartitionSpec = spec
    override def rootPaths: Seq[HPath] = Seq(root)
    override def refresh(): Unit = ()
  }
}
