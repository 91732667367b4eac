package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink layer (SURVEY.md §2a). The reference's sinks are S3 gzipped
  * JSON-lines blocks keyed by etl id (S2), time-rolled Elasticsearch
  * indexes with retention (S6 rollover), and a fan-out splitter (S7).
  * Spark-first re-expression:
  *
  *  - blocks -> parquet (columnar beats gzip JSON-lines at rest: codegen
  *    scans, pushdown, column pruning) with `partitionBy` as the block
  *    key, json-lines offered for interop;
  *  - rollover -> `partitionBy(date_col)`: writers append to the day's
  *    partition, readers prune by date — retention is dropping partition
  *    directories, and "too-old" docs are filtered at write;
  *  - split -> checkpoint once, write N times (each sink sees identical
  *    data without recomputing the pipeline).
  *
  * Every write to a sink table is one [[TableLog]] commit: the new files
  * are staged, moved in, and published with the next manifest, so a
  * reader through [[graft.tables.Catalog]] or [[read]] sees the table
  * before or after the write and nothing in between, and picks up the
  * new generation by itself. Every table the engine owns is written
  * here: [[writeBlocks]] adds files, [[replace]] rewrites the table,
  * and both take partition columns. Each write first installs
  * [[NioLocalFileSystem]] in the frame's session, so creating the
  * files forks no process.
  */
object Sinks {

  /** S2: append partitioned columnar blocks. */
  def writeBlocks(df: DataFrame, path: String, partitionCols: Seq[String],
                  format: String = "parquet"): Unit =
    append(df.sparkSession, path)(dst =>
      df.write.partitionBy(partitionCols: _*).format(format).save(dst))

  /** S6: time-rolled sink — route rows to `date=YYYY-MM-DD` partitions,
    * dropping docs older than `retainDays` relative to `now`. */
  def writeRollover(df: DataFrame, path: String, ts: Column,
                    retainDays: Int, now: java.sql.Timestamp): Unit = {
    val cutoff = new java.sql.Timestamp(
      now.getTime - retainDays * 86400000L)
    append(df.sparkSession, path)(dst => df.filter(ts >= lit(cutoff))
      .withColumn("__date", date_format(ts, "yyyy-MM-dd"))
      .write.partitionBy("__date").parquet(dst))
  }

  /** Replace a sink table's content with `df` in one commit,
    * partitioned by `partitionCols` like [[writeBlocks]]; the old files
    * stay readable by requests already planned over them. */
  def replace(df: DataFrame, path: String,
              partitionCols: Seq[String] = Nil): Unit = {
    val added = stage(df.sparkSession, path)(dst =>
      df.write.partitionBy(partitionCols: _*).parquet(dst))
    TableLog.commit(path)(_ => added)
  }

  private def append(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val added = stage(spark, path)(write)
    TableLog.commit(path)(_ ++ added)
  }

  /** [[TableLog.stage]] after installing the session's file system. */
  private def stage(spark: SparkSession, path: String)(
      write: String => Unit): Vector[String] = {
    NioLocalFileSystem.install(spark)
    TableLog.stage(path)(write)
  }

  /** S7: fan one computed frame out to several sinks, computing it
    * once; each sink commits on its own. The frame is checkpointed,
    * not persisted: a cached plan keeps its shuffle partitioning, so
    * each sink would write one file per shuffle partition, where the
    * checkpoint holds the partitions AQE coalesced the frame to. */
  def split(df: DataFrame, sinks: Seq[DataFrame => Unit]): Unit = {
    val computed = df.localCheckpoint()
    try sinks.foreach(_(computed))
    finally graft.operators.Lifecycle.release(computed)
  }

  /** The sink table at `path` as of its newest commit (a directory no
    * commit has touched reads as its listing), by [[TableLog.read]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    TableLog.read(spark, path)._1

  /** Compaction — the operational answer to the small-files problem
    * every appending sink (micro-batch streams, per-block writers)
    * accumulates: the live parquet files whose footer row count is
    * below `targetRowsPerFile` are bin-packed into
    * ceil(rows / targetRowsPerFile) files per partition directory, and
    * one commit swaps them for the packed ones. Files at or above the
    * target keep their paths. A packed file holds an equal share of its
    * directory's rows, which is below the target unless the share comes
    * out exact, so the next compaction packs it again with the new
    * small files: in an appending table the cost follows the table's
    * history, and the round-robin `repartition` spreads every batch
    * over every packed file, where min/max statistics cannot prune it
    * (ROADMAP, Direction 1). Content is UNCHANGED — the oracled
    * invariant (q128 reads the compacted table back against the
    * original's oracle); fewer, larger files mean fewer scan tasks and
    * healthier row-group sizes. Returns the live file counts
    * (before, after). */
  def compact(spark: SparkSession, path: String,
              targetRowsPerFile: Long): (Int, Int) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    def rows(f: String): Long = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(Paths.get(path, f).toUri), conf))
      try reader.getRecordCount finally reader.close()
    }
    val live = TableLog.live(path)
    val small = live.map(f => f -> rows(f)).filter(_._2 < targetRowsPerFile)
      .toMap
    def packedCount(fs: Seq[String]): Int = math.max(1L,
      (fs.map(small).sum + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    // pack a directory's small files only where that lowers the count
    val packs = small.keys.toSeq.groupBy(dirOf)
      .filter { case (_, fs) => packedCount(fs) < fs.size }
    if (packs.isEmpty) (live.size, live.size)
    else {
      val packed = packs.values.flatten.toSet
      val added = rewrite(spark, path, packed.toSeq)((dir, df) =>
        df.repartition(packedCount(packs(dir))))
      TableLog.commit(path)(_.filterNot(packed) ++ added)
      (live.size, live.size - packed.size + added.size)
    }
  }

  /** Copy-on-write DELETE by key — the right-to-be-forgotten /
    * retention-enforcement primitive: remove every row whose `keyCol`
    * appears in `victims` by REWRITING ONLY THE FILES THAT CONTAIN A
    * VICTIM. `_metadata.file_path` locates the hit files, and their
    * deleted-row counts, with one victim-broadcast semi-join grouped
    * by file in one job (footer-driven scan of the key column only,
    * row groups pruned by parquet min/max stats where the layout
    * allows — [[graft.operators.ZOrder]] writes exactly that layout);
    * untouched files are never read in full, never rewritten. At
    * 100 TB with clustered keys, deleting a user costs a handful of
    * file rewrites, not a table rewrite. One commit swaps the hit
    * files for their rewrites; the content invariant is oracled
    * end-to-end (q136). Returns (filesRewritten, rowsDeleted). */
  def deleteByKey(spark: SparkSession, path: String,
                  keyCol: String, victims: DataFrame): (Int, Long) = {
    val root = Paths.get(path).toAbsolutePath.normalize
    // read by the hit census and again by every rewrite
    val vict = victims.select(col(keyCol)).distinct().localCheckpoint(false)
    try {
      val hits = read(spark, path)
        .withColumn("__file", col("_metadata.file_path"))
        .join(broadcast(vict), Seq(keyCol), "left_semi")
      val perFile = hits.groupBy(col("__file")).count().collect()
      val hitFiles = perFile.map(r => root.relativize(
          Paths.get(new java.net.URI(r.getString(0)))).toString)
        .sorted.toSeq
      if (hitFiles.isEmpty) (0, 0L)
      else {
        val deleted = perFile.map(_.getLong(1)).sum
        val added = rewrite(spark, path, hitFiles)((_, df) =>
          df.join(broadcast(vict), Seq(keyCol), "left_anti"))
        val hit = hitFiles.toSet
        TableLog.commit(path)(_.filterNot(hit) ++ added)
        (hitFiles.length, deleted)
      }
    } finally graft.operators.Lifecycle.release(vict)
  }

  private def dirOf(f: String): String =
    Option(Paths.get(f).getParent).fold("")(_.toString)

  /** Stage `f(dir, rows)` for each partition directory's share of
    * `files`, read without its partition columns and written back under
    * the same directory, so partition values stay in the path. */
  private def rewrite(spark: SparkSession, path: String, files: Seq[String])(
      f: (String, DataFrame) => DataFrame): Vector[String] =
    stage(spark, path) { dst =>
      files.groupBy(dirOf).foreach { case (dir, fs) =>
        val in = TableLog.scan(spark, Paths.get(path, dir),
          fs.map(Paths.get(path, _)))
        f(dir, in).write.parquet(Paths.get(dst, dir).toString)
      }
    }
}
