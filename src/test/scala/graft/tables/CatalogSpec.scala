package graft.tables

import java.nio.file.{Files, Path, Paths}

import graft.{Scratch, Service, SparkSpec, TestSpark}
import graft.sources.TableLog
import org.apache.spark.sql.functions._

/** `Catalog` (through `TableLog.read`) resolves a table to the schema
  * Spark's own inference gives it, and reads TIMESTAMP(NANOS) columns,
  * which Spark's reader rejects, as microsecond timestamps — from a
  * plain parquet directory and from a sink table's manifest alike. */
class CatalogSpec extends SparkSpec {

  // 2024-01-01T00:00:00.123456789Z, 2024-01-02T12:00:00.000000999Z,
  // 2024-01-03T00:00:00.5Z
  private val nanos = Seq(1704067200123456789L, 1704196800000000999L,
    1704240000500000000L)
  private val micros = nanos.map(_ / 1000)

  private def writeNanos(file: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(groups.newGroup().append("id", i + 1L).append("ts", ns))
    } finally w.close()
  }

  private def check(dir: String): Unit = {
    val t = new Catalog(spark, dir).table("t")
    assert(t.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(t.orderBy("id").select(unix_micros(col("ts"))).collect()
      .map(_.getLong(0)).toSeq === micros)
    val answer = Service.query(spark, dir,
      """{"from": "t", "where": {"gte": ["ts", {"date": "2024-01-02"}]},
          "select": [{"aggregate": "count", "name": "n"},
                     {"value": "id", "aggregate": "min", "name": "first"}],
          "format": "list"}""")
    assert(answer.replace(" ", "") === """{"data":[{"n":2,"first":2}]}""")
  }

  test("TIMESTAMP(NANOS) in a plain parquet directory reads as " +
      "truncated micros and filters through JX") {
    val dir = Scratch.dir("graft_nanos")
    Files.createDirectories(dir.resolve("t.parquet"))
    writeNanos(dir.resolve("t.parquet/part-0.parquet"))
    check(dir.toString)
  }

  test("TIMESTAMP(NANOS) in a sink table reads exactly its manifest's " +
      "files") {
    val dir = Scratch.dir("graft_nanos")
    val table = dir.resolve("t.parquet")
    Files.createDirectories(table)
    writeNanos(table.resolve("part-0.parquet"))
    TableLog.commit(table.toString)(identity)
    // a file no manifest lists is not part of the table
    writeNanos(table.resolve("stray.parquet"))
    check(dir.toString)
  }

  test("every test-data table resolves to the schema Spark infers for " +
      "it") {
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val dir = Paths.get(TestSpark.sfDir).resolveSibling(sf).toString
      val catalog = new Catalog(spark, dir)
      assert(catalog.baseTables.size === 10, s"$dir: tables missing")
      catalog.baseTables.foreach { t =>
        assert(catalog.table(t).schema ===
          spark.read.parquet(s"$dir/$t.parquet").schema, s"$sf/$t")
      }
    }
  }

  test("a Spark-written table with nested, decimal, date, timestamp, " +
      "binary columns and a k=v partition resolves to Spark's schema and " +
      "rows, as a plain directory and as a manifest table") {
    val dir = Scratch.dir("graft_schema").toString
    val path = s"$dir/t.parquet"
    spark.range(0, 6).select(
      col("id"),
      struct(col("id").as("a"),
        struct(concat(lit("c"), col("id")).as("c")).as("inner")).as("s"),
      array(struct(col("id").as("x"), lit("y").as("y"))).as("arr"),
      map(lit("k"), col("id")).as("m"),
      (col("id") + lit(BigDecimal("12345.0123456789")))
        .cast("decimal(38,10)").as("dec"),
      expr("date_add(date'2024-01-02', cast(id as int))").as("d"),
      expr("timestamp'2024-01-02 03:04:05.123456' + make_interval(0, 0, 0, " +
        "cast(id as int))").as("ts"),
      expr("timestamp_ntz'2024-01-02 03:04:05.123456'").as("ntz"),
      expr("cast(concat('b', id) as binary)").as("bin"),
      expr("id % 2").as("k"))
      .write.partitionBy("k").parquet(path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.toJSON.collect().sorted.toSeq
    val expected = spark.read.parquet(path)
    assert(expected.schema.fieldNames.last === "k")
    def check(): Unit = {
      val t = new Catalog(spark, dir).table("t")
      assert(t.schema === expected.schema)
      assert(rows(t) === rows(expected))
    }
    check()
    TableLog.commit(path)(identity)
    assert(TableLog.generation(path) === 1L)
    check()
  }
}
