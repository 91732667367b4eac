package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed mozlog structured-log transform (SURVEY.md §2k T3; public repo
  * `activedata_etl/transforms/unittest_logs_to_sorted_tuples.py`):
  * `suite_start / test_start / test_status / test_end / suite_end`
  * JSON lines -> one document per test, with the ordered subtest
  * array and a status-priority rollup. Malformed or unknown lines are
  * dropped, never raised (the JX missing-not-error discipline).
  *
  * Spark shape: the line decode + ADT validation is a typed `flatMap`
  * (§2m) — row-local, no shuffle; the per-test assembly is one
  * relational groupBy on the test key whose `collect_list` is bounded
  * by a single test's subtest count, so the transform scales with the
  * log volume, not the test count.
  */
object MozLog {

  /** One normalized mozlog line (flat ADT: `action` discriminates;
    * absent fields are None). */
  final case class Line(action: String, time: Option[Long],
                        test: Option[String], subtest: Option[String],
                        status: Option[String], expected: Option[String])

  val LineSchema: StructType = StructType(Seq(
    StructField("action", StringType),
    StructField("time", LongType),
    StructField("test", StringType),
    StructField("subtest", StringType),
    StructField("status", StringType),
    StructField("expected", StringType)))

  private val KnownActions =
    Set("suite_start", "test_start", "test_status", "test_end", "suite_end")

  /** Typed flatMap parse: JSON line -> zero-or-one [[Line]].
    * `from_json` does the decode; a line it cannot decode whole
    * (malformed JSON, or a field of the wrong type such as a string
    * `time`) lands in the corrupt-record column and is dropped rather
    * than kept with that field null. The flatMap applies the
    * per-action ADT validation — unknown actions, a test_status
    * without test+status, or a test_end without a test drop the
    * line. */
  def parse(lines: DataFrame, line: Column): Dataset[Line] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val corrupt = "_corrupt_record"
    lines.select(from_json(line, LineSchema.add(corrupt, StringType),
        Map("columnNameOfCorruptRecord" -> corrupt)).as("j"))
      .filter(col(s"j.$corrupt").isNull)
      .select(LineSchema.fieldNames.map(n => col(s"j.$n")).toIndexedSeq: _*)
      .as[Line]
      .flatMap { l =>
        if (l.action == null || !KnownActions(l.action)) None
        else l.action match {
          case "test_status" if l.test.isEmpty || l.status.isEmpty => None
          case "test_end" if l.test.isEmpty                        => None
          case _                                                   => Some(l)
        }
      }
  }

  /** mozlog status severity for the worst-status rollup (OK least,
    * CRASH worst; unknown statuses rank above CRASH so they surface). */
  def statusPriority(status: Column): Column =
    when(status.isNull, lit(-1))
      .when(status === "OK", lit(0))
      .when(status === "PASS", lit(1))
      .when(status === "SKIP", lit(2))
      .when(status === "FAIL", lit(3))
      .when(status === "TIMEOUT", lit(4))
      .when(status === "ERROR", lit(5))
      .when(status === "CRASH", lit(6))
      .otherwise(lit(7))

  /** Assemble per-test documents from parsed lines:
    *  - `subtests_csv`: subtest names ordered by (time, name);
    *  - `n_subtests` / `n_failed`: subtest counts (failed = status
    *    differs from its expectation, default expectation PASS);
    *  - `end_status`: the test_end status (latest line wins);
    *  - `status`: worst-status rollup across subtests + test_end;
    *  - `ok`: test_end met its expectation (default OK) and no subtest
    *    failed.
    * One groupBy on the test key: every field is a conditional
    * aggregate over that test's test_status or test_end lines, so the
    * parse runs once and nothing is cached or joined. Tests without a
    * test_end produce no document. */
  def testDocs(events: Dataset[Line]): DataFrame = {
    val isStatus = col("action") === "test_status"
    val isEnd = col("action") === "test_end"
    val endStruct = struct(statusPriority(col("e.status")).as("p"),
      col("e.status").as("s"))
    events.toDF()
      .filter(isStatus || isEnd)
      .groupBy(col("test"))
      .agg(
        array_join(transform(
            array_sort(collect_list(
              when(isStatus, struct(col("time"), col("subtest"))))),
            s => s.getField("subtest")), ",").as("subtests_csv"),
        count(when(isStatus, lit(1))).as("n_subtests"),
        sum(when(isStatus &&
            col("status") =!= coalesce(col("expected"), lit("PASS")), 1L)
          .otherwise(0L)).as("n_failed"),
        max(when(isStatus, struct(statusPriority(col("status")).as("p"),
          col("status").as("s")))).as("__worst_sub"),
        max(when(isEnd, struct(col("time"), col("status"),
          col("expected")))).as("e"))
      .filter(col("e").isNotNull)
      .select(
        col("test"),
        col("n_subtests"),
        col("n_failed"),
        col("e.status").as("end_status"),
        when(col("__worst_sub").isNull, endStruct)
          .otherwise(greatest(col("__worst_sub"), endStruct))
          .getField("s").as("status"),
        ((col("e.status") <=> coalesce(col("e.expected"), lit("OK"))) &&
          col("n_failed") === 0L).as("ok"),
        col("subtests_csv"))
  }
}
