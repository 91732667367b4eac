package graft
import org.apache.spark.sql.SparkSession

/** Physical-plan census over every query — join strategy counts,
  * exchange counts, cartesian products, unprotected global windows —
  * so "is this the plan you'd want at 100x scale" is a table, not 292
  * manual explains. The census is both a dev harness (this main) and
  * a permanent CI gate ([[graft.PlanAuditSpec]] asserts zero plan
  * errors / cartesians / global windows on every `sbt test`).
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.01"
  */
object PlanAudit {

  /** Census token order: Exchange, BHJ, SMJ, BNLJ, CartesianProduct,
    * Window, whole-stage-codegen spans. "*(" is the codegen span
    * marker in executedPlan.toString (the string "WholeStageCodegen"
    * only appears in formatted explain). */
  val tokens: Seq[String] = Seq("Exchange", "BroadcastHashJoin",
    "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "Window ", "*(")

  final case class Census(name: String, counts: Seq[Int],
                          globalWins: Int, error: Option[String]) {
    def cartesians: Int = counts(tokens.indexOf("CartesianProduct"))
  }

  /** Build one query's plan and count the census tokens. Never
    * throws: a plan-construction failure is reported as
    * `error = Some(...)` so the caller can decide (the spec fails the
    * build; the main prints PLAN-ERROR). */
  def censusOne(spark: SparkSession, sfDir: String, name: String,
                fn: (SparkSession, String) =>
                  org.apache.spark.sql.DataFrame): Census =
    try {
      val df = fn(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString
      Census(name,
        tokens.map(t => p.sliding(t.length).count(_ == t)),
        globalWindows(df.queryExecution.optimizedPlan), None)
    } catch { case e: Throwable =>
      Census(name, tokens.map(_ => 0), 0,
        Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val spark = MainSession.start()
    println(f"${"query"}%-26s ${tokens.map(_.take(9)).mkString(" ")} GLOBWIN")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      censusOne(spark, sfDir, name, fn) match {
        case Census(_, _, _, Some(err)) =>
          println(f"$name%-26s PLAN-ERROR ${err.take(60)}")
        case c =>
          println(f"$name%-26s ${c.counts.map(n => f"$n%9d").mkString(" ")} " +
            f"${c.globalWins}%7d")
      }
      MainSession.cleanup(spark)
    }
    spark.stop()
  }

  /** Count partition-less Windows NOT protected by a limit beneath them
    * — the "single task sorts the whole table" anti-shape. Windows over
    * an already-limited frame (top-k then rank) are fine. */
  def globalWindows(
      lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      GlobalLimit, LocalLimit, Window => LWindow}
    lp.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
        !w.child.exists {
          case _: GlobalLimit | _: LocalLimit => true
          case _ => false
        } => w
    }.length
  }
}
