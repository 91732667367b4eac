package graft

/** Dev harness: write `.explain("formatted")` for named queries to
  * files — the before/after plan evidence the optimization rounds
  * commit under plans/.
  *   sbt "runMain graft.PlanDump plans/r15 before q141_pagerank,q205_bfs_hops"
  * writes plans/r15/<name>_before.txt per query. Query names accept
  * prefixes (the Verify/Bench convention).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val prefixes = args(2).split(",").toSeq.filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = MainSession.start()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        val txt =
          try {
            val df = fn(spark, sfDir)
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          } catch { case e: Throwable =>
            s"PLAN-ERROR: ${Option(e.getMessage).getOrElse(e.getClass.getName)}"
          }
        val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
        java.nio.file.Files.writeString(p, txt)
        println(s"[plandump] wrote $p (${txt.length} chars)")
        MainSession.cleanup(spark)
      }
    spark.stop()
  }
}
