package graft

import graft.jx.Runner
import graft.tables.Catalog

/** CLI entry for ad-hoc JX queries — the Spark analog of POSTing a JX JSON
  * query to the reference's query service.
  *
  * Usage: runMain graft.JxMain <sfDir> '<jx-query-json>'|@<file> [--plan]
  * Prints the JSON answer [[Service.query]] gives for the request (same
  * default limit and format checks) and, with --plan, the formatted
  * physical plan of the query.
  */
object JxMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JxMain <sfDir> <jx-query-json> [--plan]")
    val spark = MainSession.start()
    try {
      val json =
        if (args(1).startsWith("@"))
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(args(1).drop(1))), "UTF-8")
        else args(1)
      println(Service.query(spark, args(0), json))
      if (args.contains("--plan"))
        new Runner(spark, new Catalog(spark, args(0))).run(json)
          .explain("formatted")
    } finally spark.stop()
  }
}
