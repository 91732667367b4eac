package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SQLExecution
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Driver-local execution of bounded inputs. An iterative operator
  * whose input turns out small (a near-dup pair list, a co-occurrence
  * graph, an embedding table) runs fastest on the driver: a fixed-round
  * loop pays a Spark job per round whatever the row count. The DRIVER
  * FAST PATHS of [[graft.llm.Dedup.connectedComponents]], the [[Graph]]
  * loops and [[graft.llm.KMeans.fit]] pull their input with
  * [[collectWithin]] — one job that both sizes and fetches it — and
  * fall back to their distributed loops when it returns `None`.
  */
object Local {

  /** The one driver-collect budget, in encoded row bytes (each row's
    * `UnsafeRow` bytes plus 4): system property `spark.graft.localBytes`,
    * default 64 MiB. Read per call, so a test can force the distributed
    * paths with 0. */
  def budget: Long = java.lang.Long.getLong("spark.graft.localBytes", 64L << 20)

  /** All rows of `df` if they encode to at most [[budget]] bytes, else
    * `None`.
    *
    * Runs ONE Spark job (after whatever shuffle stages the plan needs)
    * inside a SQL execution, as `Dataset.collect` does, so AQE and job
    * listeners see it. Each task encodes its rows (length-prefixed
    * `UnsafeRow` bytes, as `Dataset.collect` ships them) until they pass
    * its cap, then stops reading and returns nothing. The driver cancels
    * the job as soon as a task comes back empty-handed or the running
    * total passes the budget, so tasks not yet started never run.
    *
    * A task's cap is the budget, lowered to half of
    * `spark.driver.maxResultSize` split over the partitions, so the
    * bytes the driver receives are at most
    * min(partitions × budget, maxResultSize / 2) and the scheduler never
    * aborts the job for its result size. A skewed input with one
    * partition past that share falls back although its total fits. An
    * input past the budget costs the partitions computed before the
    * cancel, and is computed again by the caller's fallback. */
  def collectWithin(df: DataFrame): Option[Array[Row]] = {
    val maxBytes = budget
    val qe = df.queryExecution
    val numFields = df.schema.length
    var parts: Array[Array[Byte]] = null
    var total = 0L
    @volatile var over = false
    @volatile var job: org.apache.spark.FutureAction[Unit] = null
    SQLExecution.withNewExecutionId(qe, Some("collectWithin")) {
      val rdd = qe.executedPlan.execute()
      val sc = rdd.sparkContext
      val n = rdd.getNumPartitions
      val maxResult = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
      val cap = if (maxResult > 0) math.min(maxBytes, maxResult / 2 / math.max(n, 1))
                else maxBytes
      parts = new Array[Array[Byte]](n)
      job = sc.submitJob(rdd,
        (it: Iterator[InternalRow]) => {
          val bytes = new ByteArrayOutputStream()
          val out = new DataOutputStream(bytes)
          val buf = new Array[Byte](4096)
          val ctx = org.apache.spark.TaskContext.get()
          // stop too once the driver has cancelled the job
          while (bytes.size <= cap && !ctx.isInterrupted() && it.hasNext) {
            val r = it.next().asInstanceOf[UnsafeRow]
            out.writeInt(r.getSizeInBytes)
            r.writeToStream(out, buf)
          }
          if (bytes.size > cap || ctx.isInterrupted()) null
          else bytes.toByteArray
        },
        0 until n,
        // the scheduler calls this from one thread, one partition at a time
        (i: Int, part: Array[Byte]) => if (!over) {
          if (part != null) total += part.length
          if (part == null || total > maxBytes) {
            over = true
            parts = null
            if (job != null) job.cancel()
          } else parts(i) = part
        },
        ())
      if (over) job.cancel() // tripped before `job` was assigned
      Await.ready(job, Duration.Inf)
      if (!over) job.value.get.get // rethrows a failed job
    }
    if (over) None
    else {
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      val rows = Array.newBuilder[Row]
      parts.foreach { part =>
        val in = new DataInputStream(new ByteArrayInputStream(part))
        while (in.available > 0) {
          val b = new Array[Byte](in.readInt())
          in.readFully(b)
          val r = new UnsafeRow(numFields)
          r.pointTo(b, b.length)
          rows += toRow(r).asInstanceOf[Row]
        }
      }
      Some(rows.result())
    }
  }
}
