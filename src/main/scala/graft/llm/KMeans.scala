package graft.llm

import graft.operators.{Lifecycle, Local}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over an embedding column — the clustering
  * step the SemDeDup recipe and a learned IVF quantizer actually train
  * with (the deterministic lowest-id quantizer in [[Similarity]] is
  * the INIT; this refines it).
  *
  * Shape per iteration, chosen for 100 TB:
  *  - ASSIGN is row-local: score every vector against the broadcast
  *    centroid array ([[Similarity.assignCells]]) — no shuffle;
  *  - UPDATE is a (cell, dim) grouped mean: posexplode to N·d narrow
  *    rows, but the groupBy key cardinality is only k·d, so map-side
  *    partial aggregation reduces each task's contribution to k·d
  *    rows BEFORE the shuffle — the exchange moves k·d·tasks rows,
  *    not N·d. The corpus is never collected and never re-shuffled.
  *  - the driver holds only the k×d centroid table between rounds
  *    (broadcast back as a literal single-row frame, same explicit
  *    (cent_id asc) ordering discipline as the PQ codebook).
  *
  * Empty cells keep their previous centroid (the standard Lloyd
  * convention that avoids k shrinking mid-run). */
object KMeans {

  /** Deterministic init: the k lowest-id vectors as the broadcastable
    * single-row centroid frame (the same coarse quantizer SemDedup and
    * the IVF paths start from). */
  def init(emb: DataFrame, id: Column, vec: Column, k: Int): DataFrame = {
    val c = emb.select(id.as("vec_id"), vec.cast("array<double>").as("cv"))
    Similarity.centroids(c, k)
  }

  /** (cell, dim, c) per-cell per-dimension means of `vec` under the
    * given single-row centroid frame — ONE Lloyd update step, exposed
    * for differential testing (q101). `dim` is 1-based. */
  def updateStep(emb: DataFrame, id: Column, vec: Column,
                 cents: DataFrame): DataFrame = {
    val c = emb.select(id.as("vec_id"), vec.cast("array<double>").as("cv"))
    Similarity.assignCells(c, cents, "cv", "cell", 1)
      .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "x")))
      .groupBy(col("cell"), (col("pos") + 1).as("dim"))
      .agg(avg(col("x")).as("c"))
  }

  /** Rebuild the broadcastable single-row centroid frame from (cell,
    * dim, c) rows — explicit (cent_id asc, dim asc) ordering via
    * array_sort, never collect_list arrival order. Package-visible so
    * [[SemDedup]] and [[Similarity]] can consume a fitted table
    * through the same assignment path as the lowest-id quantizer. */
  private[llm] def centroidRow(means: DataFrame): DataFrame =
    means.groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        col("c")))), s => s.getField("c")).as("centroid"))
      .agg(array_sort(collect_list(struct(
        col("cell").cast("long").as("cent_id"),
        col("centroid")))).as("__cents"))

  /** `iters` Lloyd rounds from the deterministic lowest-id init;
    * returns the final (cell, dim, c) centroid table. Each round is
    * one row-local assign + one k·d-keyed aggregation; empty cells
    * inherit the previous round's centroid.
    *
    * The returned frame is localCheckpoint-backed (the checkpoint cuts
    * the iterative lineage); when a long-running session is done with
    * it, free the executor blocks with [[Lifecycle.release]]. */
  def fit(emb: DataFrame, id: Column, vec: Column,
          k: Int, iters: Int): DataFrame = {
    require(iters > 0, "k-means needs at least one Lloyd round")
    val c = emb.select(id.as("vec_id"), vec.cast("array<double>").as("cv"))
    // DRIVER FAST PATH (guide §1.2 — a bounded fit loop pays 2+ jobs
    // per Lloyd round regardless of data size): the (id, vector) table
    // is pulled in ONE job under the driver byte budget (rows × dims
    // doubles are what the bytes count, so a high-dim corpus is gated
    // by its real size) and the loop replays in-memory. BIT-IDENTICAL
    // only when every vector element is integer-valued: per-(cell,
    // dim) avg() sums are then EXACT doubles in any order, and the
    // row-local cosine assignment replays the same fused loop —
    // exactly the property the oracles already rely on (the q107
    // lloydRoundSql precedent). Non-integer embeddings or a corpus
    // past the budget fall through to the distributed loop unchanged
    // (checked AFTER the collect, so the gate inspects the actual
    // data, not an assumption). KMeansSpec pins local ≡ distributed
    // incl. zero vectors and empty cells.
    val collected =
      if (c.schema("vec_id").dataType != org.apache.spark.sql.types.LongType)
        None
      else Local.collectWithin(c)
    collected.foreach { raw =>
      val clean = !raw.exists(r => r.isNullAt(0) || r.isNullAt(1) ||
        r.getAs[scala.collection.Seq[Any]](1).exists(_ == null))
      if (clean && raw.nonEmpty) {
        val rows = raw.map { r =>
          (r.getLong(0),
            r.getAs[scala.collection.Seq[Double]](1).toArray) }
        val integral = rows.forall(_._2.forall(x => x == math.rint(x)))
        // exact-sum bound: with Σ|x| < 2^53 per (cell, dim) every
        // partial sum is an exactly-representable integer, so the
        // distributed avg() and the local loop agree bit-for-bit in
        // ANY summation order (conservative: n·max|x| bounds Σ|x|)
        val maxAbs = rows.iterator.flatMap(_._2.iterator)
          .map(math.abs).foldLeft(0.0)(math.max)
        val d0 = rows.head._2.length
        if (integral && rows.length.toDouble * maxAbs < 9.0e15 &&
            d0 > 0 && rows.forall(_._2.length == d0))
          return fitLocal(emb.sparkSession, rows, k, iters)
      }
    }
    var cents = Similarity.centroids(c, k)
    var means: DataFrame = null
    var lastCp: DataFrame = null
    for (_ <- 0 until iters) {
      val prev = cents
      val stepped = updateStep(emb, id, vec, prev)
      // densify: cells that lost all members keep their old centroid
      val prevRows = prev.select(explode(col("__cents")).as("ct"))
        .select(col("ct.cent_id").cast("int").as("cell"),
          posexplode(col("ct.centroid")).as(Seq("pos", "x")))
        .select(col("cell"), (col("pos") + 1).as("dim"),
          col("x").as("c_prev"))
      // localCheckpoint the k·d-row means each round: without it the
      // next round's plan nests this one's (iterative-lineage blowup,
      // the connectedComponents lesson); the frame is tiny, the cut
      // is what matters. Superseded checkpoints are freed eagerly.
      means = prevRows.join(stepped, Seq("cell", "dim"), "left")
        .select(col("cell"), col("dim"),
          coalesce(col("c"), col("c_prev")).as("c"))
        .localCheckpoint()
      if (lastCp != null) Lifecycle.release(lastCp)
      lastCp = means
      cents = centroidRow(means)
    }
    means
  }

  /** [[fit]] replayed on the driver over collected (id, vector) rows
    * of INTEGER-VALUED vectors: init = the k lowest-id vectors;
    * per round a row-local cosine argmax (ties to the LOWER cent_id;
    * a null/NaN cosine sorts FIRST, matching Spark's asc-nulls-first
    * struct ordering in assignCells' array_sort) and per-(cell, dim)
    * means as exact integer-sum ratios; empty cells keep their
    * previous centroid. Every double op replays the distributed
    * plan's fused-loop kernel exactly. */
  private def fitLocal(spark: org.apache.spark.sql.SparkSession,
                       rows: Array[(Long, Array[Double])],
                       k: Int, iters: Int): DataFrame = {
    val d = rows.head._2.length
    val sorted = rows.sortBy(_._1)
    val kk = math.min(k, sorted.length)
    // (cent_id, centroid) ordered by cent_id asc — the init quantizer
    val centIds: Array[Long] = sorted.take(kk).map(_._1)
    var cents: Array[Array[Double]] = sorted.take(kk).map(_._2.clone())
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i); val y = b(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val dn = math.sqrt(na) * math.sqrt(nb)
      if (dn > 0) dot / dn else Double.NaN
    }
    var means: Array[Array[Double]] = null
    for (_ <- 0 until iters) {
      // assign: min over (negcos, cent_id), NaN→null sorts first
      val sums = Array.fill(kk, d)(0.0)
      val counts = new Array[Long](kk)
      rows.foreach { case (_, v) =>
        var best = -1
        var bestNeg = 0.0
        var bestNull = false
        var ci = 0
        while (ci < kk) {
          val cos = cosine(v, cents(ci))
          val isNull = cos.isNaN
          val neg = -cos
          val better =
            if (best < 0) true
            else if (isNull != bestNull) isNull // null < any value
            else if (!isNull && neg != bestNeg) neg < bestNeg
            else false // equal key: earlier (lower) cent_id wins
          if (better) { best = ci; bestNeg = neg; bestNull = isNull }
          ci += 1
        }
        counts(best) += 1L
        var j = 0
        while (j < d) { sums(best)(j) += v(j); j += 1 }
      }
      // update: avg = sum / count; empty cells keep prev centroid
      means = Array.tabulate(kk) { ci =>
        if (counts(ci) == 0L) cents(ci).clone()
        else {
          val m = new Array[Double](d)
          var j = 0
          while (j < d) {
            m(j) = sums(ci)(j) / counts(ci).toDouble; j += 1 }
          m
        }
      }
      cents = means
    }
    import scala.jdk.CollectionConverters._
    val out = for (ci <- 0 until kk; j <- 0 until d)
      yield org.apache.spark.sql.Row(
        centIds(ci).toInt, j + 1, means(ci)(j))
    spark.createDataFrame(out.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("dim",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** Final cluster assignment under a fitted (cell, dim, c) table. */
  def assign(emb: DataFrame, id: Column, vec: Column,
             means: DataFrame): DataFrame = {
    val c = emb.select(id.as("vec_id"), vec.cast("array<double>").as("cv"))
    Similarity.assignCells(c, centroidRow(means), "cv", "cell", 1)
  }
}
