package graft.llm

import graft.operators.Lifecycle
import graft.sources.Sinks
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  *  - [[cosine]] is pure higher-order-function column math (zip_with +
  *    aggregate) — codegen'd, no UDF;
  *  - [[bruteForceTopK]] is the exact baseline: broadcast the (small)
  *    query set against the corpus, rank per query — one pass over the
  *    corpus, no corpus shuffle;
  *  - [[lshBuckets]] is the scale path: `tables` independent sets of
  *    random-hyperplane sign bits bucket the corpus so only
  *    same-(table, bucket) vectors are compared (the IVF analog with
  *    hash cells instead of centroids); single-table bucketing has
  *    p^planes recall per neighbor — measured 0.05 on the synthetic
  *    embeddings — so multi-table is the default, not an option.
  *    Hyperplanes derive from a fixed seed (native fused-loop kernel,
  *    graft.functions.lsh_buckets) — deterministic across runs and
  *    executors.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d),
      (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, x) => acc + x))

  /** Native fused-loop cosine (graft.functions.CosineSim): same formula
    * as dot/(norm*norm) with left-to-right double accumulation, so it is
    * bit-identical to the HOF form and to DuckDB's double-list cosine —
    * but codegen'd instead of interpreted lambdas. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.cosine_sim(a, b)

  /** Exact top-k neighbours for each query vector. `queries` must be
    * small (it is broadcast); the corpus is scanned once, never shuffled
    * except the final per-query top-k (partitioned by query id). */
  def bruteForceTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                     queries: DataFrame, queryId: Column, queryVec: Column,
                     k: Int): DataFrame = {
    // double-precision math: float dot products differ across engines at
    // ~1e-7, too close to the rounding grain for stable comparisons
    val c = corpus.select(corpusId.as("vec_id"),
      corpusVec.cast("array<double>").as("cv"))
    val q = queries.select(queryId.as("query_id"),
      queryVec.cast("array<double>").as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("cv"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"),
              round(col("cosine"), 6).as("cosine"))
  }

  /** IVF-style approximate search: a deterministic coarse quantizer
    * (the `nlist` lowest-id vectors act as centroids) partitions the
    * corpus by nearest centroid; queries probe their `nprobe` nearest
    * cells. Cell assignment is ROW-LOCAL array math against the
    * broadcast centroid array (one single-row broadcast crossJoin, no
    * shuffle, no window): per row, score all centroids, `array_sort`
    * by (cosine desc, cent_id asc), take the first `n`. At 100 TB the
    * assignment is computed once at ingest and stored as a partition
    * column, making probe queries partition-pruned scans. */
  def ivfTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val c = corpus.select(corpusId.as("vec_id"),
      corpusVec.cast("array<double>").as("cv"))
    // single-row DF holding the centroid array — broadcast to every
    // task; struct sort order = field order: (-cosine) asc ≡ cosine
    // desc, then cent_id asc — same tie-break as a window rank
    val cents = centroids(c, nlist)
    val assigned = assignCells(c, cents, "cv", "cell", 1)
    val q = assignCells(
      queries.select(queryId.as("query_id"),
        queryVec.cast("array<double>").as("qv")),
      cents, "qv", "cell", nprobe)
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("cv"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"),
              round(col("cosine"), 6).as("cosine"))
  }

  /** Materialize the IVF index as a CELL-PARTITIONED parquet table —
    * the 100 TB form of [[ivfTopK]]'s claim that "assignment is
    * computed once at ingest and stored as a partition column". Each
    * corpus vector is written under `cell=<nearest centroid>/`; probe
    * queries then read only their `nprobe` cell directories
    * (partition-pruned scans — the filter never touches the other
    * cells' files). Same deterministic coarse quantizer as ivfTopK
    * (the `nlist` lowest-id vectors), so the two agree cell-for-cell. */
  def ivfWriteIndex(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                    path: String, nlist: Int = 16): Unit = {
    val c = corpus.select(corpusId.as("vec_id"),
      corpusVec.cast("array<double>").as("cv"))
    writeIndexWith(c, centroids(c, nlist), path)
  }

  /** FITTED-quantizer index write: same layout and sidecar, centroids
    * from a [[KMeans.fit]] (cell, dim, c) table instead of the
    * lowest-id vectors. Because probes read the quantizer from the
    * sidecar, [[ivfProbeIndexed]] works unchanged — and cell balance
    * (hence per-probe scan cost) follows the fitted clustering, which
    * is what keeps cells even on data where the lowest-id quantizer
    * degenerates (measured in BENCHMARKS.md). */
  def ivfWriteIndexFitted(corpus: DataFrame, corpusId: Column,
                          corpusVec: Column, path: String,
                          means: DataFrame): Unit = {
    val c = corpus.select(corpusId.as("vec_id"),
      corpusVec.cast("array<double>").as("cv"))
    writeIndexWith(c, KMeans.centroidRow(means), path)
  }

  private def writeIndexWith(c: DataFrame, cents: DataFrame,
                             path: String): Unit = {
    val assigned = assignCells(c, cents, "cv", "cell", 1)
    // one file per cell, not (tasks × cells) small files
    Sinks.replace(assigned.repartition(col("cell")), path, Seq("cell"))
    // centroid SIDECAR: probes must not pay a full-index orderBy+limit
    // just to rebuild nlist rows the writer already had. The
    // underscore prefix keeps the subdir out of the index's listing,
    // so it is its own table and reading the index is unaffected.
    Sinks.replace(cents, path + "/_centroids")
  }

  /** Probe a materialized IVF index: per query, score only the rows of
    * its `nprobe` nearest cells. The cell filter is a PARTITION filter
    * on the index table (directory pruning at the source), so the scan
    * cost is nprobe/nlist of the corpus regardless of corpus size —
    * the property [[SimilaritySpec]] asserts on the physical plan. */
  def ivfProbeIndexed(spark: org.apache.spark.sql.SparkSession,
                      path: String,
                      queries: DataFrame, queryId: Column, queryVec: Column,
                      k: Int, nlist: Int = 16, nprobe: Int = 4)
      : DataFrame = {
    val (index, cents) = readIndex(spark, path, nlist)
    val q = assignCells(
      queries.select(queryId.as("query_id"),
        queryVec.cast("array<double>").as("qv")),
      cents, "qv", "cell", nprobe)
    val wanted = q.select(col("cell")).distinct().collect()
      .map(_.getInt(0))
    // literal IN-list on the partition column -> directory pruning;
    // the broadcast q side then matches per-cell candidates
    val pruned = index.filter(col("cell").isin(wanted.toIndexedSeq: _*))
    val scored = pruned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("cv"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"),
              round(col("cosine"), 6).as("cosine"))
  }

  /** A materialized index and its quantizer, both read with
    * [[Sinks.read]] (no Spark job). The quantizer is the centroid
    * sidecar written at index-build time — WITHOUT it a probe would
    * re-derive the quantizer with an orderBy+limit over the whole
    * index (a full-corpus scan before the pruned scan even starts,
    * breaking the nprobe/nlist cost claim). Indexes written BEFORE the
    * sidecar existed (or whose sidecar was deleted) fall back to that
    * derivation — every pre-sidecar index used the lowest-id
    * quantizer, so the rebuilt centroids match the cells on disk; the
    * warning flags the one-off full scan. Shared by [[ivfProbeIndexed]]
    * and [[SemDedup]]'s incremental paths. */
  private[llm] def readIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String, nlist: Int)
      : (DataFrame, DataFrame) = {
    val index = Sinks.read(spark, path)
    // test for the sidecar instead of letting the read fail: a failed
    // read is a failed query every execution listener reports
    val sidecar = java.nio.file.Paths.get(path, "_centroids")
    val cents =
      if (java.nio.file.Files.isDirectory(sidecar))
        Sinks.read(spark, sidecar.toString)
      else {
        System.err.println(
          s"[graft] no _centroids sidecar under $path — rebuilding " +
            "the lowest-id quantizer with a full-index scan (rewrite " +
            "the index to restore partition-pruned probe cost)")
        centroids(index.select(col("vec_id"), col("cv")), nlist)
      }
    (index, cents)
  }

  /** Single-row DF holding the ordered centroid (id, vector) structs —
    * the deterministic coarse quantizer shared by the IVF paths (and by
    * [[SemDedup]], which buckets with the same quantizer). */
  private[llm] def centroids(c: DataFrame, nlist: Int): DataFrame =
    c.orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id").as("cent_id"), col("cv").as("centroid"))
      .agg(collect_list(struct(col("cent_id"), col("centroid")))
        .as("__cents"))

  /** Row-local nearest-cell assignment against the broadcast centroid
    * array (no shuffle, no window) — shared by ivfTopK and the
    * materialized-index paths. Emits `n` cells per row (exploded). */
  private[llm] def assignCells(df: DataFrame, cents: DataFrame, vec: String,
                               out: String, n: Int): DataFrame = {
    val scored = array_sort(transform(col("__cents"), ct =>
      struct((-cosine(col(vec), ct.getField("centroid"))).as("negcos"),
             ct.getField("cent_id").as("cent_id"))))
    df.crossJoin(broadcast(cents))
      .select(df.columns.map(col) :+
        explode(transform(slice(scored, 1, n),
          s => s.getField("cent_id").cast("int"))).as(out): _*)
  }

  /** Product-quantization (PQ-ADC) approximate top-k — the third ANN
    * path beside [[ivfTopK]] and [[lshTopK]], re-deriving the public
    * Jégou et al. PQ recipe in DataFrame terms:
    *
    *  1. codebook: the `ksub` lowest-id vectors act as sub-centroids
    *     (deterministic coarse quantizer, same trick as ivfTopK);
    *     subspace j of a vector is its j-th of `m` equal slices;
    *  2. encode: each corpus vector becomes `m` small codes (argmin
    *     sub-L2 against the codebook, ties to the lower index) — the
    *     index build; at 100 TB the codes (m bytes/vector) replace the
    *     d-float vector in the scan, which is the point: candidate
    *     scanning reads ~m bytes instead of 4d;
    *  3. ADC scan: per query, a lookup table lut[j][s] = dot(q_j,
    *     cent_j_s) is built query-side (tiny) and broadcast; the
    *     corpus scan scores a pair in m array lookups (zip_with +
    *     element_at), no full-dimension math;
    *  4. the top `refine` ADC candidates per query are re-ranked by
    *     exact cosine, so precision of the output ranking is exact and
    *     only recall is approximate (bounded by the candidate set).
    *
    * Encode and the ADC scan are native fused-loop kernels
    * (graft.functions.pq_encode / adc_score) — the equivalent
    * slice/zip_with HOF chains run interpreted lambdas per
    * sub-centroid per row; the kernels are bit-identical (same
    * accumulation order, same lower-index tie-break) and stay inside
    * whole-stage codegen. The query-side LUT keeps the HOF form
    * (queries are tiny). */
  def pqTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
             queries: DataFrame, queryId: Column, queryVec: Column,
             k: Int, m: Int = 8, ksub: Int = 16, refine: Int = 64)
      : DataFrame = {
    val c = corpus.select(corpusId.as("vec_id"),
      corpusVec.cast("array<double>").as("cv"))
    // codebook as a single broadcast row: ordered sub-centroid vectors.
    // The order is made EXPLICIT (array_sort on (vec_id, vec) structs,
    // vec_id asc) rather than relying on collect_list's arrival order:
    // this subtree is evaluated independently by the encode side and
    // the query-LUT side below, and if the two evaluations ever
    // disagreed on element order the codes would index a
    // differently-ordered LUT — silently corrupting every ADC score.
    val cents = c.orderBy(col("vec_id")).limit(ksub)
      .agg(transform(
        array_sort(collect_list(struct(col("vec_id").as("i"),
          col("cv").as("v")))),
        s => s.getField("v")).as("__cs"))
    def subSlice(v: Column, j: Column): Column = {
      val sub = size(v) / m
      slice(v, j * sub + 1, sub)
    }
    def subDot(a: Column, b: Column, j: Column): Column =
      aggregate(zip_with(subSlice(a, j), subSlice(b, j),
        (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    // encode: m codes per corpus vector (argmin sub-L2, ties -> lower
    // code) via the native kernel
    val encoded = c.crossJoin(broadcast(cents))
      .withColumn("codes",
        graft.functions.pq_encode(col("cv"), col("__cs"), m))
      .select(col("vec_id"), col("cv"), col("codes"))
    // query-side ADC lookup tables: lut[j][s] = dot(q_j, cent_j_s)
    val q = queries.select(queryId.as("query_id"),
        queryVec.cast("array<double>").as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("lut", transform(sequence(lit(0), lit(m - 1)), j =>
        transform(col("__cs"), s => subDot(col("qv"), s, j))))
      .select(col("query_id"), col("qv"), col("lut"))
    // ADC scan: m table lookups per (corpus, query) pair (native)
    val scored = encoded.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc",
        graft.functions.adc_score(col("codes"), col("lut")))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    val cand = scored.withColumn("__r", row_number().over(wAdc))
      .filter(col("__r") <= refine)
    // exact re-rank of the candidate set
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cand.withColumn("cosine", cosine(col("cv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"),
              round(col("cosine"), 6).as("cosine"))
  }

  /** One bucket id per hash table: `tables` independent sets of `planes`
    * hyperplanes (plane index space is partitioned so tables never share
    * a plane). The table tag lives in the bucket's high bits, so a plain
    * equi-join on the bucket value never matches across tables.
    * Native fused-loop expression (graft.functions.LshBuckets) — the
    * HOF/Column formulation costs tables×planes interpreted lambda
    * passes over the vector per row. */
  def lshBuckets(vec: Column, planes: Int, tables: Int): Column =
    graft.functions.lsh_buckets(vec, planes, tables)

  /** Approximate top-k via MULTI-TABLE random-hyperplane LSH: candidates
    * are the union over `tables` hash tables of same-bucket vectors,
    * deduplicated, then exactly re-ranked by cosine. Same output shape as
    * [[bruteForceTopK]].
    *
    * Single-table LSH has recall p^planes per neighbor (p = 1 - θ/π):
    * for moderate-similarity neighbors (θ ≈ 60-80°) that is a few
    * percent — measured 0.05 on the synthetic embeddings. Multi-table
    * boosts it to 1-(1-p^planes)^tables while keeping per-table buckets
    * selective; index cost is ×tables (the standard LSH trade). At
    * 100 TB: the corpus explode is the index build (stored once), the
    * per-(table,bucket) equi-join is shuffle-free on the query side
    * (broadcast), and only deduplicated candidates are scored. */
  def lshTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int, planes: Int = 6, tables: Int = 8): DataFrame = {
    val c = corpus.select(corpusId.as("vec_id"), corpusVec.as("cv"))
      .withColumn("bucket", explode(lshBuckets(col("cv"), planes, tables)))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
      .withColumn("bucket", explode(lshBuckets(col("qv"), planes, tables)))
    val cand = c.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(first(col("cv")).as("cv"), first(col("qv")).as("qv"))
    val scored = cand.withColumn("cosine", cosine(col("cv"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"),
              round(col("cosine"), 6).as("cosine"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    * greedily pick `k` items maximizing
    * `lambda·rel − (1−lambda)·max_{s∈selected} cos(v, v_s)` — the
    * standard retrieval/exemplar diversifier (first pick scores
    * `lambda·rel`: the empty-set similarity term is 0 by convention).
    * Ties break to the smaller id at every step.
    *
    * MMR is sequential BY DEFINITION (each pick conditions on the
    * last), so the driver loops k times — but each round is one
    * distributed scan of the CHECKPOINTED candidate frame cross-joined
    * with the ≤k selected vectors (broadcast, tiny) and a top-1
    * TakeOrdered: cost k·scan with no corpus shuffle, fine for the
    * small k (tens) diversified selection is used with. Candidates
    * can be arbitrarily many rows; only the k winners' vectors ever
    * reach the driver.
    *
    * Determinism for differential verification: the max over selected
    * cosines is order-independent, and with an IEEE-exact `lambda`
    * (default 0.5, so 1−λ ≡ λ bit-for-bit in any engine) the score
    * arithmetic is two exact products and a subtract on
    * engine-identical cosines — q130 hash-compares the full selection
    * against a chained-CTE replay unrounded until display. */
  def mmrSelect(cands: DataFrame, id: Column, vec: Column, rel: Column,
                k: Int, lambda: Double = 0.5): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val base = cands.select(id.cast("long").as("id"),
        vec.cast("array<double>").as("v"), rel.cast("double").as("rel"))
      .localCheckpoint(false) // the first round's top-1 scans it whole
    try {
      // (rank, id, rel, mmr, vector) for each pick so far
      val picked = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, Double, Double, Seq[Double])]
      var r = 1
      var exhausted = false
      while (r <= k && !exhausted) {
        val remaining = if (picked.isEmpty) base
          else base.filter(!col("id").isin(picked.map(_._2).toSeq: _*))
        val scored =
          if (picked.isEmpty)
            remaining.withColumn("mmr", lit(lambda) * col("rel"))
          else {
            val sel = picked.map(p => Tuple1(p._5)).toSeq.toDF("sv")
            remaining.crossJoin(broadcast(sel))
              .withColumn("__sim", cosine(col("v"), col("sv")))
              .groupBy(col("id"))
              .agg(max(col("rel")).as("rel"), first(col("v")).as("v"),
                max(col("__sim")).as("__maxsim"))
              .withColumn("mmr", lit(lambda) * col("rel")
                - lit(1.0 - lambda) * col("__maxsim"))
          }
        val win = scored.orderBy(col("mmr").desc, col("id").asc).limit(1)
          .select(col("id"), col("rel"), col("mmr"), col("v")).collect()
        if (win.isEmpty) exhausted = true
        else {
          val w = win.head
          picked += ((r, w.getLong(0), w.getDouble(1), w.getDouble(2),
            w.getSeq[Double](3)))
          r += 1
        }
      }
      picked.toSeq.map(p => (p._1, p._2, p._3, p._4))
        .toDF("rank", "id", "rel", "mmr")
    } finally Lifecycle.release(base)
  }
}
