package graft.llm

import graft.operators.Lifecycle
import graft.sources.Sinks
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Semantic deduplication — the SemDeDup recipe (Abbas et al. 2023,
  * arXiv:2303.09540; public recipe re-derived in DataFrame terms):
  * cluster embeddings into k cells with a coarse quantizer, then
  * compare pairs ONLY within a cell and drop every vector that has a
  * near-identical cell-mate.
  *
  * Why this survives 100 TB where [[Dedup.bruteForceEmbeddingPairs]]
  * cannot: the all-pairs cost N² becomes Σ|cell|² ≈ N²/k — the
  * clustering bounds the quadratic to cell-sized blocks, and the
  * within-cell self-join is a plain equi-join on `cell` (shuffle both
  * sides by cell id, AQE skew-split handles hot cells).
  *
  * THE BOUND IS ONLY AS GOOD AS THE CELL BALANCE: a cell holding 30%
  * of the corpus is ~0.09·N² pair comparisons no matter how the rest
  * is spread (AQE parallelizes the hot cell but cannot shrink its pair
  * count). Three quantizers, in decreasing fidelity / increasing
  * availability:
  *
  *  1. FITTED ([[duplicatesFitted]]): a `KMeans.fit` (cell, dim, c)
  *     centroid table — the published SemDeDup pipeline's own choice
  *     (the paper clusters with k-means). Use this whenever a fit is
  *     affordable; it is the only one that adapts to the data's shape.
  *  2. LOWEST-ID ([[duplicates]]): the `nlist` lowest-id vectors act
  *     as centroids — deterministic, zero training, shared with
  *     [[Similarity.ivfTopK]]; adequate for roughly isotropic
  *     embeddings, degenerate for stopword-correlated BoW vectors.
  *  3. EITHER + [[splitOversizedCells]]: a portable secondary hash
  *     re-keys cells past a row cap, restoring the Σ|cell|² bound at
  *     the cost of missing pairs that straddle a split (the standard
  *     recall trade, deterministic and oracle-replayable).
  *
  * Every `duplicates*` call runs a cheap cell-balance guard (a k-row
  * aggregate over the already-checkpointed assignment) and warns on
  * stderr when the worst cell exceeds ~4/k of the corpus.
  *
  * Determinism contract (what the DuckDB oracle replays): assignment
  * ties break to the lower centroid id; a vector is a duplicate iff
  * some LOWER-id vector in the same cell has rounded cosine >=
  * threshold (round-then-compare, as q44); the survivor reported for a
  * duplicate is its lowest-id such neighbour.
  */
object SemDedup {

  /** Subcell id space per split cell: [[splitOversizedCells]] re-keys
    * `cell` to `cell * SplitBase + sub`, so a split factor must stay
    * below this (validated eagerly against the real histogram). */
  val SplitBase = 1024

  /** Nearest-cell assignment under the LOWEST-ID quantizer:
    * `(vec_id, cv, cell)` — row-local broadcast array math, no shuffle
    * (see [[Similarity.assignCells]]). */
  def assign(emb: DataFrame, id: Column, vec: Column, nlist: Int)
      : DataFrame = {
    val c = emb.select(id.as("vec_id"), vec.cast("array<double>").as("cv"))
    Similarity.assignCells(c, Similarity.centroids(c, nlist), "cv", "cell", 1)
  }

  /** Nearest-cell assignment under a FITTED quantizer — a (cell, dim,
    * c) centroid table from [[KMeans.fit]] (or any table in that
    * shape). Same row-local broadcast math; only the centroids differ. */
  def assignFitted(emb: DataFrame, id: Column, vec: Column,
                   means: DataFrame): DataFrame =
    KMeans.assign(emb, id, vec, means)

  /** Duplicate pairs under the lowest-id quantizer. */
  def duplicates(emb: DataFrame, id: Column, vec: Column,
                 nlist: Int, threshold: Double): DataFrame =
    duplicatesAssigned(assign(emb, id, vec, nlist), threshold)

  /** Duplicate pairs under a fitted (cell, dim, c) centroid table —
    * the SemDeDup-paper path: `KMeans.fit` the quantizer, then bucket
    * and compare. This is what kills the hot-cell hazard on
    * stopword-correlated BoW vectors (measured in BENCHMARKS.md). */
  def duplicatesFitted(emb: DataFrame, id: Column, vec: Column,
                       means: DataFrame, threshold: Double): DataFrame =
    duplicatesAssigned(assignFitted(emb, id, vec, means), threshold)

  /** Duplicate pairs over a pre-assigned `(vec_id, cv, cell)` frame:
    * for each duplicate, its cell, lowest-id surviving neighbour, and
    * best (max) cosine to any lower-id cell-mate above the threshold.
    * Output is small (duplicates only), inputs never leave their cell.
    *
    * The assignment is localCheckpointed (both sides of the self-join
    * read it; uncached it would recompute the featurize/assign chain
    * per side); its blocks go with the returned frame, or free them
    * with [[Lifecycle.release]] on it once materialized.
    * Construction also runs the cell-balance guard: one k-row
    * aggregate over the checkpoint, warning on stderr
    * when the worst cell exceeds `maxCellFraction` (default ~4/k) —
    * the signal to switch to [[duplicatesFitted]] or
    * [[splitOversizedCells]]. */
  def duplicatesAssigned(assigned0: DataFrame, threshold: Double,
                         maxCellFraction: Option[Double] = None)
      : DataFrame = {
    val assigned = assigned0.localCheckpoint()
    warnOnImbalance(cellHistogram(assigned), maxCellFraction)
    val a = assigned.select(col("cell"), col("vec_id").as("kept_id"),
      col("cv").as("va"))
    val b = assigned.select(col("cell"), col("vec_id").as("dup_id"),
      col("cv").as("vb"))
    a.join(b, Seq("cell"))
      .filter(col("kept_id") < col("dup_id"))
      .withColumn("cosine", round(Similarity.cosine(col("va"), col("vb")), 6))
      .filter(col("cosine") >= threshold)
      .groupBy(col("cell"), col("dup_id"))
      .agg(min(col("kept_id")).as("kept_id"),
           max(col("cosine")).as("max_cosine"))
      .select(col("cell"), col("dup_id"), col("kept_id"), col("max_cosine"))
  }

  /** Survivors: the corpus minus [[duplicates]] — a narrow left-anti
    * join on the id column (only (cell, dup_id) pairs shuffle; the
    * corpus side is matched by id). */
  def semanticDedup(emb: DataFrame, id: Column, vec: Column,
                    nlist: Int, threshold: Double): DataFrame = {
    val dups = duplicates(emb, id, vec, nlist, threshold)
      .select(col("dup_id"))
    emb.join(dups, id === col("dup_id"), "left_anti")
  }

  /** INCREMENTAL semantic dedup against a PERSISTED assignment index —
    * the semantic-side twin of [[Dedup.incrementalNearDups]], and the
    * incremental-corpus shape SemDeDup actually runs in production:
    * the historical corpus exists only as a cell-partitioned
    * (vec_id, cv) parquet index with a centroid sidecar (the EXACT
    * layout [[Similarity.ivfWriteIndex]] / [[Similarity
    * .ivfWriteIndexFitted]] write — one artifact serves ANN search
    * and incremental dedup), and each new batch is assigned under the
    * INDEX's frozen quantizer and compared only within its cells.
    *
    * A new vector is a duplicate iff some vector in its cell — ANY
    * historical one (history is canonical: its survivors were already
    * chosen, so id order does not apply across sets), or a LOWER-id
    * new one (the [[duplicates]] rule within the batch) — has rounded
    * cosine >= threshold; kept_id is the lowest matching id across
    * both sets. Historical and new id spaces must be disjoint.
    *
    * The 100 TB story is the partition pruning: the historical side
    * is read through a literal IN-list of the cells the new batch
    * actually touches, so the scan cost is (touched cells)/(nlist) of
    * the index regardless of history size — historical text and
    * untouched cells are never read (SemDedupSpec asserts the
    * PartitionFilters in the plan). */
  def incrementalDuplicates(spark: org.apache.spark.sql.SparkSession,
                            newEmb: DataFrame, id: Column, vec: Column,
                            indexPath: String, threshold: Double,
                            nlist: Int = 16): DataFrame = {
    val (index, cents) = Similarity.readIndex(spark, indexPath, nlist)
    val fresh = newEmb.select(id.as("vec_id"),
      vec.cast("array<double>").as("cv"))
    val assigned = Similarity.assignCells(fresh, cents, "cv", "cell", 1)
      .localCheckpoint()
    warnOnImbalance(cellHistogram(assigned), None)
    pairsAgainstIndex(index, assigned, threshold)
  }

  /** Within-cell pairs of a pre-assigned batch against a persisted
    * index (+ lower-id pairs within the batch): the shared core of
    * [[incrementalDuplicates]] and [[streamingDedup]]. The historical
    * side is read through a literal IN-list of the batch's touched
    * cells (directory pruning). */
  private def pairsAgainstIndex(index: DataFrame, assigned: DataFrame,
                                threshold: Double): DataFrame = {
    val touched = assigned.select(col("cell")).distinct().collect()
      .map(_.getInt(0))
    val hist = index.filter(col("cell").isin(touched.toIndexedSeq: _*))
      .select(col("cell"), col("vec_id").as("kept_id"),
        col("cv").as("va"))
    val newKept = assigned.select(col("cell"),
      col("vec_id").as("kept_id"), col("cv").as("va"))
    val newSide = assigned.select(col("cell"),
      col("vec_id").as("dup_id"), col("cv").as("vb"))
    def scored(pairs: DataFrame): DataFrame = pairs
      .withColumn("cosine", round(Similarity.cosine(col("va"), col("vb")), 6))
      .filter(col("cosine") >= threshold)
    // any historical match makes the new vector a duplicate...
    val vsHist = scored(hist.join(newSide, Seq("cell")))
    // ...within the batch, the lower id survives (the duplicates rule)
    val inBatch = scored(newKept.join(newSide, Seq("cell"))
      .filter(col("kept_id") < col("dup_id")))
    vsHist.unionByName(inBatch)
      .groupBy(col("cell"), col("dup_id"))
      .agg(min(col("kept_id")).as("kept_id"),
           max(col("cosine")).as("max_cosine"))
      .select(col("cell"), col("dup_id"), col("kept_id"), col("max_cosine"))
  }

  /** Append a batch's SURVIVORS to a persisted assignment index: the
    * rows land under their `cell=` directories (one file per touched
    * cell) in one [[graft.sources.TableLog]] commit, so the index
    * [[incrementalDuplicates]] and the ANN probes read keeps growing
    * in place — the mutation half of the continuous-dedup loop. The
    * quantizer sidecar is untouched: cells are FROZEN at fit time
    * (re-fitting would re-shuffle history). */
  def appendToIndex(assignedSurvivors: DataFrame, path: String): Unit =
    Sinks.writeBlocks(assignedSurvivors
      .select(col("vec_id"), col("cv"), col("cell"))
      .repartition(col("cell")), path, Seq("cell"))

  /** CONTINUOUS semantic dedup over a stream: each micro-batch is
    * deduped against the persisted index with [[incrementalDuplicates]]
    * (any indexed match wins; lower id within the batch), and the
    * batch's SURVIVORS are appended to the index before the next batch
    * — so a duplicate of an earlier batch's survivor is caught even
    * though no full history is ever held in memory. State between
    * batches lives entirely in the cell-partitioned index on disk
    * (restart-safe alongside the checkpoint); the driver holds
    * nothing. Duplicate records accumulate in `dupsOutDir`, which is
    * returned as a DataFrame once the (AvailableNow) drain finishes.
    *
    * Batch-ORDER determinism is the source's: with a file source and
    * `maxFilesPerTrigger`, files process in listing order, so a
    * deterministic file split replays identically — q113 holds the
    * whole loop against a DuckDB oracle that replays the two stages. */
  def streamingDedup(spark: org.apache.spark.sql.SparkSession,
                     stream: DataFrame, id: Column, vec: Column,
                     indexPath: String, dupsOutDir: String,
                     checkpointDir: String, threshold: Double,
                     nlist: Int = 16): DataFrame = {
    graft.streaming.EventStream.foldBatches(stream, checkpointDir) { batch =>
      val (index, cents) = Similarity.readIndex(spark, indexPath, nlist)
      val assigned = Similarity.assignCells(
          batch.select(id.as("vec_id"),
            vec.cast("array<double>").as("cv")),
          cents, "cv", "cell", 1)
        .localCheckpoint(false)
      // materialize the duplicates BEFORE mutating the index they
      // were computed against (the parquet write is the barrier);
      // the batch's dups are checkpointed so the survivors filter
      // neither recomputes the pair join nor re-reads the dups table —
      // which GROWS with stream lifetime (only THIS batch's ids can be
      // this batch's dups, so the historical dups are irrelevant to
      // the anti join)
      val dupsB = pairsAgainstIndex(index, assigned, threshold)
        .localCheckpoint(false)
      try {
        Sinks.writeBlocks(dupsB, dupsOutDir, Nil)
        // the dup ids are some of this batch's ids: broadcast them (a
        // checkpoint carries its plan's size estimate, not its size)
        val survivors = assigned.join(broadcast(dupsB.select(col("dup_id"))),
          col("vec_id") === col("dup_id"), "left_anti")
        appendToIndex(survivors, indexPath)
      } finally Seq(dupsB, assigned).foreach(Lifecycle.release)
    }
    Sinks.read(spark, dupsOutDir)
  }

  /** Re-key cells that exceed `cap` rows by a PORTABLE secondary hash
    * (md5 of the id, the [[Pipelines.hashBucket]] trick — an oracle
    * can replay it): cell c with n rows becomes ceil(n/cap) subcells
    * `c * SplitBase + sub`, so no subcell holds more than ~cap rows in
    * expectation and the Σ|cell|² pair bound is restored regardless of
    * how degenerate the quantizer was. Cells within the cap keep a
    * single subcell (`sub = 0`) — ALL output cell ids are re-keyed to
    * the `c * SplitBase` space so split and unsplit cells never
    * collide.
    *
    * The trade, explicitly: a near-duplicate pair whose two members
    * hash to different subcells is NOT compared (the same in-cell-only
    * trade the quantizer already makes, applied one level down).
    * Split factors are computed from the real histogram (one k-row
    * aggregate, collected eagerly — also validates every factor fits
    * [[SplitBase]]) and joined back as a broadcast literal frame. */
  def splitOversizedCells(assigned: DataFrame, cap: Long): DataFrame = {
    require(cap > 0, "cap must be positive")
    val spark = assigned.sparkSession
    import spark.implicits._
    val factors = cellHistogram(assigned).map { case (cell, n) =>
      (cell, math.ceil(n.toDouble / cap).toInt)
    }
    require(factors.forall(_._2 <= SplitBase),
      s"a cell needs more than $SplitBase subcells at cap=$cap — " +
        "raise the cap (or fix the quantizer)")
    val fdf = factors.toSeq.toDF("cell", "__s")
    assigned.join(broadcast(fdf), Seq("cell"))
      .withColumn("cell",
        (col("cell") * SplitBase +
          when(col("__s") > lit(1), pmod(hash16(col("vec_id")), col("__s")))
            .otherwise(lit(0))).cast("int"))
      .drop("__s")
  }

  /** GENERIC form of [[splitOversizedCells]] for any (key, id) column
    * pair — the same cap-and-split on e.g. LSH band buckets
    * (Dedup.embeddingPairs), where a pathologically clustered corpus
    * re-creates the Σ|bucket|² hazard the cell guard kills. The key
    * column is re-keyed to LONG `key * SplitBase + sub` space (split
    * and unsplit keys never collide); same recall trade as the cell
    * version: a pair split across subkeys is not compared.
    *
    * The subkey hash mixes the KEY in (md5 of "key_id"), not the id
    * alone — with multi-table LSH keys an id-only hash would split a
    * pair apart IDENTICALLY in every table and the tables'
    * redundancy could never recover it; key-mixed, the splits are
    * independent across tables and a pair survives any one of them. */
  def splitOversizedKeys(df: DataFrame, keyCol: String, idCol: String,
                         cap: Long): DataFrame = {
    require(cap > 0, "cap must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.withColumn(keyCol, col(keyCol).cast("long"))
    val factors = keyed.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), math.ceil(r.getLong(1).toDouble / cap).toInt))
    require(factors.forall(_._2 <= SplitBase),
      s"a key needs more than $SplitBase subkeys at cap=$cap — raise " +
        "the cap (or add hash tables / planes)")
    val fdf = factors.toSeq.toDF(keyCol, "__s")
    val sub = conv(substring(md5(
        concat_ws("_", col(keyCol).cast("string"),
          col(idCol).cast("string")).cast(BinaryType)), 1, 4), 16, 10)
      .cast("int")
    keyed.join(broadcast(fdf), Seq(keyCol))
      .withColumn(keyCol,
        col(keyCol) * SplitBase +
          when(col("__s") > lit(1), pmod(sub, col("__s")))
            .otherwise(lit(0)))
      .drop("__s")
  }

  /** (cell, rows) histogram of an assignment — k rows, collected. */
  def cellHistogram(assigned: DataFrame): Array[(Int, Long)] =
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))

  /** Worst-cell fraction of an assignment histogram (0 for empty). */
  def worstCellFraction(hist: Array[(Int, Long)]): Double =
    if (hist.isEmpty) 0.0
    else hist.map(_._2).max.toDouble / hist.map(_._2).sum

  private def warnOnImbalance(hist: Array[(Int, Long)],
                              maxCellFraction: Option[Double]): Unit =
    if (hist.nonEmpty) {
      val frac = worstCellFraction(hist)
      val limit = maxCellFraction
        .getOrElse(math.min(1.0, 4.0 / hist.length))
      if (frac > limit) {
        val worst = hist.maxBy(_._2)
        System.err.println(
          f"[graft] SemDedup: hot cell ${worst._1} holds ${frac * 100}%.1f%% " +
            f"of ${hist.map(_._2).sum} vectors (guard ${limit * 100}%.1f%%) — " +
            "within-cell pair cost is quadratic in the cell; refine the " +
            "quantizer (KMeans.fit -> duplicatesFitted) or " +
            "splitOversizedCells")
      }
    }

  /** Portable 16-bit md5 hash of an id (same construction as
    * [[Pipelines.hashBucket]], modulus as a Column). */
  private def hash16(id: Column): Column =
    conv(substring(md5(id.cast("string").cast(BinaryType)), 1, 4), 16, 10)
      .cast("int")
}
