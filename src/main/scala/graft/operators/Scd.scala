package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (Type 2) construction from a raw change
  * log: collapse each entity's attribute history into validity
  * intervals `[valid_from, valid_to)` — one row per RUN of equal
  * attribute values, open-ended (`valid_to` null, `is_current` true)
  * for the latest run. The standard warehouse shape for "what was
  * this entity's state at time t", and the builder half of the as-of
  * enrichment the engine already has ([[Joins]]' as-of join consumes
  * exactly this interval table).
  *
  * Shape: two entity-partitioned windows (a lag to flag changes and a
  * running sum to number runs — one shuffle by entity, both windows
  * share it), a (entity, run) groupBy co-partitioned with that same
  * shuffle, and a final lead window, again on the same key. One
  * exchange total; no global window anywhere, so the plan scales with
  * the entity count, not the log length.
  *
  * Determinism contract: rows order by (ts, tiebreak...) within an
  * entity, so equal-timestamp changes need a tiebreak column to be
  * replayable; runs collapse CONSECUTIVE equal values only (an
  * attribute that flips A→B→A yields three intervals, as SCD2
  * requires).
  */
object Scd {

  /** Build the Type-2 interval table: `(entity, attr, valid_from,
    * valid_to, n_events, is_current)` — one row per consecutive run
    * of equal `attr`, `valid_to` = the next run's start (null on the
    * current run), `n_events` = log rows collapsed into the run. */
  def buildType2(log: DataFrame, entity: Column, ts: Column,
                 attr: Column, tiebreak: Seq[Column] = Nil): DataFrame = {
    val cols = Seq(entity.as("entity"), ts.as("t"), attr.as("attr")) ++
      tiebreak.zipWithIndex.map { case (c, i) => c.as(s"__tb$i") }
    val ev = log.select(cols: _*)
    val ord = col("t") +: tiebreak.indices.map(i => col(s"__tb$i"))
    val w = Window.partitionBy(col("entity")).orderBy(ord: _*)
    // change flag via lag, then a running sum numbers the runs —
    // both windows ride one entity-keyed exchange
    val runs = ev
      .withColumn("__chg",
        when(lag(col("attr"), 1).over(w).isNull ||
             lag(col("attr"), 1).over(w) =!= col("attr"), lit(1))
          .otherwise(lit(0)))
      .withColumn("__run", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val collapsed = runs.groupBy(col("entity"), col("__run"))
      .agg(first(col("attr")).as("attr"),
           min(col("t")).as("valid_from"),
           count(lit(1)).as("n_events"))
    val wl = Window.partitionBy(col("entity")).orderBy(col("__run"))
    collapsed
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wl))
      .select(col("entity"), col("attr"), col("valid_from"),
        col("valid_to"), col("n_events"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Incremental Type-2 MERGE — apply a NEW batch of change events to
    * an existing dimension without re-reading the historical log (the
    * CDC/upsert primitive; at 100 TB the log is append-only and
    * unreadably large, so the dimension must advance from the batch
    * alone). Invariant, held by Scd2MergeSpec as a law and by the
    * q143 oracle differentially (Spark merges incrementally, DuckDB
    * rebuilds from the full log — a hash match proves incremental ≡
    * batch):
    *
    * {{{ mergeType2(buildType2(old), new) == buildType2(old ∪ new) }}}
    *
    * provided every new event is strictly later than all of its
    * entity's old events (out-of-order arrivals would rewrite closed
    * history — reject them upstream; [[buildType2]] on the union is
    * the recovery path).
    *
    * Per entity with new events: the batch collapses to runs
    * ([[buildType2]] on the batch alone); if the first new run
    * continues the entity's CURRENT attr it is ABSORBED (the current
    * row keeps its valid_from, extends its event count, and closes
    * only if more runs follow), otherwise the current row closes at
    * the first new run's start. Closed historical rows pass through
    * untouched, as do entities with no new events — the touched set
    * is bounded by the batch's entities, and every join here is a
    * narrow entity-keyed equi-join against the (small) batch side. */
  def mergeType2(dim: DataFrame, newLog: DataFrame, entity: Column,
                 ts: Column, attr: Column,
                 tiebreak: Seq[Column] = Nil): DataFrame = {
    val newRuns = buildType2(newLog, entity, ts, attr, tiebreak)
    val w = Window.partitionBy(col("entity")).orderBy(col("valid_from"))
    val nr = newRuns.withColumn("__ix", row_number().over(w))
    val first = nr.filter(col("__ix") === 1)
      .select(col("entity"), col("attr").as("__na"),
        col("valid_from").as("__nf"), col("valid_to").as("__nt"),
        col("n_events").as("__nn"))
    val hist = dim.filter(!col("is_current"))
      .select(col("entity"), col("attr"), col("valid_from"),
        col("valid_to"), col("n_events"), col("is_current"))
    val cur = dim.filter(col("is_current"))
    // the batch side is small by contract — broadcast it so current
    // rows never shuffle
    val curAdj = cur.join(broadcast(first), Seq("entity"), "left")
      .select(col("entity"), col("attr"),
        col("valid_from"),
        when(col("__nf").isNull, lit(null).cast("timestamp"))
          .when(col("__na") === col("attr"), col("__nt"))
          .otherwise(col("__nf")).as("valid_to"),
        (col("n_events") +
          when(col("__na") === col("attr"), col("__nn"))
            .otherwise(lit(0L))).as("n_events"),
        (col("__nf").isNull ||
          (col("__na") === col("attr") && col("__nt").isNull))
          .as("is_current"))
    // entities whose first new run was absorbed into the current row
    // — computed dimension-side (cur ⋈ broadcast batch), so the
    // result is batch-bounded and itself broadcastable
    val absorbed = cur.join(broadcast(first), Seq("entity"))
      .filter(col("attr") === col("__na"))
      .select(col("entity"))
    val firstKept = nr.filter(col("__ix") === 1)
      .join(broadcast(absorbed), Seq("entity"), "left_anti")
      .select(col("entity"), col("attr"), col("valid_from"),
        col("valid_to"), col("n_events"), col("is_current"))
    val rest = nr.filter(col("__ix") > 1)
      .select(col("entity"), col("attr"), col("valid_from"),
        col("valid_to"), col("n_events"), col("is_current"))
    hist.unionByName(curAdj).unionByName(firstKept).unionByName(rest)
  }

  /** CONTINUOUS Type-2 maintenance over a change stream: each
    * micro-batch advances the parquet-persisted dimension with
    * [[mergeType2]] (the first batch seeds it via [[buildType2]]), so
    * the dimension is always current after every batch and the raw
    * log is never re-read — the streaming half of the CDC loop,
    * mirroring [[graft.llm.SemDedup.streamingDedup]]'s
    * state-on-disk discipline. Each batch's merged frame is written
    * and then committed over the old dimension in one
    * [[graft.sources.Sinks.replace]]; the old files stay on disk while
    * the merge still reads them, closing the read-your-own-input
    * hazard. Batch ordering is the source's: a time-split file source
    * with `maxFilesPerTrigger=1` satisfies the strictly-later contract
    * per entity. Returns the final dimension. */
  def streamingMergeType2(spark: org.apache.spark.sql.SparkSession,
                          stream: DataFrame, entity: Column, ts: Column,
                          attr: Column, dimPath: String,
                          checkpointDir: String): DataFrame = {
    import graft.sources.{Sinks, TableLog}
    graft.streaming.EventStream.foldBatches(stream, checkpointDir) { batch =>
      val merged =
        if (TableLog.live(dimPath).nonEmpty)
          mergeType2(Sinks.read(spark, dimPath), batch, entity, ts, attr)
        else buildType2(batch, entity, ts, attr)
      Sinks.replace(merged, dimPath)
    }
    Sinks.read(spark, dimPath)
  }

  /** Enrich fact rows with the dimension state in force at the fact's
    * time: facts land in the interval `valid_from <= t < valid_to`
    * (current rows match any `t >= valid_from`). Facts before the
    * entity's first interval (or for unknown entities) keep a null
    * attr (left join). The join is an equi-join on entity with a
    * range residual — Spark shuffles both sides by entity and the
    * residual filters within the match group, so no interval
    * explosion and no cartesian anywhere. */
  def asOfEnrich(facts: DataFrame, factEntity: Column, factTs: Column,
                 dim: DataFrame): DataFrame = {
    val d = dim.select(col("entity").as("__de"), col("attr"),
      col("valid_from"), col("valid_to"))
    facts.join(d,
      factEntity === col("__de") && factTs >= col("valid_from") &&
        (col("valid_to").isNull || factTs < col("valid_to")),
      "left")
      .drop("__de", "valid_from", "valid_to")
  }

  /** SCD TYPE 1 — CDC apply / latest-wins merge: fold a change batch
    * (upserts + deletes) into a snapshot. Each key keeps the row with
    * the highest `(version, tiebreak...)`; a winning row whose
    * `isDelete` is true removes the key entirely. This is the
    * compaction a CDC-fed lake table runs continuously (the
    * history-free sibling of [[mergeType2]] — Type 2 answers "state
    * at time t", Type 1 answers "state now" and forgets).
    *
    * Shape: one union (no shuffle), one key-partitioned row_number
    * window — a single exchange by key, the minimum any keyed merge
    * pays; snapshot and changes never join, so a change batch that
    * touches 0.1% of keys still costs one shuffle of (snapshot +
    * changes), which is the documented trade vs. a file-pruned
    * copy-on-write (q136's delete-by-key shows that path).
    *
    * Determinism: `(version, tiebreak...)` must totally order each
    * key's candidates; equal top versions with no tiebreak would make
    * the survivor nondeterministic, so callers supply a tiebreak when
    * versions can tie (same contract as [[buildType2]]). */
  def latestWins(snapshot: DataFrame, changes: DataFrame,
                 keyCols: Seq[String], versionCol: String,
                 deleteCol: String,
                 tiebreak: Seq[String] = Nil): DataFrame = {
    val all = snapshot.unionByName(changes)
    val ord = (col(versionCol) +: tiebreak.map(col)).map(_.desc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col(deleteCol))
      .drop("__rn")
  }
}
