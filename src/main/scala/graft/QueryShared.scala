package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructType}
import graft.etl.{Lineage, LogParse, MozLog}
import graft.jx.{Formats, QueryParser, Runner}
import graft.llm.{Contamination, Dedup, Multimodal, Pipelines, Similarity, TextAnalysis}
import graft.meta.MetaColumns
import graft.operators.{CountMin, Joins, Kmv, Sessionize, SetOps}
import graft.streaming.EventStream
import graft.tables.Catalog

/** Helpers and shared oracle-SQL fragments for the per-domain query
  * objects (Queries*.scala) — split out of the former monolithic
  * SparkEntry so no file tops ~3k lines. All members are
  * private[graft]: the driver contract surface is SparkEntry alone.
  * Shared SQL vals are LAZY: an eager val interpolating a val
  * declared later captures null at object init (the q282/q283
  * lesson). */
private[graft] object QueryShared {


  /** JX-engine query helper: JSON in, DataFrame out. */
  private[graft] def jx(json: String): (SparkSession, String) => DataFrame =
    (spark, dir) => new Runner(spark, new Catalog(spark, dir)).run(json)

  private[graft] def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    new Catalog(spark, dir).table(name)

  /** UniMax largest-remainder water-fill over a (source, size)
    * census: budget = size-total · num/den; sources whose size fits
    * the fair share are taken whole, the rest split the remainder by
    * integer division + largest-remainder. Exact integers (the
    * q323/q352/q357 algebra, shared). Input census must be SMALL
    * (guard it — q352's loud bound); returns (source, sizeName,
    * allocName) with the census's other columns dropped. */
  private[graft] def unimaxAlloc(census: DataFrame, sizeName: String,
                                 allocName: String, num: Int,
                                 den: Int): DataFrame =
    unimaxAllocFull(census, "source", sizeName, allocName, num, den)
      .drop("capped")

  /** [[unimaxAlloc]] with an explicit census key column and the
    * `capped` flag kept in the output — the q323 shape (keyed by
    * `lang`, reports which languages hit their full size). Returns
    * (key, sizeName, allocName, capped). */
  private[graft] def unimaxAllocFull(census: DataFrame, key: String,
                                     sizeName: String,
                                     allocName: String, num: Int,
                                     den: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val W = Window.orderBy(col(sizeName), col(key))
    val tot = census.agg(sum(col(sizeName)).as("__tot"),
      count(lit(1)).as("__n"))
    val f = census.crossJoin(broadcast(tot))
      .withColumn("__b", expr(s"(__tot * $num) div $den"))
      .limit(10000) // callers count the census first (q352's guard)
      .withColumn("__rn", row_number().over(W))
      .withColumn("__cum", sum(col(sizeName)).over(
        W.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__raw",
        col(sizeName) * (col("__n") - col("__rn") + 1) <=
          col("__b") - (col("__cum") - col(sizeName)))
    val ff = f.agg(
        min(when(!col("__raw"), col("__rn"))).as("__ff0"),
        max(col("__n")).as("__nn"))
      .select(coalesce(col("__ff0"), col("__nn") + 1).as("__ff"))
    val f2 = f.crossJoin(broadcast(ff))
    val ck = f2.agg(coalesce(max(when(col("__rn") === col("__ff") - 1,
        col("__cum"))), lit(0L)).as("__cumk"))
    f2.crossJoin(broadcast(ck))
      .withColumn("__r", col("__b") - col("__cumk"))
      .withColumn("__l", col("__n") - (col("__ff") - 1))
      .withColumn("capped", col("__rn") < col("__ff"))
      .withColumn(allocName,
        when(col("capped"), col(sizeName))
          .otherwise(expr("__r div __l") +
            when(col("__rn") - (col("__ff") - 1) <=
              pmod(col("__r"), col("__l")), 1L).otherwise(0L)))
      .select(col(key), col(sizeName), col(allocName), col("capped"))
  }

  /** Global (or per-group) rank WITHOUT a single-task window — the
    * q352/q359/q360 bucket decomposition, shared: rows carry a
    * bucket key that is an ORDER-RANGE of the sort axis (the sort
    * column itself when its value census is bounded, or the first
    * two hex chars of the md5 the sort orders by), the per-bucket
    * row census prefix-sums via a triangular self-join (≤ 256² rows
    * per group), and a per-(group, bucket) window adds the
    * intra-bucket row number. `order` must begin with the column(s)
    * the bucket ranges over so buckets stay order-ranges. Scales to
    * any corpus: no stage ever sees more than one bucket's rows in
    * one task. */
  private[graft] def bucketedRank(df: DataFrame, part: Seq[String],
                                  bucket: String, order: Seq[String],
                                  rankName: String): DataFrame =
    graft.operators.BucketedRank.rank(df, part, bucket, order,
      rankName)

  /** The context-packing rebuild oracle (chunk census + fill at
    * L=512 over `documents` in doc_id order) — shared by q353 (the
    * batch packer) and q369 (the STREAMING packer: same output by
    * the fold theorem, so the same rebuild SQL is its oracle). */
  private[graft] val packCensusSql: String = """
      WITH tk AS (SELECT doc_id, CAST(len(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0)) AS BIGINT) AS n_tok
                  FROM documents),
      d AS (SELECT doc_id, n_tok FROM tk WHERE n_tok > 0),
      c AS (SELECT doc_id, n_tok,
                   sum(n_tok) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM d),
      sp AS (SELECT doc_id, CAST(cum - n_tok AS BIGINT) AS s,
                    CAST(cum - 1 AS BIGINT) AS e FROM c),
      ch AS (SELECT doc_id, s,
                    unnest(generate_series(s // 512, e // 512))
                      AS chunk
             FROM sp),
      pc AS (SELECT chunk, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(CASE WHEN s // 512 = chunk
                             THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_starts
             FROM ch GROUP BY 1),
      t AS (SELECT max(cum) AS tt FROM c)
      SELECT CAST(chunk AS BIGINT) AS chunk, n_docs, n_starts,
             CAST(least(512, t.tt - chunk * 512) AS BIGINT)
               AS n_tokens
      FROM pc CROSS JOIN t ORDER BY chunk"""

  /** The q352/q357 UniMax water-fill as a reusable oracle-SQL CTE
    * chain over a (source, `size`) census CTE named `src`: appends
    * CTEs `${p}t …${p}a`, where `${p}a` holds (source, size, alloc).
    * Column names `rem`/`lft` (not `r`/`l`) so the fragment composes
    * with queries whose OUTER `WITH RECURSIVE` already binds `r`
    * (DuckDB resolves names case-insensitively — the q215 lesson). */
  private[graft] def unimaxAllocSql(src: String, size: String,
                                    alloc: String, p: String)
      : String = s"""
      ${p}t AS (SELECT CAST((sum($size) * 6) // 10 AS BIGINT) AS b,
                   CAST(count(*) AS BIGINT) AS n FROM $src),
      ${p}o AS (SELECT source, $size, b, n,
                   row_number() OVER (ORDER BY $size, source) AS rn,
                   sum($size) OVER (ORDER BY $size, source
                     ROWS UNBOUNDED PRECEDING) AS cum
                FROM $src CROSS JOIN ${p}t),
      ${p}f AS (SELECT *,
                   ($size * (n - rn + 1) <= b - (cum - $size)) AS raw
                FROM ${p}o),
      ${p}ff AS (SELECT coalesce(min(CASE WHEN NOT raw THEN rn END),
                                 max(n) + 1) AS ff FROM ${p}f),
      ${p}ck AS (SELECT coalesce(max(CASE WHEN f.rn = ff.ff - 1
                                      THEN f.cum END), 0) AS cumk
                 FROM ${p}f f CROSS JOIN ${p}ff ff),
      ${p}p AS (SELECT f.source, f.$size, f.rn, ff.ff,
                   f.b - ck.cumk AS rem, f.n - (ff.ff - 1) AS lft
                FROM ${p}f f CROSS JOIN ${p}ff ff
                CROSS JOIN ${p}ck ck),
      ${p}a AS (SELECT source, $size,
                   CAST(CASE WHEN rn < ff THEN $size
                        ELSE (rem // lft) + (CASE WHEN rn - (ff - 1)
                          <= (rem % lft) THEN 1 ELSE 0 END)
                   END AS BIGINT) AS $alloc
                FROM ${p}p)"""

  /** Round the named double columns for FP-stable oracle comparison. */
  private[graft] def rounded(cols: (String, Int)*)(
      fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (spark, dir) =>
    val df = fn(spark, dir)
    val m = cols.toMap
    df.select(df.columns.map { c =>
      m.get(c) match {
        case Some(d) => round(col(c), d).as(c)
        case None    => col(c)
      }
    }.toIndexedSeq: _*)
  }

  /** Cast day-aligned timestamp columns to DATE (oracle-compare-stable). */
  private[graft] def dated(cols: String*)(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (spark, dir) =>
    val df = fn(spark, dir)
    val s = cols.toSet
    df.select(df.columns.map { c =>
      if (s.contains(c)) to_date(col(c)).as(c) else col(c)
    }.toIndexedSeq: _*)
  }


  /** Shared q282/q283 oracle (see comment above). lazy: it
    * interpolates q97ScorePrefixSql, which is declared LATER in this
    * object — an eager val would capture null at object init. */
  private[graft] lazy val curateCensusSql: String = s"""
      WITH $q97ScorePrefixSql,
      kept AS (SELECT d.doc_id, d.lang, d.text
               FROM documents d JOIN s ON d.doc_id = s.doc_id
               WHERE s.score >= 0.5),
      fp AS (SELECT doc_id, lang, md5(text) AS fp FROM kept),
      g AS (SELECT fp, lang, min(doc_id) AS keeper,
                   CAST(count(*) AS BIGINT) AS n
            FROM fp GROUP BY 1, 2)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_unique,
             CAST(sum(n) AS BIGINT) AS n_docs
      FROM g GROUP BY 1 ORDER BY 1"""

  private[graft] lazy val retentionForecastSql: String = """
      WITH e AS (SELECT epoch_us(ts) AS us,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
      mx AS (SELECT max(us) AS m FROM e),
      b AS (SELECT (mx.m - e.us) // (7 * 86400000000) AS age_bucket,
                   cents
            FROM e CROSS JOIN mx),
      g AS (SELECT age_bucket, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(cents) AS BIGINT) AS cents
            FROM b GROUP BY 1)
      SELECT g.age_bucket, g.n_rows, g.cents,
             CAST((SELECT sum(g2.n_rows) FROM g g2
                   WHERE g2.age_bucket >= g.age_bucket) AS BIGINT)
               AS rows_reclaimed_if_ttl_here
      FROM g ORDER BY g.age_bucket"""

  private[graft] lazy val dictPlannerSql: String = """
      WITH m AS (SELECT 'lang' AS col_name, lang AS v FROM documents
                 UNION ALL
                 SELECT 'source', source FROM documents),
      agg AS (SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
                     CAST(sum(octet_length(encode(v))) AS BIGINT)
                       AS bytes_plain
              FROM m GROUP BY 1),
      d AS (SELECT col_name,
                   CAST(sum(octet_length(encode(v))) AS BIGINT)
                     AS dict_bytes
            FROM (SELECT DISTINCT col_name, v FROM m) GROUP BY 1)
      SELECT agg.col_name AS "column", agg.n_rows, agg.n_distinct,
             agg.bytes_plain,
             d.dict_bytes + agg.n_rows * 4 AS bytes_dict,
             d.dict_bytes + agg.n_rows * 4 < agg.bytes_plain
               AS dict_wins
      FROM agg JOIN d USING (col_name) ORDER BY 1"""

  /** Shared q250/q253 oracle — lazy-refill token bucket replayed as a
    * list_reduce over a BIGINT[4] state [tokens, last_minute,
    * accepted, rejected]. A LIST, not a struct: DuckDB v1.0.0
    * list_reduce mutates STRUCT accumulator fields in place,
    * field-by-field (a later field reading s.x sees the new value);
    * list construction evaluates every element against the old state.
    * The engine's explicit-init aggregate() (batch) / keyed-state fold
    * (stream) is mirrored by prepending a state-shaped sentinel. */
  private[graft] lazy val rateLimitSql: String = """
      WITH e AS (SELECT user_id, epoch_us(ts) AS u, event_id,
                        epoch_us(ts) // 60000000 AS m
                 FROM events),
      l AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   list_prepend([CAST(3 AS BIGINT), -1, 0, 0],
                     list([CAST(0 AS BIGINT), m, 0, 0]
                       ORDER BY u, event_id)) AS xs
            FROM e GROUP BY user_id),
      f AS (SELECT user_id, n_events,
                   list_reduce(xs, (s, x) -> [
                     least(3, s[1] + CASE WHEN s[2] < 0 THEN 0
                         ELSE x[2] - s[2] END)
                       - CASE WHEN least(3, s[1] + CASE WHEN s[2] < 0
                           THEN 0 ELSE x[2] - s[2] END) >= 1
                         THEN 1 ELSE 0 END,
                     x[2],
                     s[3] + CASE WHEN least(3, s[1] + CASE WHEN
                         s[2] < 0 THEN 0 ELSE x[2] - s[2] END) >= 1
                       THEN 1 ELSE 0 END,
                     s[4] + CASE WHEN least(3, s[1] + CASE WHEN
                         s[2] < 0 THEN 0 ELSE x[2] - s[2] END) >= 1
                       THEN 0 ELSE 1 END]) AS st
            FROM l)
      SELECT user_id, n_events, st[3] AS n_accepted,
             st[4] AS n_rejected, st[1] AS tokens_left
      FROM f ORDER BY user_id"""

  /** Shared q157/q178 oracle: the order-fixed EWMA left fold, seeded
    * with each user's first value (list_reduce seeds with the first
    * element — exactly the engine's aggregate/keyed-state seeding). */
  private[graft] lazy val ewmaSql: String = """
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             list_reduce(list(value ORDER BY ts, event_id),
                         (s, x) -> 0.5 * x + 0.5 * s) AS ewma
      FROM events GROUP BY user_id ORDER BY user_id"""

  /** Full SCD2 rebuild from the complete event log — the shared
    * oracle of q139 (batch build), q143 (incremental merge) and q144
    * (streaming merge): lag flags run starts, a running sum numbers
    * runs, lead closes each interval. */
  private[graft] lazy val scd2RebuildSql: String = """
      WITH o AS (SELECT user_id AS entity, ts AS t,
                        event_type AS attr,
                        CASE WHEN lag(event_type) OVER
                               (PARTITION BY user_id ORDER BY ts)
                               IS DISTINCT FROM event_type
                             THEN 1 ELSE 0 END AS chg
                 FROM events),
      r AS (SELECT entity, t, attr,
                   sum(chg) OVER (PARTITION BY entity ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS run
            FROM o),
      c AS (SELECT entity, run, min(attr) AS attr,
                   min(t) AS valid_from, count(*) AS n_events
            FROM r GROUP BY entity, run)
      SELECT entity, attr, valid_from,
             lead(valid_from) OVER
               (PARTITION BY entity ORDER BY run) AS valid_to,
             n_events,
             (lead(valid_from) OVER
               (PARTITION BY entity ORDER BY run) IS NULL) AS is_current
      FROM c ORDER BY entity, valid_from"""

  /** Shared q97/q112 oracle: the linear quality model, every feature
    * and the algebraic sigmoid mirrored term-by-term in the engine's
    * evaluation order; keep is decided on the UNROUNDED score, as in
    * the engine. q112 drains the SAME classifier through a file
    * stream, so stream/batch parity means sharing this verbatim. */
  /** Shared q97/q115 oracle prefix: documents -> bit-exact classifier
    * scores (rational features + the algebraic sigmoid — no libm).
    * Emits CTEs `t..s`; `s` is (doc_id, score). */
  private[graft] lazy val q97ScorePrefixSql: String = """t AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> length(x) > 0) AS toks
        FROM documents),
      f AS (SELECT doc_id,
              least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS lenf,
              CASE WHEN length(text) > 0 THEN
                CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
                     AS DOUBLE) / CAST(length(text) AS DOUBLE)
                ELSE 0.0 END AS punct,
              CASE WHEN length(text) > 0 THEN
                CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                     AS DOUBLE) / CAST(length(text) AS DOUBLE)
                ELSE 0.0 END AS upper_r,
              CASE WHEN len(toks) > 0 THEN
                CAST(len(list_filter(toks, x -> list_contains(
                  ['the','a','an','and','or','of','to','in','is','it','that',
                   'for','on','with','as','was','at','by','be','this'], x)))
                  AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                ELSE 0.0 END AS swr,
              CASE WHEN len(toks) > 0 THEN
                CAST(list_sum(list_transform(toks, x -> length(x)))
                  AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                ELSE 0.0 END AS mwl
            FROM t),
      l AS (SELECT doc_id,
              ((((-1.0 + 1.2 * lenf) + -3.0 * punct) + -1.5 * upper_r)
                + 2.5 * swr) + -0.05 * mwl AS logit
            FROM f),
      s AS (SELECT doc_id,
              0.5 + 0.5 * (logit / (1.0 + abs(logit))) AS score
            FROM l)"""

  private[graft] lazy val q97ClassifySql: String = s"""
      WITH $q97ScorePrefixSql
      SELECT doc_id, round(score, 6) AS score, score >= 0.5 AS keep
      FROM s ORDER BY doc_id"""

  /** Shared no-variant BoW prefix (q101/q114): documents -> dense
    * 32-dim hashed-BoW vectors, same construction as [[bowDenseSql]]
    * minus the variant rows. Emits CTEs `tk..dense`. */
  private[graft] lazy val bowDenseDocsSql: String = """tk AS (
        SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS t FROM documents),
      contrib AS (SELECT doc_id,
          CAST(('0x' || substring(md5(t), 1, 4)) AS INTEGER) % 32 AS b
        FROM tk),
      grouped AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS val
                  FROM contrib GROUP BY 1, 2),
      dims AS (SELECT unnest(generate_series(0, 31)) AS b),
      docs2 AS (SELECT DISTINCT doc_id FROM grouped),
      cells0 AS (SELECT doc_id, d.b FROM docs2 CROSS JOIN dims d),
      dense AS (SELECT c.doc_id, list(coalesce(g.val, 0.0)
                  ORDER BY c.b) AS v
                FROM cells0 c LEFT JOIN grouped g USING (doc_id, b)
                GROUP BY c.doc_id)"""

  /** Shared q102/q107/q108 oracle prefix: documents + tail-truncated
    * variants -> dense 32-dim hashed-BoW vectors (md5 token slots,
    * integer counts). Emits CTEs `base..dense`; `dense` is
    * (doc_id, v). */
  private[graft] lazy val bowDenseSql: String = """base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               substring(text, 1, greatest(length(text) - 30, 1))
        FROM documents),
      tk AS (SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS t FROM base),
      contrib AS (SELECT doc_id,
          CAST(('0x' || substring(md5(t), 1, 4)) AS INTEGER) % 32 AS b
        FROM tk),
      grouped AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS val
                  FROM contrib GROUP BY 1, 2),
      dims AS (SELECT unnest(generate_series(0, 31)) AS b),
      docs2 AS (SELECT DISTINCT doc_id FROM grouped),
      cells0 AS (SELECT doc_id, d.b FROM docs2 CROSS JOIN dims d),
      dense AS (SELECT c.doc_id, list(coalesce(g.val, 0.0)
                  ORDER BY c.b) AS v
                FROM cells0 c LEFT JOIN grouped g USING (doc_id, b)
                GROUP BY c.doc_id)"""

  /** One Lloyd round of the q107 oracle, mirroring [[graft.llm.KMeans
    * .fit]] exactly: centroid lists from means(r-1) (c ORDER BY dim —
    * the centroidRow array_sort), reassign (ties to lower cell id),
    * per-(cell, dim) mean of the ORIGINAL vectors, densify (empty
    * cells inherit the previous centroid). On integer-count BoW
    * vectors every mean is an exact integer-sum ratio, so the loop is
    * bit-identical across engines in any summation order. */
  private[graft] def lloydRoundSql(r: Int, src: String = "dense"): String = {
    val p = r - 1
    s"""rc$r AS (SELECT cell, list(c ORDER BY dim) AS cv
               FROM means$p GROUP BY cell),
      sc$r AS (SELECT d.doc_id, d.v, r.cell AS cent_id,
                      list_cosine_similarity(d.v, r.cv) AS cos
               FROM $src d CROSS JOIN rc$r r),
      asg$r AS (SELECT doc_id, v, CAST(cell AS INT) AS cell FROM (
          SELECT doc_id, v, cent_id AS cell,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY cos DESC, cent_id ASC) AS rn
          FROM sc$r) WHERE rn = 1),
      xx$r AS (SELECT cell,
                      CAST(unnest(generate_series(1, len(v))) AS INT) AS dim,
                      unnest(v) AS val
               FROM asg$r),
      st$r AS (SELECT cell, dim, avg(val) AS c FROM xx$r GROUP BY 1, 2),
      means$r AS (SELECT p.cell, p.dim, coalesce(s.c, p.c) AS c
                  FROM means$p p LEFT JOIN st$r s USING (cell, dim))"""
  }

  /** One sequential BPE training round of the q129 oracle. Word
    * segmentations ride as SPACE-WRAPPED symbol strings (" a  b  c ":
    * every symbol wrapped in single spaces, so adjacent symbols meet
    * at a double space): the round's accepted merge (a,b) is applied
    * with one `replace(s, ' a  b ', ' ab ')`, whose non-overlapping
    * left-to-right scan consumes " a  a  a  a " into " aa  aa " —
    * exactly [[graft.llm.Bpe.mergePair]]'s greedy fold (a just-fused
    * symbol never re-fuses in the same pass). Candidate selection
    * mirrors the trainer: weighted adjacent-pair count, freq >= 2,
    * (freq desc, a asc, b asc) top-1; an empty round leaves every
    * segmentation unchanged (the trainer's early stop). The per-round
    * CTEs are MATERIALIZED: each is referenced several times by the
    * next round, and DuckDB's default CTE inlining would re-expand
    * the whole chain exponentially (~6^rounds document scans). */
  private[graft] def bpeRoundSql(r: Int): String = {
    val prev = if (r == 1) "m0" else s"m${r - 1}"
    s"""p$r AS (SELECT l[i] AS a, l[i + 1] AS b, freq FROM (
           SELECT freq, l, unnest(generate_series(1, len(l) - 1)) AS i
           FROM (SELECT freq, list_filter(string_split(s, ' '),
                          x -> x <> '') AS l FROM $prev)
           WHERE len(l) >= 2)),
      c$r AS MATERIALIZED (SELECT a, b FROM (
           SELECT a, b, sum(freq) AS pf FROM p$r GROUP BY 1, 2
           HAVING sum(freq) >= 2
           ORDER BY pf DESC, a ASC, b ASC LIMIT 1)),
      m$r AS MATERIALIZED (SELECT word, freq,
           CASE WHEN (SELECT count(*) FROM c$r) = 0 THEN s
                ELSE replace(s,
                  ' ' || (SELECT a FROM c$r) || '  ' ||
                    (SELECT b FROM c$r) || ' ',
                  ' ' || (SELECT a FROM c$r) ||
                    (SELECT b FROM c$r) || ' ')
           END AS s FROM $prev)"""
  }

  /** Shared q133/q138 oracle — chained per-step funnel over the event
    * log (view -> click -> purchase, strictly-after semantics): one
    * SQL truth for both the batch operator and the streaming drain. */
  private[graft] lazy val funnelSummarySql: String = """
      WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                  WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts) AS t
             FROM events e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.ts) AS t
             FROM events e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
      u AS (SELECT 1 AS step_ix, 'view' AS step, count(*) AS n FROM s1
            UNION ALL
            SELECT 2, 'click', count(*) FROM s2
            UNION ALL
            SELECT 3, 'purchase', count(*) FROM s3),
      f AS (SELECT n AS n1 FROM u WHERE step_ix = 1)
      SELECT step_ix, step, CAST(n AS BIGINT) AS n_users,
             CAST(n AS DOUBLE) / CAST(f.n1 AS DOUBLE) AS conv
      FROM u CROSS JOIN f ORDER BY step_ix"""

  /** One greedy MMR round of the q130 oracle: score every unselected
    * candidate `0.5·rel − 0.5·max cos(v, selected)`, keep the top-1
    * (mmr desc, id asc) and append it to the running selection a$r.
    * MATERIALIZED for the same reason as [[bpeRoundSql]] — each
    * round's frames are referenced repeatedly downstream. */
  private[graft] def mmrRoundSql(r: Int): String = {
    val p = r - 1
    s"""sr$r AS (SELECT c.id, c.rel, c.v,
             max(list_cosine_similarity(c.v, a$p.v)) AS maxsim
           FROM c0 c, a$p
           WHERE c.id NOT IN (SELECT id FROM a$p)
           GROUP BY c.id, c.rel, c.v),
      a$r AS MATERIALIZED (SELECT * FROM a$p UNION ALL
           SELECT * FROM (SELECT $r AS rank, id, rel,
                  0.5 * rel - 0.5 * maxsim AS mmr, v
           FROM sr$r ORDER BY mmr DESC, id ASC LIMIT 1))"""
  }

  /** q107: hashed BoW -> 2-round Lloyd fit from the lowest-id init ->
    * SemDeDup within the FITTED cells (KMeans.fit -> duplicatesFitted
    * replayed end-to-end). */
  private[graft] def q107OracleSql: String = s"""
      WITH $bowDenseSql,
      cents0 AS (SELECT doc_id AS cent_id, v AS cv FROM dense
                 ORDER BY doc_id LIMIT 16),
      means0 AS (SELECT CAST(cent_id AS INT) AS cell,
                        CAST(unnest(generate_series(1, len(cv))) AS INT)
                          AS dim,
                        unnest(cv) AS c
                 FROM cents0),
      ${lloydRoundSql(1)},
      ${lloydRoundSql(2)},
      rcF AS (SELECT cell, list(c ORDER BY dim) AS cv
              FROM means2 GROUP BY cell),
      scF AS (SELECT d.doc_id, d.v, r.cell AS cent_id,
                     list_cosine_similarity(d.v, r.cv) AS cos
              FROM dense d CROSS JOIN rcF r),
      asgF AS (SELECT doc_id, v, CAST(cell AS INT) AS cell FROM (
          SELECT doc_id, v, cent_id AS cell,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY cos DESC, cent_id ASC) AS rn
          FROM scF) WHERE rn = 1),
      pairs AS (SELECT a.cell, b.doc_id AS dup_id, a.doc_id AS kept0,
                       round(list_cosine_similarity(a.v, b.v), 6) AS cos6
                FROM asgF a JOIN asgF b
                  ON a.cell = b.cell AND a.doc_id < b.doc_id
                WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95),
      dups AS (SELECT cell, dup_id, min(kept0) AS kept_id,
                      max(cos6) AS max_cosine
               FROM pairs GROUP BY 1, 2)
      SELECT cell, count(*) AS n_dups,
             CAST(sum(CASE WHEN dup_id = kept_id + 1000000
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS n_variant_pairs,
             min(max_cosine) AS min_cosine,
             max(max_cosine) AS top_cosine
      FROM dups GROUP BY 1 ORDER BY 1"""

  /** q109: the same 2-round fit as q107, then the fitted IVF probe —
    * per query (doc_id < 4), rank the rows of its nprobe=4 nearest
    * fitted cells by exact cosine, top-5. Replays fit -> corpus
    * assignment (the on-disk index layout) -> probe-cell selection ->
    * within-cell ranking. */
  private[graft] def q109OracleSql: String = s"""
      WITH $bowDenseSql,
      cents0 AS (SELECT doc_id AS cent_id, v AS cv FROM dense
                 ORDER BY doc_id LIMIT 16),
      means0 AS (SELECT CAST(cent_id AS INT) AS cell,
                        CAST(unnest(generate_series(1, len(cv))) AS INT)
                          AS dim,
                        unnest(cv) AS c
                 FROM cents0),
      ${lloydRoundSql(1)},
      ${lloydRoundSql(2)},
      rcF AS (SELECT cell, list(c ORDER BY dim) AS cv
              FROM means2 GROUP BY cell),
      scF AS (SELECT d.doc_id, d.v, r.cell AS cent_id,
                     list_cosine_similarity(d.v, r.cv) AS cos
              FROM dense d CROSS JOIN rcF r),
      asgF AS (SELECT doc_id, v, CAST(cell AS INT) AS cell FROM (
          SELECT doc_id, v, cent_id AS cell,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY cos DESC, cent_id ASC) AS rn
          FROM scF) WHERE rn = 1),
      queries AS (SELECT doc_id AS query_id, v AS qv FROM dense
                  WHERE doc_id < 4),
      qcells AS (SELECT query_id, qv, cell FROM (
          SELECT q.query_id, q.qv, r.cell,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(q.qv, r.cv) DESC,
                            r.cell ASC) AS rn
          FROM queries q CROSS JOIN rcF r) WHERE rn <= 4),
      cand AS (SELECT qc.query_id, a.doc_id AS vec_id,
                      list_cosine_similarity(a.v, qc.qv) AS cos
               FROM qcells qc JOIN asgF a ON a.cell = qc.cell
               WHERE a.doc_id <> qc.query_id)
      SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
             round(cos, 6) AS cosine
      FROM (SELECT query_id, vec_id, cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, vec_id ASC) AS rank
            FROM cand)
      WHERE rank <= 5
      ORDER BY query_id, rank"""

  /** q111: fit the quantizer on the HISTORICAL 70% only, assign both
    * sets under it, then: any same-cell historical match dedups a new
    * vector; within the new batch the lower id survives. Mirrors
    * [[graft.llm.SemDedup.incrementalDuplicates]] over the persisted
    * index exactly (the pruned IN-list read is a physical detail —
    * the joined rows are identical). */
  private[graft] def q111OracleSql: String = s"""
      WITH $bowDenseSql,
      dense_h AS (SELECT * FROM dense
                  WHERE doc_id < 1000000 AND doc_id % 10 < 7),
      dense_n AS (SELECT * FROM dense
                  WHERE NOT (doc_id < 1000000 AND doc_id % 10 < 7)),
      cents0 AS (SELECT doc_id AS cent_id, v AS cv FROM dense_h
                 ORDER BY doc_id LIMIT 16),
      means0 AS (SELECT CAST(cent_id AS INT) AS cell,
                        CAST(unnest(generate_series(1, len(cv))) AS INT)
                          AS dim,
                        unnest(cv) AS c
                 FROM cents0),
      ${lloydRoundSql(1, "dense_h")},
      ${lloydRoundSql(2, "dense_h")},
      rcF AS (SELECT cell, list(c ORDER BY dim) AS cv
              FROM means2 GROUP BY cell),
      asgH AS (SELECT doc_id, v, CAST(cell AS INT) AS cell FROM (
          SELECT d.doc_id, d.v, r.cell,
                 row_number() OVER (PARTITION BY d.doc_id
                   ORDER BY list_cosine_similarity(d.v, r.cv) DESC,
                            r.cell ASC) AS rn
          FROM dense_h d CROSS JOIN rcF r) WHERE rn = 1),
      asgN AS (SELECT doc_id, v, CAST(cell AS INT) AS cell FROM (
          SELECT d.doc_id, d.v, r.cell,
                 row_number() OVER (PARTITION BY d.doc_id
                   ORDER BY list_cosine_similarity(d.v, r.cv) DESC,
                            r.cell ASC) AS rn
          FROM dense_n d CROSS JOIN rcF r) WHERE rn = 1),
      vs_hist AS (SELECT h.cell, n.doc_id AS dup_id,
                         h.doc_id AS kept0,
                         round(list_cosine_similarity(h.v, n.v), 6) AS cos6
                  FROM asgH h JOIN asgN n ON h.cell = n.cell
                  WHERE round(list_cosine_similarity(h.v, n.v), 6) >= 0.95),
      in_batch AS (SELECT a.cell, b.doc_id AS dup_id,
                          a.doc_id AS kept0,
                          round(list_cosine_similarity(a.v, b.v), 6) AS cos6
                   FROM asgN a JOIN asgN b
                     ON a.cell = b.cell AND a.doc_id < b.doc_id
                   WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95)
      SELECT cell, dup_id, min(kept0) AS kept_id,
             max(cos6) AS max_cosine
      FROM (SELECT * FROM vs_hist UNION ALL SELECT * FROM in_batch)
      GROUP BY 1, 2 ORDER BY dup_id"""

  /** q113: q111's fit/assignment, then TWO sequential dedup stages —
    * batch 1 (even new ids) against history, batch 2 (odd) against
    * history PLUS batch 1's survivors — replaying the streaming loop's
    * grow-the-index semantics exactly. */
  private[graft] def q113OracleSql: String = s"""
      WITH $bowDenseSql,
      dense_h AS (SELECT * FROM dense
                  WHERE doc_id < 1000000 AND doc_id % 10 < 7),
      dense_n AS (SELECT * FROM dense
                  WHERE NOT (doc_id < 1000000 AND doc_id % 10 < 7)),
      cents0 AS (SELECT doc_id AS cent_id, v AS cv FROM dense_h
                 ORDER BY doc_id LIMIT 16),
      means0 AS (SELECT CAST(cent_id AS INT) AS cell,
                        CAST(unnest(generate_series(1, len(cv))) AS INT)
                          AS dim,
                        unnest(cv) AS c
                 FROM cents0),
      ${lloydRoundSql(1, "dense_h")},
      ${lloydRoundSql(2, "dense_h")},
      rcF AS (SELECT cell, list(c ORDER BY dim) AS cv
              FROM means2 GROUP BY cell),
      asgH AS (SELECT doc_id, v, CAST(cell AS INT) AS cell FROM (
          SELECT d.doc_id, d.v, r.cell,
                 row_number() OVER (PARTITION BY d.doc_id
                   ORDER BY list_cosine_similarity(d.v, r.cv) DESC,
                            r.cell ASC) AS rn
          FROM dense_h d CROSS JOIN rcF r) WHERE rn = 1),
      asgN AS (SELECT doc_id, v, CAST(cell AS INT) AS cell FROM (
          SELECT d.doc_id, d.v, r.cell,
                 row_number() OVER (PARTITION BY d.doc_id
                   ORDER BY list_cosine_similarity(d.v, r.cv) DESC,
                            r.cell ASC) AS rn
          FROM dense_n d CROSS JOIN rcF r) WHERE rn = 1),
      n1 AS (SELECT * FROM asgN WHERE doc_id % 2 = 0),
      n2 AS (SELECT * FROM asgN WHERE doc_id % 2 = 1),
      d1 AS (SELECT cell, dup_id, min(kept0) AS kept_id,
                    max(cos6) AS max_cosine
             FROM (
               SELECT h.cell, b.doc_id AS dup_id, h.doc_id AS kept0,
                      round(list_cosine_similarity(h.v, b.v), 6) AS cos6
               FROM asgH h JOIN n1 b ON h.cell = b.cell
               WHERE round(list_cosine_similarity(h.v, b.v), 6) >= 0.95
               UNION ALL
               SELECT a.cell, b.doc_id, a.doc_id,
                      round(list_cosine_similarity(a.v, b.v), 6)
               FROM n1 a JOIN n1 b
                 ON a.cell = b.cell AND a.doc_id < b.doc_id
               WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95)
             GROUP BY 1, 2),
      hist2 AS (SELECT * FROM asgH
                UNION ALL
                SELECT * FROM n1
                WHERE doc_id NOT IN (SELECT dup_id FROM d1)),
      d2 AS (SELECT cell, dup_id, min(kept0) AS kept_id,
                    max(cos6) AS max_cosine
             FROM (
               SELECT h.cell, b.doc_id AS dup_id, h.doc_id AS kept0,
                      round(list_cosine_similarity(h.v, b.v), 6) AS cos6
               FROM hist2 h JOIN n2 b ON h.cell = b.cell
               WHERE round(list_cosine_similarity(h.v, b.v), 6) >= 0.95
               UNION ALL
               SELECT a.cell, b.doc_id, a.doc_id,
                      round(list_cosine_similarity(a.v, b.v), 6)
               FROM n2 a JOIN n2 b
                 ON a.cell = b.cell AND a.doc_id < b.doc_id
               WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95)
             GROUP BY 1, 2)
      SELECT cell, dup_id, kept_id, max_cosine
      FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
      ORDER BY dup_id"""
}
