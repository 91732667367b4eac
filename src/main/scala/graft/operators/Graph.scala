package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph measures as plain DataFrame joins — PageRank over
  * an edge list, plus the co-occurrence edge builder that turns a
  * (group, item) relation into the item-similarity graph ("parts
  * ordered together", "docs sharing a near-dup band"). The dedup side
  * of the engine already runs one fixed-point graph algorithm
  * (connected components, Dedup.scala); PageRank is the other one a
  * curation pipeline wants — rank items/domains by centrality before
  * sampling.
  *
  * Scale shape: each iteration is ONE edge-by-src equi-join against
  * the k-row rank frame plus one dst-keyed aggregation — both shuffle
  * by node id, and with the edge list bucketed by src the join side
  * of every iteration is exchange-free. Each round's rank frame is a
  * lazy local checkpoint, so lineage stays flat, and superseded rounds
  * are released after the next materializing action (the
  * [[graft.llm.KMeans.fit]] loop discipline).
  *
  * Determinism contract (what a SQL oracle can replay): with
  * `deterministic = true` the per-node contribution sum is a left
  * fold over the VALUE-SORTED contribution list — the q103
  * deterministicAvg trick — making every iteration bit-exact across
  * engines (plain `sum()` re-adds in partition order, off by ULPs).
  * The scale path keeps the plain sum: collect-per-node lists are
  * bounded by in-degree, so the fold mode is for verification and
  * moderate-degree graphs.
  *
  * The default fast path skips dangling-mass redistribution (nodes
  * without out-edges leak their mass — the standard simplification;
  * symmetric edge sets like [[coOccurrenceEdges]] output have no such
  * nodes). `danglingMass = true` turns on the textbook redistribution
  * for arbitrary edge lists at one scalar aggregate per round.
  */
object Graph {

  /** Rounds of lazy lineage between materialization barriers in the
    * [[pageRank]] loop. */
  private val MatEvery = 6

  private def isLong(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType == org.apache.spark.sql.types.LongType

  /** The DRIVER fast paths of the bounded-round graph loops (guide
    * §1.2: the fastest distributed algorithm for a small graph is none
    * at all — a fixed-round loop pays 2+ Spark jobs per round
    * regardless of data size) pull their edge list with
    * [[Local.collectWithin]]: ONE job that returns the (c1, c2) long
    * pairs if they fit [[Local.budget]] bytes, else `None` (also for
    * non-long columns), and the loop runs in-memory, producing
    * BIT-IDENTICAL output (integer ops replay exactly; the
    * deterministic PageRank fold is the same sorted left fold the
    * engine's aggregate() runs — GraphSpec pins local ≡ distributed
    * for every loop). Past the budget the distributed loop runs
    * unchanged — at 100 TB a real graph simply stays on the cluster.
    * Same discipline as Bpe.trainLocal and the connectedComponents
    * fast path. */
  private def edgesWithin(df: DataFrame, c1: String, c2: String)
      : Option[Array[(Long, Long)]] =
    if (!isLong(df, c1) || !isLong(df, c2)) None
    else Local.collectWithin(df.select(col(c1), col(c2)))
      .map(_.map(r => (r.getLong(0), r.getLong(1))))

  /** Cap on the driver-side wedge probes of the triangle and
    * link-prediction fast paths: one per 4 bytes of the byte budget
    * (16M at the 64 MiB default, about 7 per edge that fits). Past it
    * the distributed join, which spreads the wedges, runs instead. */
  private def wedgeCap: Long = Local.budget / 4

  private def longLongSchema(n1: String, n2: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(n1,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(n2,
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** The deterministic-mode per-node reduction, replayed on the
    * driver: sort the contribution values ascending and left-fold
    * from 0.0 — EXACTLY the `aggregate(array_sort(collect_list(c)),
    * 0.0, _+_)` the distributed loop runs, so the double is
    * bit-identical (no negatives or NaNs arise in rank arithmetic,
    * so Arrays.sort and Spark's double ordering agree). */
  private def sortedFold(xs: Array[Double]): Double = {
    java.util.Arrays.sort(xs)
    var acc = 0.0
    var i = 0
    while (i < xs.length) { acc += xs(i); i += 1 }
    acc
  }

  private def rowsToDf(spark: org.apache.spark.sql.SparkSession,
                       rows: Seq[org.apache.spark.sql.Row],
                       schema: org.apache.spark.sql.types.StructType)
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Undirected degree census over canonical (a < b) edges. */
  private def degLocal(canon: Array[(Long, Long)])
      : scala.collection.mutable.HashMap[Long, Long] = {
    val deg = scala.collection.mutable.HashMap.empty[Long, Long]
    canon.foreach { case (a, b) =>
      deg.update(a, deg.getOrElse(a, 0L) + 1L)
      deg.update(b, deg.getOrElse(b, 0L) + 1L)
    }
    deg
  }

  /** [[triangleCounts]]' degree-oriented enumeration on the driver:
    * orient each canonical edge toward the higher (degree, id)
    * endpoint, enumerate wedges from out-neighbor pairs ordered by
    * (degree, id), close against the oriented set — every triangle
    * counted once at its minimum corner, per-node counts union the
    * three corners. Returns node → triangle count (nodes in no
    * triangle absent, as in the distributed aggregation). */
  private def triangleCountsLocalMap(canon: Array[(Long, Long)])
      : Option[scala.collection.mutable.HashMap[Long, Long]] = {
    import scala.collection.mutable
    val deg = degLocal(canon)
    val out = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    val oriented = mutable.HashSet.empty[(Long, Long)]
    canon.foreach { case (a, b) =>
      val (u, v) =
        if (deg(a) < deg(b) || (deg(a) == deg(b) && a < b)) (a, b)
        else (b, a)
      out.getOrElseUpdate(u, mutable.ArrayBuffer.empty[Long]) += v
      oriented += ((u, v))
    }
    // the actual wedge volume is known exactly here — orientation
    // bounds it at O(m^1.5), which at the full edge budget could
    // still be billions of driver-side probes; past the cap the
    // distributed join (which spreads the wedges) handles it
    val wedgeVol = out.valuesIterator.map { vs =>
      vs.length.toLong * vs.length.toLong }.sum
    if (wedgeVol > wedgeCap) return None
    val tri = mutable.HashMap.empty[Long, Long]
    def bump(nd: Long): Unit = tri.update(nd, tri.getOrElse(nd, 0L) + 1L)
    out.foreach { case (u, vs) =>
      val arr = vs.toArray
      var i = 0
      while (i < arr.length) {
        var j = 0
        while (j < arr.length) {
          val x = arr(i); val y = arr(j)
          // wedge ordered by (deg, id): x strictly before y
          if ((deg(x) < deg(y) || (deg(x) == deg(y) && x < y)) &&
              oriented.contains((x, y))) {
            bump(u); bump(x); bump(y)
          }
          j += 1
        }
        i += 1
      }
    }
    Some(tri)
  }

  /** Distinct directed co-occurrence edges from a (group, item)
    * relation: src and dst co-occur in some group, both directions,
    * never self. Distinct-before-join bounds the pair explosion to
    * Σ|group|² over DISTINCT members, and the output dedups again. */
  def coOccurrenceEdges(rel: DataFrame, group: org.apache.spark.sql.Column,
                        item: org.apache.spark.sql.Column): DataFrame = {
    val m = rel.select(group.as("g"), item.as("i")).distinct()
    m.join(m.withColumnRenamed("i", "j"), Seq("g"))
      .filter(col("i") =!= col("j"))
      .select(col("i").as("src"), col("j").as("dst"))
      .distinct()
  }

  /** [[coOccurrenceEdges]] with an integer co-occurrence strength:
    * `w` = number of DISTINCT groups the pair shares (exact counts —
    * the weighted-rank arithmetic stays exact-ratio downstream). */
  def coOccurrenceEdgesWeighted(rel: DataFrame,
                                group: org.apache.spark.sql.Column,
                                item: org.apache.spark.sql.Column)
      : DataFrame = {
    val m = rel.select(group.as("g"), item.as("i")).distinct()
    m.join(m.withColumnRenamed("i", "j"), Seq("g"))
      .filter(col("i") =!= col("j"))
      .groupBy(col("i").as("src"), col("j").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Triangle count per node over an UNDIRECTED edge set (input may
    * be the symmetric [[coOccurrenceEdges]] output; it is
    * canonicalized to src < dst internally): the classic cohesion
    * signal — a node in many triangles sits in a dense community, a
    * high-degree node in none is a hub/spam shape. Exact integer
    * counts, so the oracle compares with no rounding anywhere.
    *
    * DEGREE-ORIENTED (the skew-safe formulation): every canonical
    * edge is re-pointed from its lower-(degree, id) endpoint to its
    * higher one, wedges are built only from each node's OUT-neighbor
    * pairs, and the closing edge is looked up in the same oriented
    * set. Out-degree under this orientation is ≤ O(√m) on any graph,
    * so the wedge volume drops from the naive Σ deg² (quadratic in
    * the hub degree on a power-law graph) to Σ min-deg² ≈ O(m^1.5) —
    * the difference between "works on co-occurrence graphs" and
    * "survives the hub nodes of a production graph". Every triangle
    * {u,x,y} closes exactly once (at its minimum-(deg,id) corner);
    * per-node counts union the three corners. All joins remain node-
    * id equi-joins AQE can skew-split. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val canonical = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // DRIVER FAST PATH: the degree-oriented enumeration is exact
    // integer counting — a driver replay (same orientation, same
    // wedge bound Σ min-deg² ≈ O(m^1.5)) is identical by construction
    // (GraphSpec law). Past the budget or the wedge cap the join
    // pipeline runs unchanged.
    edgesWithin(canonical, "a", "b").flatMap(triangleCountsLocalMap)
      .foreach { tri =>
        val nodes = tri.keys.toArray
        java.util.Arrays.sort(nodes)
        return rowsToDf(edges.sparkSession,
          nodes.toSeq.map(nd => org.apache.spark.sql.Row(nd, tri(nd))),
          longLongSchema("node", "triangles"))
      }
    val canon = canonical.localCheckpoint(false)
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    // orient a—b toward the higher (degree, id); carry the endpoint
    // degrees so the wedge ordering below needs no further join
    val oriented = canon
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      .localCheckpoint(false)
    // wedges at the min-(deg,id) corner: out-neighbor pairs ordered by
    // (deg, id) so the closing edge's orientation x→y is determined
    val wedges = oriented.select(col("u"), col("v").as("x"),
        col("dv").as("dx"))
      .join(oriented.select(col("u"), col("v").as("y"),
        col("dv").as("dy")), Seq("u"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val tris = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    val perCorner = tris.select(col("u").as("node"))
      .unionAll(tris.select(col("x").as("node")))
      .unionAll(tris.select(col("y").as("node")))
    // the result outlives the call: checkpoint it eagerly, then the
    // frames it was computed from are dead
    val out = perCorner.groupBy(col("node"))
      .agg(count(lit(1)).as("triangles"))
      .localCheckpoint()
    Lifecycle.release(oriented)
    Lifecycle.release(canon)
    out
  }

  /** Local clustering coefficient per node: 2·triangles / (d·(d−1))
    * over the canonical undirected edge set — the per-node cohesion
    * ratio (1 = my neighbors all know each other, 0 = hub). Exact
    * integer counts and one pinned-order IEEE division, so the
    * coefficient hash-compares UNROUNDED. Degree-<2 nodes report 0.0
    * (no wedge is possible — the textbook convention). Cost =
    * [[triangleCounts]] (degree-oriented, Σ min-deg² wedges) + one
    * node-keyed degree aggregate + one left join. */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val canon = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // DRIVER FAST PATH: degree census + triangle counts + the one
    // pinned-order IEEE division, all replayed locally (GraphSpec
    // law) — 2.0 * tri.toDouble / (d*(d-1)).toDouble matches the
    // distributed cast-then-divide exactly.
    edgesWithin(canon, "a", "b").foreach { rows =>
      triangleCountsLocalMap(rows).foreach { tri =>
        val dl = degLocal(rows)
        val nodes = dl.keys.toArray
        java.util.Arrays.sort(nodes)
        return rowsToDf(edges.sparkSession,
          nodes.toSeq.map { nd =>
            val d = dl(nd)
            val t = tri.getOrElse(nd, 0L)
            val coeff =
              if (d >= 2) (2.0 * t.toDouble) / (d * (d - 1)).toDouble
              else 0.0
            org.apache.spark.sql.Row(nd, d, t, coeff)
          },
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("node",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("d",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("triangles",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("coeff",
              org.apache.spark.sql.types.DoubleType, nullable = false))))
      } // wedge volume too big: distributed below
    }
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    deg.join(triangleCounts(edges), Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("coeff",
        when(col("d") >= 2,
          (lit(2.0) * col("triangles").cast("double")) /
            (col("d") * (col("d") - 1)).cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Multi-source BFS hop distance over a DIRECTED (src, dst) edge
    * list: returns (node, hop) — the minimum number of edges from any
    * seed node, seeds at hop 0, exploration capped at `maxHops`.
    * The "blast radius" primitive: reachability from a flagged seed
    * set (compromised accounts, recalled parts, seed URLs for crawl
    * frontier scheduling).
    *
    * Scale shape: classic frontier iteration — each round ONE
    * frontier-by-src equi-join against the edge list plus ONE
    * anti-join against the visited set, both node-id shuffles AQE can
    * skew-split; the frontier is distinct-ed before the join so a
    * round's work is bounded by |frontier|·avg-deg, never by path
    * multiplicity (the path-counting blowup stays in the oracle's
    * recursive CTE, not here). Early exit on an empty frontier; the
    * per-round count doubles as the materializing action of the
    * round's checkpoint, so lineage stays flat (the [[pageRank]] loop
    * discipline). */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int)
      : DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val distinctEdges = edges.select(col("src"), col("dst")).distinct()
    val seedNodes = seeds.select(col("node")).distinct()
    // DRIVER FAST PATH: min-hop BFS is pure integer frontier
    // expansion — exact on the driver (GraphSpec law). Long node ids
    // only (the pipeline-staleness caller uses string ids and falls
    // through to the distributed loop).
    if (isLong(seedNodes, "node"))
      for (eRows <- edgesWithin(distinctEdges, "src", "dst");
           sRows <- Local.collectWithin(seedNodes))
        return bfsHopsLocal(edges.sparkSession, eRows,
          sRows.map(_.getLong(0)), maxHops)
    val e = distinctEdges.localCheckpoint(false)
    val seed = seedNodes.withColumn("hop", lit(0)).localCheckpoint()
    // visited = lazy union of MATERIALIZED per-hop frontier
    // checkpoints — each round costs exactly ONE action (the frontier
    // count that materializes its checkpoint); the anti-join unions k
    // checkpointed frames, never recomputes them
    var visited = seed
    val rounds =
      scala.collection.mutable.ArrayBuffer[DataFrame](seed)
    var frontier = seed.select(col("node"))
    var hop = 0
    var done = hop >= maxHops
    while (!done) {
      hop += 1
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hop", lit(hop))
        .localCheckpoint(false)
      if (next.count() == 0L) {
        Lifecycle.release(next); done = true
      } else {
        visited = visited.unionByName(next)
        rounds += next
        frontier = next.select(col("node"))
        done = hop >= maxHops
      }
    }
    // detach the result from the per-hop checkpoints (an eager
    // checkpoint materializes the union once) so every round can be
    // released HERE — callers get a self-contained frame and no
    // blocks accumulate across repeated calls
    val out = visited.localCheckpoint()
    rounds.foreach(Lifecycle.release)
    Lifecycle.release(e)
    out
  }

  /** [[bfsHops]] replayed on the driver: seeds at hop 0, frontier
    * expansion to maxHops, min hop per node — all integer ops. */
  private def bfsHopsLocal(spark: org.apache.spark.sql.SparkSession,
                           edges: Array[(Long, Long)],
                           seeds: Array[Long], maxHops: Int): DataFrame = {
    import scala.collection.mutable
    val out = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    edges.foreach { case (s, d) =>
      out.getOrElseUpdate(s, mutable.ArrayBuffer.empty[Long]) += d }
    val visited = mutable.HashMap.empty[Long, Int]
    seeds.foreach(visited(_) = 0)
    var frontier = seeds.toSet
    var hop = 0
    while (hop < maxHops && frontier.nonEmpty) {
      hop += 1
      val next = mutable.HashSet.empty[Long]
      frontier.foreach { nd =>
        out.get(nd).foreach(_.foreach { d =>
          if (!visited.contains(d)) { visited(d) = hop; next += d }
        })
      }
      frontier = next.toSet
    }
    val nodes = visited.keys.toArray
    java.util.Arrays.sort(nodes)
    rowsToDf(spark,
      nodes.toSeq.map(nd =>
        org.apache.spark.sql.Row(nd, visited(nd))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("hop",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
  }

  /** Common-neighbor link prediction over an UNDIRECTED edge set:
    * for node pairs NOT already connected, count shared neighbors and
    * report the neighborhood-Jaccard as an exact integer ratio
    * (jac_num = |N(x)∩N(y)|, jac_den = |N(x)∪N(y)| = dx + dy − cn) —
    * the "people you may know" / related-item candidate generator,
    * and the integer core of Adamic-Adar-family scores. Top `topK`
    * by (common-neighbors desc, x, y) for a deterministic surface.
    *
    * Scale shape: wedge generation is one adjacency self-join keyed
    * by the shared neighbor — Σ deg² pairs, the volume of a naive
    * lowest-id triangle enumeration. `maxWedgeDegree` is the skew escape
    * hatch: hub nodes above the cap are excluded as WEDGE CENTERS
    * (standard candidate-generation practice — a 10⁶-degree hub
    * certifies no meaningful similarity and would alone contribute
    * 10¹² pairs). Capped runs are approximate-by-contract: pairs
    * whose only common neighbors are hubs are missed; cn/jaccard for
    * surviving pairs count UNCAPPED degrees, so scores are exact. */
  def linkPrediction(edges: DataFrame, topK: Int,
                     maxWedgeDegree: Option[Long] = None): DataFrame = {
    val canonical = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // DRIVER FAST PATH: exact integer cn/jaccard with a total-order
    // top-K (jac_num desc, x, y) — a driver replay is identical
    // (GraphSpec law). Guarded TWICE: the byte budget, and the actual
    // wedge volume Σ d·(d−1)/2 over wedge centers (known exactly once
    // degrees are in hand) — a hub-heavy uncapped graph falls through
    // to the distributed join, which AQE can skew-split.
    edgesWithin(canonical, "a", "b").foreach { rows =>
      val dl = degLocal(rows)
      val wedgeVol = dl.valuesIterator
        .filter(d => maxWedgeDegree.forall(d <= _))
        .map(d => d * (d - 1) / 2).sum
      if (wedgeVol <= wedgeCap)
        return linkPredictionLocal(edges.sparkSession, rows, dl, topK,
          maxWedgeDegree)
    }
    val canon = canonical.localCheckpoint(false)
    val adj = canon.select(col("a").as("n"), col("b").as("nbr"))
      .unionAll(canon.select(col("b").as("n"), col("a").as("nbr")))
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("d"))
    val centers = maxWedgeDegree.fold(adj)(cap =>
      adj.join(deg.filter(col("d") <= cap).select(col("n")), Seq("n")))
    val cn = centers.select(col("n"), col("nbr").as("x"))
      .join(centers.select(col("n"), col("nbr").as("y")), Seq("n"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cn"))
    val candidates = cn.join(canon,
        cn("x") === canon("a") && cn("y") === canon("b"), "left_anti")
      .join(deg.select(col("n").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("n").as("y"), col("d").as("dy")), Seq("y"))
      .select(col("x"), col("y"), col("cn").as("jac_num"),
        (col("dx") + col("dy") - col("cn")).as("jac_den"))
    val out = candidates.orderBy(col("jac_num").desc, col("x"), col("y"))
      .limit(topK)
      .localCheckpoint()
    Lifecycle.release(canon)
    out
  }

  /** [[linkPrediction]] replayed on the driver: wedge counts from
    * capped centers, existing edges excluded, UNCAPPED degrees in the
    * jaccard — then the total-order top-K. All integer ops. */
  private def linkPredictionLocal(
      spark: org.apache.spark.sql.SparkSession,
      canon: Array[(Long, Long)],
      deg: scala.collection.mutable.HashMap[Long, Long],
      topK: Int, maxWedgeDegree: Option[Long]): DataFrame = {
    import scala.collection.mutable
    val nbrs = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    canon.foreach { case (a, b) =>
      nbrs.getOrElseUpdate(a, mutable.ArrayBuffer.empty[Long]) += b
      nbrs.getOrElseUpdate(b, mutable.ArrayBuffer.empty[Long]) += a
    }
    val existing = mutable.HashSet.empty[(Long, Long)]
    canon.foreach(existing += _)
    val cn = mutable.HashMap.empty[(Long, Long), Long]
    nbrs.foreach { case (n, vs) =>
      if (maxWedgeDegree.forall(deg(n) <= _)) {
        val arr = vs.toArray
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            val (x, y) =
              if (arr(i) < arr(j)) (arr(i), arr(j)) else (arr(j), arr(i))
            if (x != y) // parallel wedge arms cannot tie (distinct nbrs)
              cn.update((x, y), cn.getOrElse((x, y), 0L) + 1L)
            j += 1
          }
          i += 1
        }
      }
    }
    val cand = cn.iterator
      .filter { case (p, _) => !existing.contains(p) }
      .map { case ((x, y), c) => (x, y, c, deg(x) + deg(y) - c) }
      .toArray
      .sortBy { case (x, y, c, _) => (-c, x, y) }
      .take(topK)
    rowsToDf(spark,
      cand.toSeq.map { case (x, y, c, d) =>
        org.apache.spark.sql.Row(x, y, c, d) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("y",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("jac_num",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("jac_den",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * UNDIRECTED edge set, fully DETERMINIZED: every node starts
    * labeled with its own id; each round every node adopts the label
    * held by the plurality of its neighbors, ties broken by the
    * SMALLEST label (the async/random-order variants of the paper
    * converge faster but are irreproducible — a fixed round count
    * with pinned tie-breaks is what an oracle can replay). Densely
    * intra-connected regions agree on their minimum id within a few
    * rounds — the cheap community detector a curation pipeline runs
    * to group near-duplicate clusters or co-purchase neighborhoods.
    *
    * Scale shape per round: one adjacency-by-neighbor equi-join
    * against the |V|-row label frame + one (node, label) count
    * aggregate + one node-keyed arg-min — all id-keyed shuffles; the
    * adjacency is staged once. Each round's label frame is a lazy
    * checkpoint, released in batches with the [[pageRank]]
    * discipline. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val canon = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // DRIVER FAST PATH: the loop is pure integer arithmetic with
    // pinned tie-breaks (plurality count, min label), so a driver
    // replay is exact by construction (GraphSpec law). Past the budget
    // the distributed loop runs unchanged off the lazy plan.
    edgesWithin(canon, "a", "b").foreach { rows =>
      return labelPropagationLocal(edges.sparkSession, rows, rounds)
    }
    val adj = canon.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(canon.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint(false)
    var labels = adj.select(col("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    val pending = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (i <- 1 to rounds) {
      val counts = adj
        .join(labels.withColumnRenamed("node", "nbr"), Seq("nbr"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val next = counts.groupBy(col("node"))
        .agg(min(struct((-col("__c")).as("__nc"), col("label")))
          .as("__m"))
        .select(col("node"), col("__m.label").as("label"))
        .localCheckpoint(false)
      pending += labels
      if (i % MatEvery == 0) {
        next.count() // materialize, then free the superseded rounds
        pending.foreach(Lifecycle.release)
        pending.clear()
      }
      labels = next
    }
    // the result outlives the call: checkpoint it eagerly, then the
    // rounds it was computed from are dead
    val out = labels.localCheckpoint()
    (pending :+ labels).foreach(Lifecycle.release)
    Lifecycle.release(adj)
    out
  }

  /** [[labelPropagation]] replayed on the driver over collected
    * canonical (a < b) undirected edges — synchronous rounds,
    * plurality label, smallest-label tie-break; all integer ops. */
  private def labelPropagationLocal(
      spark: org.apache.spark.sql.SparkSession,
      canon: Array[(Long, Long)], rounds: Int): DataFrame = {
    import scala.collection.mutable
    val nbrs = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    canon.foreach { case (a, b) =>
      nbrs.getOrElseUpdate(a, mutable.ArrayBuffer.empty[Long]) += b
      nbrs.getOrElseUpdate(b, mutable.ArrayBuffer.empty[Long]) += a
    }
    val nodes = nbrs.keys.toArray
    java.util.Arrays.sort(nodes)
    var labels = mutable.HashMap.empty[Long, Long]
    nodes.foreach(nd => labels(nd) = nd)
    for (_ <- 1 to rounds) {
      val next = mutable.HashMap.empty[Long, Long]
      nodes.foreach { nd =>
        val counts = mutable.HashMap.empty[Long, Long]
        nbrs(nd).foreach { nb =>
          val l = labels(nb)
          counts.update(l, counts.getOrElse(l, 0L) + 1L)
        }
        // min over (-count, label): plurality, then smallest label
        var bestL = Long.MaxValue
        var bestC = 0L
        counts.foreach { case (l, c) =>
          if (c > bestC || (c == bestC && l < bestL)) {
            bestC = c; bestL = l
          }
        }
        next(nd) = bestL
      }
      labels = next
    }
    rowsToDf(spark,
      nodes.toSeq.map(nd => org.apache.spark.sql.Row(nd, labels(nd))),
      longLongSchema("node", "label"))
  }

  /** Fixed-iteration PageRank over a (src, dst) edge list: returns
    * (node, pr) for every node appearing as a source. Uniform init
    * 1/N, per-iteration pr' = (1-d)/N + d·Σ_in pr(u)/outdeg(u).
    * With `weighted = true` the edge list carries a `w` column and
    * contributions split proportionally: pr·w(u,v)/Σ_out w(u,·).
    *
    * `danglingMass = true` is the TEXTBOOK variant for arbitrary edge
    * lists: the node set becomes src ∪ dst, and each round the rank
    * mass sitting on dangling nodes (no out-edges) is redistributed
    * uniformly — pr' = (1-d)/N + d·(Σ_in pr/outdeg + dm/N) with
    * dm = Σ_dangling pr. Costs ONE extra scalar aggregate per round
    * (which also materializes each round's rank frame, losing the
    * lazy-batch discipline) — keep the default fast path for
    * symmetric graphs ([[coOccurrenceEdges]] output has no sinks;
    * both paths are identical there except the per-round barrier).
    *
    * `restart = Some(seeds)` makes it PERSONALIZED PageRank (the
    * recommendation/trust-propagation form): the teleport vector
    * concentrates on the seed set instead of being uniform —
    * r_i = 1/|S| for seeds, 0 elsewhere; init pr = r and each round
    * pr' = (1-d)·r + d·(Σ_in + dm·r). Rank mass then measures
    * proximity TO THE SEEDS, not global centrality. Costs one extra
    * left-semi-derived column on the staged node frame — the loop
    * shape is unchanged. Seeds must be nodes of the graph. */
  def pageRank(edges: DataFrame, iterations: Int,
               damping: Double = 0.85,
               deterministic: Boolean = false,
               weighted: Boolean = false,
               danglingMass: Boolean = false,
               restart: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val edgeList =
      if (weighted) edges.select(col("src"), col("dst"), col("w"))
      else edges.select(col("src"), col("dst"), lit(1L).as("w"))
    // DRIVER FAST PATH (deterministic mode only — its value-sorted
    // fold IS the replayable reduction; the plain-sum scale mode has
    // no driver-reproducible ordering, so it always stays
    // distributed): under [[Local.budget]] the edge list is pulled in
    // one job and the fixed-round loop replays in-memory with the
    // exact IEEE op sequence of the distributed plan — bit-identical
    // by construction, pinned by GraphSpec's local≡distributed laws.
    // Past the budget the loop below runs unchanged.
    if (deterministic && isLong(edgeList, "src") &&
        isLong(edgeList, "dst") && isLong(edgeList, "w") &&
        restart.forall(s => s.schema.head.dataType ==
          org.apache.spark.sql.types.LongType))
      Local.collectWithin(edgeList).foreach { rs =>
        val rows = rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val seedArr = restart.map(s =>
          s.select(col(s.columns.head)).distinct().collect()
            .map(_.getLong(0)))
        return pageRankLocalDet(edges.sparkSession, rows, iterations,
          damping, danglingMass, seedArr)
      }
    val e = edgeList.localCheckpoint(false)
    // deg/nodes/N are referenced EVERY round — stage them once so no
    // iteration re-shuffles the edge list for its side frames
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("outdeg"))
      .localCheckpoint(false)
    val nodes = (if (danglingMass)
        e.select(col("src").as("node"))
          .unionByName(e.select(col("dst").as("node")))
      else e.select(col("src").as("node"))).distinct()
      .localCheckpoint(false)
    // dangling = ranked nodes with no out-edges; only they can leak
    val dangling = if (danglingMass)
        Some(nodes.join(deg.withColumnRenamed("src", "node"), Seq("node"),
          "left_anti").localCheckpoint(false))
      else None
    // N as a loop constant: one scalar action up front (the KMeans/Bpe
    // loop-constant precedent) instead of a broadcast-crossjoin of a
    // single-row frame EVERY round — the division itself stays the
    // same IEEE op the SQL oracle performs on its counted double
    val n = nodes.count().toDouble
    // personalized teleport vector r staged ONCE on the node frame;
    // null (not a column) in the uniform case so the uniform path's
    // arithmetic stays literally the (1-d)/N form existing oracles
    // replay (r·(1-d) would differ by a ULP from (1-d)/N)
    val nodesR = restart.map { seeds =>
      val s = seeds.select(col(seeds.columns.head).as("node")).distinct()
      val sn = s.count().toDouble
      nodes.join(s.withColumn("__seed", lit(1)), Seq("node"), "left")
        .select(col("node"),
          when(col("__seed").isNotNull, lit(1.0) / lit(sn))
            .otherwise(lit(0.0)).as("r"))
        .localCheckpoint(false)
    }
    var pr = nodesR
      .map(_.select(col("node"), col("r").as("pr")))
      .getOrElse(nodes.select(col("node"),
        (lit(1.0) / lit(n)).as("pr")))
      .localCheckpoint(false)
    // rank frames are lazy checkpoints that MATERIALIZE in batches: an
    // action per round multiplies per-job overhead on k-row frames,
    // so a count() every `MatEvery` rounds materializes the latest
    // round and frees the superseded ones
    val pending = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (i <- 1 to iterations) {
      val contribs = e
        // rank/degree joins stay unhinted: AQE broadcasts the
        // node-sized side at runtime when it fits and falls back to
        // the co-partitioned shuffle when the node set outgrows it
        .join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"),
          // w=1 on unweighted graphs: ×1.0 is IEEE-exact, so this is
          // bit-identical to the plain pr/outdeg form
          ((col("pr") * col("w").cast("double"))
            / col("outdeg").cast("double")).as("c"))
      val sums =
        if (deterministic)
          contribs.groupBy(col("node")).agg(
            aggregate(array_sort(collect_list(col("c"))), lit(0.0),
              (acc, x) => acc + x).as("s"))
        else
          contribs.groupBy(col("node")).agg(sum(col("c")).as("s"))
      // dangling mass this round, as a driver scalar (the loop-constant
      // discipline): deterministic mode folds the value-sorted list so
      // an oracle replays the sum bit-for-bit
      val dm = dangling.fold(0.0) { dn =>
        val prd = pr.join(dn, Seq("node"), "left_semi")
        val r = (if (deterministic)
            prd.agg(aggregate(array_sort(collect_list(col("pr"))),
              lit(0.0), (acc, x) => acc + x))
          else prd.agg(sum(col("pr")))).collect()(0)
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }
      val next = (nodesR match {
        case Some(nr) => // personalized: teleport + dangling go to r
          val inner =
            if (danglingMass)
              coalesce(col("s"), lit(0.0)) + lit(dm) * col("r")
            else coalesce(col("s"), lit(0.0))
          nr.join(sums, Seq("node"), "left")
            .select(col("node"),
              (lit(1.0 - damping) * col("r") + lit(damping) * inner)
                .as("pr"))
        case None =>
          nodes.join(sums, Seq("node"), "left")
            .select(col("node"),
              (if (danglingMass)
                lit(1.0 - damping) / lit(n) +
                  lit(damping) * (coalesce(col("s"), lit(0.0)) +
                    lit(dm / n))
              else
                lit(1.0 - damping) / lit(n) +
                  lit(damping) * coalesce(col("s"), lit(0.0))).as("pr"))
      }).localCheckpoint(false)
      pending += pr
      if (i % MatEvery == 0) {
        next.count() // materialize, then free the superseded rounds
        pending.foreach(Lifecycle.release)
        pending.clear()
      }
      pr = next
    }
    // the result outlives the call: checkpoint it eagerly, then every
    // frame it was computed from is dead
    val out = pr.localCheckpoint()
    (pending ++ Seq(pr, e, deg, nodes) ++ nodesR ++ dangling)
      .foreach(Lifecycle.release)
    out
  }

  /** The deterministic [[pageRank]] loop replayed on the driver over
    * a collected (src, dst, w) edge array. Every double op mirrors
    * the distributed plan exactly: contributions are
    * pr(src) * w.toDouble / outdeg(src).toDouble, per-node sums and
    * the dangling mass are [[sortedFold]]s, and the update keeps the
    * plan's association — uniform: (1-d)/n + d*(s + dm/n);
    * personalized: (1-d)*r + d*(s + dm*r). Node set = sources
    * (∪ destinations when danglingMass), exactly the distributed
    * frame. */
  private def pageRankLocalDet(spark: org.apache.spark.sql.SparkSession,
                               edges: Array[(Long, Long, Long)],
                               iterations: Int, damping: Double,
                               danglingMass: Boolean,
                               seeds: Option[Array[Long]]): DataFrame = {
    import scala.collection.mutable
    val deg = mutable.HashMap.empty[Long, Long]
    edges.foreach { case (s, _, w) =>
      deg.update(s, deg.getOrElse(s, 0L) + w) }
    val nodeSet = mutable.HashSet.empty[Long]
    edges.foreach { case (s, d, _) =>
      nodeSet += s; if (danglingMass) nodeSet += d }
    val nodes = nodeSet.toArray
    java.util.Arrays.sort(nodes) // stable output row order
    val n = nodes.length.toDouble
    val rFn: Long => Double = seeds match {
      case Some(ss) =>
        val set = ss.toSet
        val sn = set.size.toDouble
        nd => if (set(nd)) 1.0 / sn else 0.0
      case None => null
    }
    val dangling: Array[Long] =
      if (danglingMass) nodes.filter(!deg.contains(_)) else null
    var pr = mutable.HashMap.empty[Long, Double]
    nodes.foreach { nd =>
      pr(nd) = if (rFn != null) rFn(nd) else 1.0 / n }
    for (_ <- 1 to iterations) {
      val sums = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Double]]
      edges.foreach { case (s, d, w) =>
        val c = pr(s) * w.toDouble / deg(s).toDouble
        sums.getOrElseUpdate(d,
          mutable.ArrayBuffer.empty[Double]) += c
      }
      val dm =
        if (danglingMass) sortedFold(dangling.map(pr(_)))
        else 0.0
      val next = mutable.HashMap.empty[Long, Double]
      nodes.foreach { nd =>
        val s = sums.get(nd).map(b => sortedFold(b.toArray))
          .getOrElse(0.0)
        val v =
          if (rFn != null) {
            val inner = if (danglingMass) s + dm * rFn(nd) else s
            (1.0 - damping) * rFn(nd) + damping * inner
          } else if (danglingMass)
            (1.0 - damping) / n + damping * (s + dm / n)
          else
            (1.0 - damping) / n + damping * s
        next(nd) = v
      }
      pr = next
    }
    rowsToDf(spark,
      nodes.toSeq.map(nd => org.apache.spark.sql.Row(nd, pr(nd))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("pr",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** FIXED-ROUND k-core peeling over a symmetric edge set (the
    * [[coOccurrenceEdges]] shape): each round drops every node whose
    * current degree is < k, with its edges, and the survivors'
    * degrees are recomputed — the standard dense-subgraph /
    * spam-hub separator. Exact k-core peels to a fixpoint; the round
    * count here is PART OF THE OPERATOR CONTRACT (the bounded-round
    * discipline of q219/q221's PageRank and label propagation) so a
    * relational oracle can replay it as R chained CTEs. On real
    * graphs peeling converges in a handful of rounds; callers needing
    * the fixpoint raise `rounds` until the output stops changing.
    *
    * Shape per round: one map-side-combining degree census + two
    * anti-joins on the (small, shrinking) dropped-node set — no
    * broadcast hints (AQE decides; the round-6 PageRank lesson), no
    * node ever holds more than its own adjacency. Emits surviving
    * (node, deg) after R rounds. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    var e = edges.select(col("src"), col("dst"))
    // DRIVER FAST PATH: peeling is integer degree censuses + set
    // filters — exact on the driver (GraphSpec law). Past the budget
    // the lazy round-chained plan below runs unchanged.
    edgesWithin(e, "src", "dst").foreach { rows =>
      return kCorePeelLocal(edges.sparkSession, rows, k, rounds)
    }
    for (_ <- 1 to rounds) {
      val bad = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") < k).select(col("src").as("__bad"))
      e = e.join(bad, col("src") === col("__bad"), "left_anti")
        .join(bad, col("dst") === col("__bad"), "left_anti")
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** [[kCorePeel]] replayed on the driver: R rounds of src-degree
    * census + drop-below-k on both endpoints, then the survivors'
    * src-degree counts — all integer ops. */
  private def kCorePeelLocal(spark: org.apache.spark.sql.SparkSession,
                             edges0: Array[(Long, Long)], k: Int,
                             rounds: Int): DataFrame = {
    import scala.collection.mutable
    var edges = edges0
    for (_ <- 1 to rounds) {
      val deg = mutable.HashMap.empty[Long, Long]
      edges.foreach { case (s, _) =>
        deg.update(s, deg.getOrElse(s, 0L) + 1L) }
      val bad = deg.collect { case (nd, d) if d < k => nd }.toSet
      if (bad.nonEmpty)
        edges = edges.filter { case (s, d) => !bad(s) && !bad(d) }
    }
    val deg = mutable.HashMap.empty[Long, Long]
    edges.foreach { case (s, _) =>
      deg.update(s, deg.getOrElse(s, 0L) + 1L) }
    val nodes = deg.keys.toArray
    java.util.Arrays.sort(nodes)
    rowsToDf(spark,
      nodes.toSeq.map(nd => org.apache.spark.sql.Row(nd, deg(nd))),
      longLongSchema("node", "deg"))
  }

  /** [[kCorePeel]] to the FIXPOINT: peel until a round removes no
    * node (the true k-core), bounded by `maxRounds` as a runaway
    * guard. Each surviving edge set is localCheckpoint-ed per round
    * (the Dedup.connectedComponents discipline): a deep peel on a
    * real graph otherwise stacks two anti-joins of logical plan per
    * round and dies in the driver compiling it long before the
    * executors work. The convergence probe is the SAME degree census
    * the round already computes — counting `bad` adds no extra scan
    * shape, just the one action that round would run anyway.
    * Emits surviving (node, deg); [[kCorePeel]] with sufficient
    * rounds is the oracled bounded-round twin (GraphSpec law). */
  def kCorePeelConverged(edges: DataFrame, k: Int,
                         maxRounds: Int = 50): DataFrame = {
    require(k >= 1 && maxRounds >= 1, "need k >= 1 and maxRounds >= 1")
    var e = edges.select(col("src"), col("dst")).localCheckpoint()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val bad = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") < k).select(col("src").as("__bad"))
        .localCheckpoint() // eager: one census job, reused by both anti-joins
      if (bad.isEmpty) converged = true
      else {
        val next = e
          .join(bad, col("src") === col("__bad"), "left_anti")
          .join(bad, col("dst") === col("__bad"), "left_anti")
          .localCheckpoint()
        Lifecycle.release(e)
        e = next
      }
      Lifecycle.release(bad)
      round += 1
    }
    if (!converged)
      System.err.println(s"[graft] kCorePeelConverged: NOT a fixpoint " +
        s"after $maxRounds rounds — raise maxRounds")
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    out
  }
}
