package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val star = Seq(
    // a <-> b, a <-> c : outdeg a=2, b=1, c=1
    (1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)
  ).toDF("src", "dst")

  test("pageRank one iteration: hand-computed values (damping 0.5)") {
    // init 1/3 each; contribs: a gets 1/3+1/3, b and c get 1/6
    // pr(a) = 0.5/3 + 0.5*(2/3) = 0.5 ; pr(b) = pr(c) = 1/6 + 1/12 = 0.25
    val out = Graph.pageRank(star, iterations = 1, damping = 0.5)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - 0.5) < 1e-12)
    assert(math.abs(out(2L) - 0.25) < 1e-12)
    assert(math.abs(out(3L) - 0.25) < 1e-12)
  }

  test("uniform rank is the fixed point of a regular graph") {
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 1L), (3L, 2L), (1L, 3L)).toDF("src", "dst")
    val out = Graph.pageRank(tri, iterations = 4)
      .as[(Long, Double)].collect().toMap
    out.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("mass conserves on symmetric graphs; deterministic fold " +
      "matches the plain sum") {
    val edges = Graph.coOccurrenceEdges(
      Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 2L), (11L, 3L),
        (12L, 3L), (12L, 4L)).toDF("g", "i"), $"g", $"i")
    val plain = Graph.pageRank(edges, 3).as[(Long, Double)]
      .collect().toMap
    val det = Graph.pageRank(edges, 3, deterministic = true)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(plain.values.sum - 1.0) < 1e-9)
    plain.foreach { case (k, v) => assert(math.abs(v - det(k)) < 1e-9) }
    // node 3 sits in every group -> highest centrality
    assert(plain(3L) === plain.values.max)
  }

  test("weighted pageRank: contributions split by edge weight " +
      "(hand-computed, damping 0.5)") {
    val we = Seq(
      (1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L)
    ).toDF("src", "dst", "w")
    // outw: a=4, b=1, c=1; init 1/3
    // contribs: b <- (1/3)(3/4), c <- (1/3)(1/4), a <- 1/3 + 1/3
    val out = Graph.pageRank(we, iterations = 1, damping = 0.5,
        weighted = true)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - 0.5) < 1e-12)
    assert(math.abs(out(2L) - (1.0 / 6 + 0.125)) < 1e-12)
    assert(math.abs(out(3L) - (1.0 / 6 + 1.0 / 24)) < 1e-12)
  }

  test("coOccurrenceEdgesWeighted counts DISTINCT shared groups") {
    val rel = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (2L, 20L), (3L, 20L), (3L, 30L)).toDF("g", "i")
    val e = Graph.coOccurrenceEdgesWeighted(rel, $"g", $"i")
      .as[(Long, Long, Long)].collect()
      .map { case (s, d, w) => (s, d) -> w }.toMap
    assert(e((10L, 20L)) === 2L) // groups 1 and 2 (dup row counts once)
    assert(e((20L, 10L)) === 2L)
    assert(e((20L, 30L)) === 1L)
  }

  test("triangleCounts: triangle + tail, complete graph, symmetric " +
      "input canonicalized") {
    // triangle 1-2-3 with a tail 3-4 (symmetric directed input)
    val tri = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val out = Graph.triangleCounts(tri)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // K4: every node sits in C(3,2) = 3 triangles
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a != b }
      yield (a, b)).toDF("src", "dst")
    val o4 = Graph.triangleCounts(k4).as[(Long, Long)].collect().toMap
    assert(o4 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts on a hub-skewed star + cliques graph ≡ a " +
      "brute-force driver count, on the fast path and distributed") {
    // hub 0 joined to leaves 1..400; leaves 1..40 also form ten
    // 4-cliques (each clique edge closes a triangle with the hub), and
    // five 4-cliques at 1000+ stay clear of the hub. Some edges are
    // given in both directions, as raw co-occurrence input would be.
    val star = (1L to 400L).map(l => (0L, l))
    def cliques(base: Long, n: Int) = for {
      c <- 0 until n; i <- 0 until 4; j <- (i + 1) until 4
    } yield (base + 4 * c + i, base + 4 * c + j)
    val und = star ++ cliques(1L, 10) ++ cliques(1000L, 5)
    val edges = (und ++ und.filter(_._2 % 3 == 0).map(_.swap))
      .toDF("src", "dst")
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).toSet }
    val expected = nbrs.map { case (v, ns) =>
      v -> ns.toSeq.combinations(2)
        .count { case Seq(x, y) => nbrs(x)(y) }.toLong
    }.filter(_._2 > 0)
    assert(expected(0L) === 60L) // 6 clique edges × 10 cliques
    assert(expected(1L) === 6L && expected(1000L) === 3L)
    def run() = Graph.triangleCounts(edges).as[(Long, Long)].collect()
    val local = run()
    assert(local.length === local.map(_._1).distinct.length)
    assert(local.toMap === expected)
    assert(distributed(run()).toMap === expected)
  }

  test("labelPropagation: two cliques joined by a bridge settle on " +
      "their min ids; tie-break picks the smaller label") {
    // cliques {1,2,3} and {10,11,12}, bridge 3-10
    val e = (Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L), (3L, 10L))).toDF("src", "dst")
    val out = Graph.labelPropagation(e, rounds = 4)
      .as[(Long, Long)].collect().toMap
    // clique A agrees on 1; clique B pulls toward 1 only through the
    // bridge — its interior keeps the min of what propagates; after 4
    // sync rounds every node's label is from {1, 2, 10} family and
    // cliques are internally consistent
    assert(out(1L) === out(2L))
    assert(out(11L) === out(12L))
    // deterministic: rerun identical
    val again = Graph.labelPropagation(e, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(out === again)
    // a single round on a star: every leaf adopts the hub's label,
    // the hub adopts the SMALLEST leaf label
    val star2 = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    val one = Graph.labelPropagation(star2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one === Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 0L))
  }

  test("personalized pageRank: teleport concentrates on the seed, " +
      "hand-computed one iteration; mass conserves on symmetric " +
      "graphs") {
    // star: 1 <-> 2, 1 <-> 3; seed {2}: r = (0, 1, 0); init pr = r
    // contribs: node1 <- pr(2)/1 = 1; others 0
    // pr'(1) = 0.5*0 + 0.5*1 = 0.5 ; pr'(2) = 0.5*1 + 0 = 0.5 ; pr'(3) = 0
    val seeds = Seq(2L).toDF("node")
    val out = Graph.pageRank(star, iterations = 1, damping = 0.5,
        restart = Some(seeds))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - 0.5) < 1e-12)
    assert(math.abs(out(2L) - 0.5) < 1e-12)
    assert(out(3L) === 0.0)
    // multi-round mass conservation (no sinks): sum pr = 1
    val o3 = Graph.pageRank(star, iterations = 3, damping = 0.85,
        restart = Some(seeds))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(o3.values.sum - 1.0) < 1e-9)
    // proximity: seed 2 and its hub 1 outrank the far leaf 3
    assert(o3(2L) > o3(3L) && o3(1L) > o3(3L))
  }

  test("bfsHops: min hop wins, cap respected, unreachable absent, " +
      "cycles terminate") {
    // path 1->2->3->4 plus shortcut 1->3, cycle 4->1; 9 isolated
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (4L, 1L),
      (8L, 9L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = Graph.bfsHops(e, seeds, maxHops = 10)
      .as[(Long, Int)].collect().toMap
    // 3 is reachable at hop 2 via 2, but hop 1 via the shortcut wins
    assert(out === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
    val capped = Graph.bfsHops(e, seeds, maxHops = 1)
      .as[(Long, Int)].collect().toMap
    assert(capped === Map(1L -> 0, 2L -> 1, 3L -> 1))
    // multi-source: the closer seed claims the node
    val multi = Graph.bfsHops(e, Seq(1L, 4L).toDF("node"), 10)
      .as[(Long, Int)].collect().toMap
    assert(multi(4L) === 0 && multi(1L) === 0 && multi(2L) === 1)
  }

  test("bfsHops releases its per-hop frontier caches before " +
      "returning (no MEMORY_AND_DISK residue across repeated calls)") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Graph.bfsHops(e, Seq(1L).toDF("node"), maxHops = 5)
    assert(out.count() === 4L) // result survives the unpersists
    // localCheckpoint keeps exactly one materialized RDD (the
    // result's own lineage barrier); the k per-hop persists + seed +
    // edge cache must all be gone
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1, s"before=$before after=$after")
  }

  test("linkPrediction: exact cn/jaccard, existing edges excluded, " +
      "hub cap drops hub-centered wedges but keeps true degrees") {
    // square 1-2-3-4-1: each diagonal pair (1,3),(2,4) shares 2
    // neighbors, no edge between them; deg all 2 -> jaccard 2/2
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val out = Graph.linkPrediction(sq, topK = 10)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (x, y, n, d) => (x, y) -> ((n, d)) }.toMap
    assert(out === Map((1L, 3L) -> ((2L, 2L)), (2L, 4L) -> ((2L, 2L))))
    // star center 9 connects 1..4: every leaf pair shares only the
    // hub. Cap below the hub degree -> no candidates at all, because
    // the only wedge centers are the hub itself.
    val starE = (1L to 4L).map(i => (9L, i)).toDF("src", "dst")
    assert(Graph.linkPrediction(starE, 10, maxWedgeDegree = Some(3L))
      .count() === 0L)
    // uncapped: leaf pairs get cn=1, jac_den = 1+1-1 = 1
    val full = Graph.linkPrediction(starE, 10)
      .as[(Long, Long, Long, Long)].collect()
    assert(full.length === 6 && full.forall {
      case (_, _, n, d) => n === 1L && d === 1L })
  }

  test("coOccurrenceEdges: distinct, symmetric, no self-loops, and " +
      "repeated (group, item) rows count once") {
    val rel = Seq((1L, 10L), (1L, 10L), (1L, 20L), (2L, 20L), (2L, 30L))
      .toDF("g", "i")
    val e = Graph.coOccurrenceEdges(rel, $"g", $"i")
      .as[(Long, Long)].collect().toSet
    assert(e === Set((10L, 20L), (20L, 10L), (20L, 30L), (30L, 20L)))
  }

  test("the weighted mine's key set IS the unweighted edge set — " +
      "the law that lets one staged artifact serve both shapes") {
    val rel = Seq((1L, 10L), (1L, 10L), (1L, 20L), (2L, 20L),
      (2L, 30L), (3L, 10L), (3L, 20L)).toDF("g", "i")
    val unw = Graph.coOccurrenceEdges(rel, $"g", $"i")
      .as[(Long, Long)].collect().toSet
    val fromW = Graph.coOccurrenceEdgesWeighted(rel, $"g", $"i")
      .select($"src", $"dst").as[(Long, Long)].collect().toSet
    assert(fromW === unw)
    // and the weights are the shared-group counts
    val w = Graph.coOccurrenceEdgesWeighted(rel, $"g", $"i")
      .as[(Long, Long, Long)].collect().toSet
    assert(w.contains((10L, 20L, 2L)) && w.contains((20L, 30L, 1L)))
  }

  test("kCorePeel: matches the sequential peel; a clique survives, " +
      "its pendant tail peels away round by round") {
    // K4 on {1,2,3,4} (degree 3 inside) + tail 4-5-6: 6 peels in
    // round 1 (deg 1), 5 in round 2 — peeling CASCADES, a one-shot
    // degree filter would keep 5
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.kCorePeel(edges, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // one round only: 6 dropped, 5 still present (deg 1 by then —
    // the not-yet-converged state the fixed-round contract exposes)
    val r1 = Graph.kCorePeel(edges, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1.contains(5L) && !r1.contains(6L))
  }

  test("kCorePeelConverged law: fixpoint == fixed-round peel at " +
      "sufficient rounds; output is a genuine fixpoint; a long peel " +
      "chain converges past any small round budget") {
    // chain 1-2-3-...-10 + K4 on {20,21,22,23}: the chain needs 5
    // rounds to fully peel at k=2 (cascade from both ends), the K4
    // survives untouched
    val chain = (1L to 9L).map(i => (i, i + 1))
    val k4 = Seq((20L, 21L), (20L, 22L), (20L, 23L), (21L, 22L),
      (21L, 23L), (22L, 23L))
    val und = chain ++ k4
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val conv = m(Graph.kCorePeelConverged(edges, k = 2))
    assert(conv === Map(20L -> 3L, 21L -> 3L, 22L -> 3L, 23L -> 3L))
    // fixed-round twin agrees once given enough rounds
    assert(conv === m(Graph.kCorePeel(edges, k = 2, rounds = 8)))
    // a 3-round budget is NOT yet the fixpoint on this graph —
    // the convergence loop is doing real extra work
    assert(conv !== m(Graph.kCorePeel(edges, k = 2, rounds = 3)))
    // fixpoint property: every surviving degree >= k
    assert(conv.values.forall(_ >= 2L))
    // empty survivor set converges cleanly (chain only, k=2)
    val chainOnly = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    assert(m(Graph.kCorePeelConverged(chainOnly, k = 2)).isEmpty)
  }

  test("the distributed loops keep each reused frame as a checkpoint: " +
      "Spark jobs per call (result collected included) are pinned") {
    val rel = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (11L, 2L), (11L, 3L),
      (12L, 3L), (12L, 4L), (13L, 4L), (13L, 5L), (13L, 6L),
      (14L, 5L), (14L, 6L), (15L, 1L), (15L, 6L), (16L, 7L),
      (16L, 1L), (17L, 7L), (17L, 2L)).toDF("g", "i")
    val edges = Graph.coOccurrenceEdges(rel, $"g", $"i").localCheckpoint()
    val seeds = Seq(1L, 5L).toDF("node")
    val n = jobsPerTag { tagged =>
      distributed {
        tagged("triangleCounts")(Graph.triangleCounts(edges).collect())
        tagged("bfsHops")(Graph.bfsHops(edges, seeds, maxHops = 2).collect())
        tagged("linkPrediction")(Graph.linkPrediction(edges, topK = 20,
          maxWedgeDegree = Some(4L)).collect())
        tagged("labelPropagation")(Graph.labelPropagation(edges, 3).collect())
        tagged("pageRank")(Graph.pageRank(edges, 3).collect())
      }
    }
    // with a persisted frame per reuse the same calls started 30, 21,
    // 29, 22 and 25 jobs: each unmaterialized cached relation is a
    // query stage of its own
    val expected = Map("triangleCounts" -> 11, "bfsHops" -> 14,
      "linkPrediction" -> 11, "labelPropagation" -> 16, "pageRank" -> 21)
    assert(expected.map { case (k, _) => k -> n(k) } === expected)
    Lifecycle.release(edges)
  }

  /** Run `f` with the driver fast path DISABLED (byte budget 0), so
    * the distributed loop is exercised; the default call takes the
    * local path on these small fixtures. */
  private def distributed[A](f: => A): A = {
    System.setProperty("spark.graft.localBytes", "0")
    try f
    finally System.clearProperty("spark.graft.localBytes")
  }

  /** Sorted row images with doubles compared by BIT PATTERN — the
    * fast-path contract is bit-identical output, not approximate. */
  private def img(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case x => x
    }).sortBy(_.mkString("|"))

  test("driver fast path ≡ distributed loop, BIT-IDENTICAL: pageRank " +
      "(det/weighted/dangling/personalized), labelPropagation, " +
      "bfsHops, kCorePeel, triangleCounts, clusteringCoefficients, " +
      "linkPrediction") {
    // two communities bridged, plus a sink-heavy bipartite tail —
    // exercises dangling mass, plurality ties, multi-hop frontiers
    val rel = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (11L, 2L), (11L, 3L),
      (12L, 3L), (12L, 4L), (13L, 4L), (13L, 5L), (13L, 6L),
      (14L, 5L), (14L, 6L), (15L, 1L), (15L, 6L), (16L, 7L),
      (16L, 1L), (17L, 7L), (17L, 2L)).toDF("g", "i")
    val edges = Graph.coOccurrenceEdges(rel, $"g", $"i")
      .localCheckpoint()
    val seeds = Seq(1L, 5L).toDF("node")
    val bip = Seq((1L, 101L), (1L, 102L), (2L, 102L), (3L, 103L))
      .toDF("src", "dst") // every dst a sink
    val wedges = Graph.coOccurrenceEdgesWeighted(rel, $"g", $"i")
      .localCheckpoint()
    def checks = Seq(
      "pr_det" -> Graph.pageRank(edges, 3, deterministic = true),
      "pr_weighted" -> Graph.pageRank(wedges, 2, deterministic = true,
        weighted = true),
      "pr_dangling" -> Graph.pageRank(bip, 3, deterministic = true,
        danglingMass = true),
      "pr_personalized" -> Graph.pageRank(edges, 3,
        deterministic = true, restart = Some(seeds)),
      "labelProp" -> Graph.labelPropagation(edges, 3),
      "bfs" -> Graph.bfsHops(edges, seeds, maxHops = 2),
      "kcore" -> Graph.kCorePeel(edges, k = 3, rounds = 2),
      "triangles" -> Graph.triangleCounts(edges),
      "coeff" -> Graph.clusteringCoefficients(edges),
      "linkpred" -> Graph.linkPrediction(edges, topK = 20,
        maxWedgeDegree = Some(4L)))
    val local = checks.map { case (n, df) => n -> img(df) }.toMap
    val dist = distributed {
      checks.map { case (n, df) => n -> img(df) }.toMap
    }
    local.keys.foreach { n =>
      assert(local(n) === dist(n), s"fast path diverged on $n")
      assert(local(n).nonEmpty, s"degenerate fixture for $n")
    }
  }
}
