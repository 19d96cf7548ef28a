package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheEntries
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** PageRank: symmetry, mass conservation, centrality ordering, and the
  * purchase-graph construction invariants.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edges(pairs: (String, String)*) =
    pairs.toDF("src", "dst")

  test("ring: perfect symmetry gives every node rank_norm 1.0") {
    val ring = edges("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a",
      "b" -> "a", "c" -> "b", "d" -> "c", "a" -> "d")
    val out = Graph.pageRank(ring, iters = 5).collect()
    assert(out.length == 4)
    out.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9))
  }

  test("star: the hub out-ranks the leaves and total mass is conserved") {
    val star = edges(Seq("b", "c", "d", "e").flatMap(l =>
      Seq("hub" -> l, l -> "hub")): _*)
    val out = Graph.pageRank(star, iters = 8).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("hub") > out("b") * 2, "hub should dominate leaves")
    Seq("b", "c", "d", "e").foreach(l => assert(out(l) == out("b")))
    // rank_norm = rank * n, so conservation means the norms sum to n
    assert(math.abs(out.values.sum - out.size) < 1e-6)
  }

  test("pageRank is deterministic across runs") {
    val g = edges((1 to 20).flatMap(i =>
      Seq(s"n$i" -> s"n${i % 7}", s"n${i % 7}" -> s"n$i")): _*)
    val a = Graph.pageRank(g, iters = 5).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    val b = Graph.pageRank(g, iters = 5).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("dangling destinations are rejected, not silently drained") {
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRank(edges("a" -> "b", "b" -> "a", "a" -> "sink"))
    }
    assert(ex.getMessage.contains("dangling"))
  }

  test("contribution-less sources are rejected (closure contract)") {
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRank(edges("a" -> "b", "b" -> "a", "c" -> "a"))
    }
    assert(ex.getMessage.contains("contribution-less"))
  }

  test("purchaseGraph symmetrizes and prefixes the two key spaces") {
    val orders = Seq((1L, 10L), (2L, 20L)).toDF("o_orderkey", "o_custkey")
    val li = Seq((1L, 10L), (1L, 10L), (2L, 30L)).toDF("l_orderkey", "l_suppkey")
    val e = Graph.purchaseGraph(orders, li).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // distinct pairs: (c10,s10), (c20,s30) — each in both directions;
    // the duplicate lineitem row must NOT double an edge
    assert(e == Set("c10" -> "s10", "s10" -> "c10",
      "c20" -> "s30", "s30" -> "c20"))
  }

  // ---- triangle counting -------------------------------------------

  private def und(pairs: (Long, Long)*) = pairs.toDF("a", "b")

  test("triangleStats: K4 has 4 triangles and clustering 1.0") {
    val k4 = und(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val r = Graph.triangleStats(k4).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 6L, 4L)))
    assert(r.getDouble(3) == 1.0)
  }

  test("triangleStats: a path has wedges but zero triangles") {
    val path = und(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val r = Graph.triangleStats(path).collect()(0)
    assert(r.getLong(2) == 0L)
    assert(r.getDouble(3) == 0.0)
  }

  test("triangleStats: triangle plus pendant edge") {
    // wedges: deg(2)=3 -> 3, deg(1)=deg(3)=2 -> 1+1, deg(4)=1 -> 0; total 5
    val g = und(1L -> 2L, 2L -> 3L, 1L -> 3L, 2L -> 4L)
    val r = Graph.triangleStats(g).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 4L, 1L)))
    assert(math.abs(r.getDouble(3) - 0.6) < 1e-9)
  }

  test("edgeJaccard: triangle plus pendant edge, exact scores") {
    // triangle {1,2,3} + pendant 2-4: edge (1,2) shares neighbor 3,
    // deg(1)=2 deg(2)=3 -> J = 1/(2+3-1) = 0.25; (1,3) has deg 2+2 ->
    // 1/3; (2,4) shares none
    val g = und(1L -> 2L, 2L -> 3L, 1L -> 3L, 2L -> 4L)
    val r = Graph.edgeJaccard(Graph.orientByDegree(g)).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(2), x.getDouble(3))).toMap
    assert(r((1L, 2L)) == ((1L, 0.25)))
    assert(r((1L, 3L)) == ((1L, 0.333333)))
    assert(r((2L, 3L)) == ((1L, 0.25)))
    assert(r((2L, 4L)) == ((0L, 0.0)))
  }

  test("edgeJaccard equals the brute-force neighbor-set computation") {
    // deterministic pseudo-random graph, enough hubs to exercise the
    // degree orientation's tie-breaks
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 120).map { _ =>
      val a = rnd.nextInt(18).toLong; val b = rnd.nextInt(18).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val g = und(pairs: _*)
    val nbrs = pairs.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val got = Graph.edgeJaccard(Graph.orientByDegree(g)).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(2), x.getDouble(3))).toMap
    assert(got.keySet == pairs.toSet)
    pairs.foreach { case (a, b) =>
      val common = (nbrs(a) intersect nbrs(b)).size.toLong
      val j = BigDecimal(common.toDouble / (nbrs(a).size + nbrs(b).size - common))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got((a, b)) == ((common, j)), s"edge ($a,$b)")
    }
  }

  test("vertexClustering: K4 is fully clique-like; triangle plus pendant " +
      "splits by degree") {
    val k4 = und(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val gotK4 = Graph.vertexClustering(Graph.orientByDegree(k4)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(gotK4.size == 4)
    // every K4 vertex: degree 3, in C(3,2)=3 triangles, lcc 2*3/(3*2)=1
    gotK4.foreach { case (v, t) => assert(t == ((3L, 3L, 1.0)), s"node $v") }
    val g = und(1L -> 2L, 2L -> 3L, 1L -> 3L, 2L -> 4L)
    val got = Graph.vertexClustering(Graph.orientByDegree(g)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((3L, 1L, 0.333333)))
    assert(got(3L) == ((2L, 1L, 1.0)))
    assert(got(4L) == ((1L, 0L, 0.0)), "degree-1 node: lcc pinned to 0")
  }

  test("vertexClustering equals the brute-force per-vertex count") {
    val rnd = new scala.util.Random(19)
    val pairs = (0 until 140).map { _ =>
      val a = rnd.nextInt(16).toLong; val b = rnd.nextInt(16).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val nbrs = pairs.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val got = Graph.vertexClustering(Graph.orientByDegree(und(pairs: _*)))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == nbrs.keySet)
    nbrs.foreach { case (v, ns) =>
      val d = ns.size
      val t = ns.toSeq.combinations(2)
        .count { case Seq(u, w) => nbrs(u).contains(w) }.toLong
      val lcc = if (d >= 2)
        BigDecimal(2.0 * t.toDouble / (d.toLong * (d - 1)).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      assert(got(v) == ((d.toLong, t, lcc)), s"node $v")
    }
  }

  test("landmarkEccentricity: path-graph distances, hop cap flagged, " +
      "isolated landmark reaches only itself") {
    val path = und(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val lms = Seq(1L, 3L, 9L).toDF("lm")  // 9 is not in the graph
    val got = Graph.landmarkEccentricity(path, lms, maxHops = 10).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got(1L) == ((5L, 4L, false)), "end of the path: ecc 4")
    assert(got(3L) == ((5L, 2L, false)), "center: ecc 2")
    assert(got(9L) == ((1L, 0L, false)), "isolated: self only, ecc 0")
    val capped = Graph.landmarkEccentricity(path, Seq(1L).toDF("lm"),
      maxHops = 2).collect()(0)
    assert((capped.getLong(1), capped.getLong(2), capped.getBoolean(3)) ==
      ((3L, 2L, true)), "cap hit: ecc is a floor and capped flags it")
  }

  test("linkPredictRA: exact RA scores, edges excluded, ordered") {
    // path 1-2-3-4 plus spur 2-5; non-edges with common neighbors:
    // (2,4) via 3 (deg 2) -> 0.5; (1,3),(1,5),(3,5) via 2 (deg 3) -> 1/3
    val g = und(1L -> 2L, 2L -> 3L, 3L -> 4L, 2L -> 5L)
    val got = Graph.linkPredictRA(g, maxCenterDegree = 64, topN = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList
    assert(got == List(
      (2L, 4L, 1L, 0.5), (1L, 3L, 1L, 0.333333),
      (1L, 5L, 1L, 0.333333), (3L, 5L, 1L, 0.333333)))
  }

  test("linkPredictRA: the center-degree cap drops hub-mediated pairs") {
    // star centered at 9 (deg 4) + edge 1-2; with cap 3 the star hub
    // can't mediate, so only wedges through nodes of degree <= 3 remain
    // (edges deliberately reversed: the op must re-canonicalize)
    val g = und(9L -> 1L, 9L -> 2L, 9L -> 3L, 9L -> 4L, 1L -> 2L)
    val capped = Graph.linkPredictRA(g, maxCenterDegree = 3, topN = 10).collect()
    // candidates via center 1 (deg 2): (2,9) is an EDGE; via center 2:
    // (1,9) is an EDGE -> nothing survives
    assert(capped.isEmpty)
    val uncapped = Graph.linkPredictRA(g, maxCenterDegree = 64, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("degreeHistogram counts both endpoints") {
    val g = und(1L -> 2L, 2L -> 3L, 1L -> 3L, 2L -> 4L)
    val h = Graph.degreeHistogram(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("powerLawTail: star graph alpha, and NULL when the tail is flat") {
    // star: center degree 4, four leaves of degree 1. Tail (d >= 2) is
    // the center alone: alpha = 1 + 1 / round(ln(4/2), 6)
    val star = und(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L)
    val r = Graph.powerLawTail(star, dMin = 2).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((5L, 1L, 2L, 4L)))
    val expected = BigDecimal(1.0 + 1.0 / 0.693147)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == expected)
    // path: degrees 1,2,2,1 — every tail degree equals dMin, so the
    // ln sum is 0 and the estimator is undefined, not Infinity
    val path = und(1L -> 2L, 2L -> 3L, 3L -> 4L)
    assert(Graph.powerLawTail(path, dMin = 2).collect()(0).isNullAt(4))
  }

  test("coActivityEdges requires minCo distinct slots and a < b") {
    import java.sql.Timestamp
    val ts = (h: Int) => Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    val ev = Seq(
      (ts(1), "click", 10L), (ts(1), "click", 20L), // slot 1: co-occur
      (ts(2), "click", 10L), (ts(2), "click", 20L), // slot 2: co-occur
      (ts(3), "view", 10L), (ts(3), "view", 20L),   // slot 3: co-occur
      (ts(4), "click", 20L), (ts(4), "click", 30L)  // 20-30 only once
    ).toDF("ts", "event_type", "user_id")
    val e2 = Graph.coActivityEdges(ev, minCo = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e2 == Set((10L, 20L)))
    val e1 = Graph.coActivityEdges(ev, minCo = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e1 == Set((10L, 20L), (20L, 30L)))
  }

  private def khop(es: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int) =
    Graph.kHopDistances(es.toDF("a", "b"), seeds.toDF("node"), maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kHopDistances: min-hop labels on a path graph, radius capped") {
    val path = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    assert(khop(path, Seq(1L), 2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // undirected: a seed mid-path expands both ways
    assert(khop(path, Seq(3L), 1) == Map(3L -> 0L, 2L -> 1L, 4L -> 1L))
  }

  test("kHopDistances: early exhaustion and multi-seed min semantics") {
    val path = Seq(1L -> 2L, 2L -> 3L)
    // frontier empties at hop 2 < maxHops — walk must stop cleanly
    assert(khop(path, Seq(1L), 10) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // two seeds: every node takes the MINIMUM hop over seeds
    assert(khop(path, Seq(1L, 3L), 10) == Map(1L -> 0L, 3L -> 0L, 2L -> 1L))
    // a seed absent from the edge set stays at hop 0, expands nowhere
    assert(khop(path, Seq(9L), 3) == Map(9L -> 0L))
  }

  private def lmdist(es: Seq[(Long, Long)], lms: Seq[Long], maxHops: Int) =
    Graph.landmarkDistances(es.toDF("a", "b"), lms.toDF("lm"), maxHops)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("landmarkDistances: per-landmark exact distances on a path graph") {
    val path = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L)
    assert(lmdist(path, Seq(1L, 4L), 2) == Map(
      (1L, 1L) -> 0L, (1L, 2L) -> 1L, (1L, 3L) -> 2L,
      (4L, 4L) -> 0L, (4L, 3L) -> 1L, (4L, 2L) -> 2L))
    // landmarks do NOT shadow each other: unlike kHopDistances'
    // min-over-seeds, each landmark walks the whole radius itself
    assert(lmdist(path, Seq(1L, 2L), 1) == Map(
      (1L, 1L) -> 0L, (1L, 2L) -> 1L,
      (2L, 2L) -> 0L, (2L, 1L) -> 1L, (2L, 3L) -> 1L))
  }

  test("landmarkDistances: early exhaustion, isolated landmark") {
    val path = Seq(1L -> 2L)
    assert(lmdist(path, Seq(1L), 10) == Map((1L, 1L) -> 0L, (1L, 2L) -> 1L))
    assert(lmdist(path, Seq(9L), 3) == Map((9L, 9L) -> 0L))
  }

  test("landmarkDistances minimized over landmarks = kHopDistances") {
    // the two BFS variants must agree: min over lm of d(lm, node) is
    // exactly the multi-seed min-hop — on a deterministic pseudo-random
    // graph with several components
    val es = randomGraph
    val lms = Seq(0L, 5L, 11L)
    val viaLm = lmdist(es, lms, 4).groupBy(_._1._2).view
      .mapValues(_.values.min).toMap
    assert(viaLm == khop(es, lms, 4))
  }

  /** 40 seeded pseudo-random edges over node ids 0–17, plus the same
    * edges over ids 18–35: at least two components.
    */
  private def randomGraph: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(7)
    val es = (1 to 40).map(_ => (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      .filter { case (a, b) => a != b }.distinct
    es ++ es.map { case (a, b) => (a + 18, b + 18) }
  }

  test("labelPropagation with iters >= the node count = connectedComponents") {
    // enough rounds reach the fixpoint, where the two min-label
    // operators must agree
    val es = randomGraph.toDF("a", "b")
    val lp = Graph.labelPropagation(es, iters = 36)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = graft.operators.Cluster.connectedComponents(es, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet.size > 1, "the graph has several components")
    assert(lp == cc)
  }

  test("labelPropagation leaves no persisted RDD behind but the one it returns") {
    val path = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L).toDF("a", "b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Graph.labelPropagation(path, iters = 3)
    val returned = out.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(returned.size == 1)
    assert(sc.getPersistentRDDs.keySet -- before == returned.toSet)
  }

  test("labelPropagation: labels travel exactly `iters` hops") {
    // path 1-2-3-4-5 (undirected canonical pairs)
    val path = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L).toDF("a", "b")
    val l1 = Graph.labelPropagation(path, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one round: every node takes min(self, neighbors)
    assert(l1 == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    val l2 = Graph.labelPropagation(path, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
  }

  test("modularityOfLabels: two clean cliques score high, trivial partition 0") {
    // two triangles, one bridge edge
    val edges = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L,
      4L -> 5L, 4L -> 6L, 5L -> 6L, 3L -> 4L).toDF("a", "b")
    val twoComms = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 2L), (5L, 2L), (6L, 2L)).toDF("node", "label")
    val r = Graph.modularityOfLabels(edges, twoComms).collect()(0)
    assert(r.getLong(0) == 6L && r.getLong(1) == 7L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 6L) // only the bridge crosses
    // Q = (4*7*6 - (7^2 + 7^2)) / (4*49) = round(70/196, 6)
    assert(r.getDouble(4) == 0.357143)
    // everyone in ONE community: Q = (4m*m - (2m)^2)/(4m^2) = 0
    val one = Seq.tabulate(6)(i => (i + 1L, 0L)).toDF("node", "label")
    assert(Graph.modularityOfLabels(edges, one).collect()(0).getDouble(4) == 0.0)
  }

  /** In-memory replay of the hits() recurrence: 6-dp scores, exact
    * rational sums (BigDecimal), sum-normalize each half-step.
    */
  private def refHits(edges: Seq[(String, String)], iters: Int)
      : (Map[String, Double], Map[String, Double]) = {
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def half(sc: Map[String, Double], key: ((String, String)) => String,
             grp: ((String, String)) => String): Map[String, Double] = {
      val raw = edges.filter(e => sc.contains(key(e)))
        .groupBy(grp).view.mapValues(
          _.map(e => BigDecimal(sc(key(e))).setScale(12)).sum).toMap
      val tot = raw.values.sum
      raw.view.mapValues(v => r6(v.toDouble / tot.toDouble)).toMap
    }
    var h = edges.map(_._1).distinct.map(_ -> 1.0).toMap
    var a = Map.empty[String, Double]
    for (_ <- 1 to iters) {
      a = half(h, _._1, _._2)
      h = half(a, _._2, _._1)
    }
    (h, a)
  }

  test("hits: hubs/authorities match the exact-decimal reference replay") {
    // two hubs share one strong authority; one fringe hub/authority pair
    val edges = Seq("c1" -> "s1", "c1" -> "s2", "c2" -> "s1",
      "c2" -> "s3", "c3" -> "s3")
    val got = Graph.hits(edges.toDF("src", "dst"), iters = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    val (h, a) = refHits(edges, 3)
    val want = h.map { case (n, s) => (n, "hub") -> s } ++
      a.map { case (n, s) => (n, "auth") -> s }
    assert(got == want)
    // normalization: each side sums to ~1 (6-dp rounding slack)
    assert(math.abs(got.filter(_._1._2 == "hub").values.sum - 1.0) < 1e-4)
    // s1 (pointed at by both strong hubs) must outrank the fringe s3
    assert(got(("s1", "auth")) > got(("s3", "auth")))
  }

  test("hits leaves the session's persistent RDDs and cached relations as they were") {
    // a session that holds only the edge relation, as the query suite's
    // memoized purchase edges are held
    val e = edges("c1" -> "s1", "c1" -> "s2", "c2" -> "s1", "c2" -> "s3", "c3" -> "s3")
      .persist()
    try {
      e.count()
      val rdds = spark.sparkContext.getPersistentRDDs.keySet
      val cached = CacheEntries.count(spark)
      for (_ <- 1 to 2) {
        val out = Graph.hits(e, iters = 2)
        assert(out.collect().length == 6)
        assert(spark.sparkContext.getPersistentRDDs.keySet == rdds)
        assert(CacheEntries.count(spark) == cached && out.storageLevel == StorageLevel.NONE)
      }
      assert(e.storageLevel != StorageLevel.NONE, "the caller's edge cache was released")
    } finally e.unpersist()
  }

  test("kCore peels a chain down to the clique core over multiple rounds") {
    // K4 clique (3-core) + a chain hanging off it: the chain peels one
    // node per round (cascading removals — a single-round filter would
    // get this wrong), the clique survives with in-core degree 3
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val edges = (k4 ++ chain).toDF("a", "b")
    // k=2: only node 7 is initially below k — 6 then 5 fall in later
    // rounds as their neighbors vanish (the true cascade)
    val got = graft.operators.Graph.kCore(edges, k = 2, maxIters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=1 keeps everything with its full degree
    val all = graft.operators.Graph.kCore(edges, k = 1, maxIters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all.keySet == (1L to 7L).toSet && all(4L) == 4L && all(7L) == 1L)
    // non-convergence within maxIters must THROW, not half-peel
    intercept[IllegalStateException] {
      graft.operators.Graph.kCore(edges, k = 2, maxIters = 2)
    }
    // empty k-core (no 5-core exists) is empty, not an error
    assert(graft.operators.Graph.kCore(edges, k = 5, maxIters = 8).count() == 0)
  }

  test("kCore matches a brute-force peel on random graphs") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 5
      val edges = (1 to n * 2).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val k = 2 + trial % 2
      // brute: peel to fixpoint on adjacency sets
      var adj = edges.flatMap(e => Seq(e, e.swap))
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      var changed = true
      while (changed) {
        val dead = adj.collect { case (v, ns) if ns.size < k => v }.toSet
        changed = dead.nonEmpty
        adj = (adj -- dead).map { case (v, ns) => v -> (ns -- dead) }
      }
      val want = adj.map { case (v, ns) => v -> ns.size.toLong }
      val got = graft.operators.Graph.kCore(edges.toDF("a", "b"), k,
          maxIters = 32)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial (n=$n, k=$k)")
    }
  }

  test("memoized label-prop queries survive repeated + nested cache access") {
    // regression: label-prop's build reads the memoized edge relation
    // from inside its own memoized build; that nesting once threw
    // ConcurrentModificationException and must keep working
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/events.parquet").exists())
    val lp = SparkEntry.queries("graph_label_prop")(spark, sfDir)
    assert(lp.count() > 0)
    // second hit (graph_modularity reuses the cached partition)
    assert(SparkEntry.queries("graph_modularity")(spark, sfDir).count() > 0)
    assert(SparkEntry.queries("graph_label_prop")(spark, sfDir).count() == lp.count())
  }

  test("memoized component labels: histogram covers exactly the label set") {
    // graph_components and graph_component_sizes share componentsCached;
    // repeated + interleaved access (the bench's 3 passes) must agree,
    // and the size histogram must account for every labeled node
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/events.parquet").exists())
    val comps = SparkEntry.queries("graph_components")(spark, sfDir)
    val nNodes = comps.count()
    assert(nNodes > 0)
    val hist = SparkEntry.queries("graph_component_sizes")(spark, sfDir)
    val covered = hist.select(org.apache.spark.sql.functions.expr(
      "sum(size * n_components)")).collect()(0).getLong(0)
    assert(covered == nNodes, "histogram must cover every labeled node")
    assert(SparkEntry.queries("graph_components")(spark, sfDir).count() == nNodes)
  }
}
