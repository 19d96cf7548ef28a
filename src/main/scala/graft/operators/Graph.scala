package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorKernels.round6

/** Fixed-iteration PageRank over an edge relation — the graph
  * centrality pass a training pipeline uses to pick canonical
  * documents inside duplicate clusters or to weight crawl sources by
  * link authority (Page et al. 1999).
  *
  * Scale shape: the edge list (degree folded in by a shuffle-hash join
  * against the per-node stats relation — never a sort) is
  * hash-partitioned by `src` ONCE and persisted; each
  * iteration moves only the rank relation (2 cols, one row per node)
  * against that partitioning and aggregates contributions per `dst`
  * with map-side combine — the closure guard proves every node
  * receives mass, so no outer join is needed. The iteration chain
  * executes under [[Iter.tuned]] (AQE off, partitions sized once from
  * the guard-measured node count); lineage is capped with
  * `localCheckpoint` so the plan does not grow with the iteration
  * count. Driver state: nothing but the node count.
  *
  * Iteration count is FIXED (not convergence-tested): the oracle
  * replays the identical unrolled recurrence, so both engines compute
  * the same finite prefix of the power iteration.
  */
object Graph {

  /** PageRank on `edges(src, dst)`. The node set must be CLOSED: every
    * `dst` appears as a `src` (no dangling sinks leaking rank) and
    * every `src` appears as a `dst` (every node receives contributions,
    * so the iteration needs no teleport-only outer join). Both are
    * checked up front and THROWN on violation (the same fail-don't-
    * drift policy as [[Cluster]]'s convergence guard); any symmetrized
    * edge set satisfies them by construction. Returns
    * `(node, rank_norm)` with `rank_norm = rank × n` (mean 1.0)
    * rounded to 6 dp.
    */
  def pageRank(edges: DataFrame,
               iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters must be >= 1")

    // Per-node relation FIRST: both closure guards (a dst-only node is
    // a dangling sink that leaks rank; a src-only node never receives
    // contributions and would vanish without an outer join) AND the
    // out-degree. Persisted: it is simultaneously the guard input, the
    // degree relation, and the iteration's seed node set. Shape: two
    // SINGLE-COLUMN map-side-combined aggregates (out-degree by src,
    // in-presence by dst) full-outer-joined on the node — both sides
    // leave their aggregate hash-partitioned on the join key with the
    // same partition count, so the join adds NO exchange. This
    // replaced the earlier 2-row-explode + one groupBy: that shape
    // pushed 2|E| struct rows through one partial aggregate, and at
    // the 100× octave (234M exploded rows) its per-task hash table was
    // the query's entire remaining spill when suite-lifetime caches
    // squeeze the execution pool; the split form halves the aggregate
    // input twice over (no doubling, one narrow column each).
    val nodeStats = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .join(edges.select(col("dst").as("node")).distinct()
          .withColumn("hasD", lit(1)),
        Seq("node"), "full_outer")
      .select(col("node"),
        when(col("deg").isNotNull, lit(1L)).otherwise(lit(0L)).as("hasS"),
        coalesce(col("hasD"), lit(0)).as("hasD"),
        coalesce(col("deg"), lit(0L)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // scalar guards materialize nodeStats (n, m and the id range ride
    // along so no second pass sizes Iter.tuned or decides packing);
    // release it on the throw path — a rejected edge set must not pin
    // state for the session lifetime
    val srcType = edges.schema("src").dataType
    val idIsIntegral = srcType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val (n, m, pack) = try {
      val guard = nodeStats
        .agg(count(lit(1)).as("n"),
          sum(when(col("hasS") === 0L, 1L).otherwise(0L)).as("noOut"),
          sum(when(col("hasD") === 0, 1L).otherwise(0L)).as("noIn"),
          sum(col("deg")).as("m"),
          (if (idIsIntegral) min(col("node").cast("long"))
           else lit(null).cast("long")).as("minId"),
          (if (idIsIntegral) max(col("node").cast("long"))
           else lit(null).cast("long")).as("maxId"))
        .collect()(0)
      require(guard.getAs[Long]("n") > 0, "empty graph")
      require(guard.getAs[Long]("noOut") == 0L,
        s"pageRank requires every dst to appear as a src (${guard.getAs[Long]("noOut")} " +
          "dangling node(s) found) — symmetrize the edge set or add self-loops first")
      require(guard.getAs[Long]("noIn") == 0L,
        s"pageRank requires every src to also appear as a dst (${guard.getAs[Long]("noIn")} " +
          "contribution-less node(s) found) — symmetrize the edge set first")
      // int-pack the iteration's working set when the MEASURED id range
      // (and every degree, bounded by m) fits 32 bits: the persisted
      // edge relation and every per-iteration shuffle row shrink ~2×,
      // which at the 100× octave is the difference between the cached
      // working set fitting the single-JVM storage pool and evicting /
      // spilling under suite cache pressure. Ids outside int range (or
      // non-integral node ids) keep the untouched wide path — the
      // decision is made from measured data, never assumed.
      val fitsInt = idIsIntegral && !guard.isNullAt(guard.fieldIndex("minId")) &&
        guard.getAs[Long]("minId") >= Int.MinValue.toLong &&
        guard.getAs[Long]("maxId") <= Int.MaxValue.toLong &&
        guard.getAs[Long]("m") <= Int.MaxValue.toLong
      (guard.getAs[Long]("n"), guard.getAs[Long]("m"), fitsInt)
    } catch {
      case t: Throwable =>
        nodeStats.unpersist(blocking = false)
        throw t
    }
    val teleport = (1.0 - damping) / n
    def pk(c: Column): Column = if (pack) c.cast("int") else c

    // Degree folded into the edge relation via a FORCED shuffle-hash
    // join against the n-row nodeStats — no sort anywhere, which is the
    // point: the previous src-partitioned window count sorted the whole
    // edge relation inside its exchange, and the 100× octave measured
    // that sort as the query's dominant phase (143 s of a 237 s median,
    // all 48 GB of its spill — sort spill is 8-byte-aligned UnsafeRows,
    // so int-packing the columns would not have shrunk it). The
    // SHUFFLE_HASH hint pins the n-row side as the build: without it
    // the planner broadcasts whichever side fits under the threshold —
    // at small SF that is the megarow edge side (a single-threaded hash
    // relation of the whole edge list, the round-10 pathology), at 100×
    // the deg side, and either choice leaves the cached eW partitioned
    // by the EDGE INPUT's layout instead of hash(esrc), forcing the
    // iteration to re-shuffle 117M rows every round. Disjoint column
    // names because the iteration self-joins lineage-shared frames.
    val eW = edges.select(pk(col("src")).as("esrc"), pk(col("dst")).as("edst"))
      .join(nodeStats.select(pk(col("node")).as("node"), pk(col("deg")).as("deg"))
          .hint("shuffle_hash"),
        col("esrc") === col("node"))
      .select(col("esrc"), col("edst"), col("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // iterations CHAIN LAZILY into one multi-stage job (measured ~2×
    // cheaper than checkpointing each: no per-iteration job submit +
    // block write), with a lineage cap every 8 iterations so a large
    // `iters` cannot blow up analysis time; one final localCheckpoint
    // materializes the result so e/eW can be unpersisted safely before
    // the caller evaluates. The chain executes under [[Iter.tuned]]:
    // the rank relation's size is exactly n (known from the guard), so
    // the shuffle partition count is sized once and AQE's
    // per-stage re-plan — pure latency on a plan with nothing left to
    // discover — is skipped (measured 2.2× on the chain at sf0.1).
    // seed from the CACHED n-row nodeStats (closure ⇒ every node is a
    // src), replacing the old eW.select(esrc).distinct() — a full
    // edge-relation shuffle that existed only to recover the node set
    // the guard job already holds
    val checkpointed = Iter.tuned(edges.sparkSession, math.max(n, m)) {
      var ranks = nodeStats.select(pk(col("node")).as("node"))
        .withColumn("rank", lit(1.0 / n))
      for (i <- 1 to iters) {
        // closure guarantees every node receives ≥1 contribution, so the
        // groupBy covers the full node set — no outer join needed.
        // SHUFFLE_HASH on the RANKS side pins it as the hash build: a
        // chained/checkpointed rank relation carries the default
        // (effectively infinite) size estimate, so without the hint the
        // planner's "build the smaller side" picks the CACHED-and-known
        // eW — a 117M-row hash relation per partition at the 100×
        // octave, measured as 6 GB spill + tens of GC-seconds per
        // iteration (the octave's whole 35 GB); the n-row build is the
        // one that fits by Iter's partition-sizing contract
        ranks = ranks.hint("shuffle_hash").join(eW, col("node") === col("esrc"))
          .select(col("edst"), (col("rank") / col("deg")).as("share"))
          .groupBy(col("edst"))
          .agg((lit(teleport) + lit(damping) * sum(col("share"))).as("rank"))
          .select(col("edst").as("node"), col("rank"))
        if (i % 8 == 0 && i < iters) ranks = ranks.localCheckpoint()
      }
      ranks.localCheckpoint()
    }
    val out = checkpointed
      .select((if (pack) col("node").cast(srcType) else col("node")).as("node"),
        round(col("rank") * n, 6).as("rank_norm"))
    eW.unpersist()
    nodeStats.unpersist()
    out
  }

  /** Distinct undirected co-activity edges between users active in the
    * same (hour, event_type) slot, kept when the pair co-occurs in at
    * least `minCo` distinct slots. Canonical orientation `a < b`.
    *
    * Scale shape: the self-join is keyed on the SLOT (hour ×
    * event_type), so fan-out per key is bounded by concurrent users in
    * one slot, never the corpus; the multiplicity filter is one
    * map-side-combinable groupBy on the (a, b) pair.
    */
  def coActivityEdges(events: DataFrame, minCo: Int = 3): DataFrame = {
    val slots = events
      .select(date_trunc("hour", col("ts")).as("h"),
        col("event_type").as("et"), col("user_id"))
      .distinct()
    slots.select(col("h"), col("et"), col("user_id").as("a"))
      .join(slots.select(col("h"), col("et"), col("user_id").as("b")), Seq("h", "et"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= minCo)
      .select(col("a"), col("b"))
  }

  /** k-core of an undirected edge set (`a < b` canonical, distinct):
    * iteratively peel nodes of degree < k until the fixpoint; returns
    * the surviving nodes with their in-core degree — the standard
    * dense-community pruning pass before expensive per-node work.
    *
    * Scale shape: each round is ONE semi-join of the (2-column) edge
    * relation against the surviving node set plus one
    * map-side-combinable degree groupBy — edges never rewrite, only
    * the shrinking node relation moves. Convergence is detected by a
    * scalar count per round (the fail-don't-drift policy: if the
    * fixpoint isn't reached within `maxIters`, THROW rather than
    * return a half-peeled set — which also licenses the oracle to
    * replay a fixed `maxIters` rounds, since a converged fixpoint is
    * stable under further rounds).
    */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 8): DataFrame = {
    require(k >= 1 && maxIters >= 1, "need k >= 1 and maxIters >= 1")
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def degreesOver(alive: DataFrame): DataFrame =
      sym.join(alive.select(col("node").as("src")), "src")
        .join(alive.select(col("node").as("dst")), "dst")
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg"))
    var alive = sym.select(col("src").as("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var n = alive.count()
    var converged = false
    var it = 0
    // <= maxIters: detecting the fixpoint costs one extra NO-CHANGE
    // pass, so a peel cascade exactly maxIters deep must still get its
    // confirming round — maxIters bounds PRODUCTIVE rounds, not passes.
    // The peel rounds run under [[Iter.tuned]], sized by the LARGEST
    // relation the round shuffles — the symmetrized edge set, not the
    // node state (Iter.RowsPerPartition scaladoc); sym is already
    // cached by the count above, so its count is a narrow scan
    Iter.tuned(edges.sparkSession,
        math.max(n, sym.count())) { while (!converged && it <= maxIters) {
      val next = degreesOver(alive).filter(col("deg") >= k)
        .select(col("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val m = next.count()
      alive.unpersist(blocking = false)
      alive = next
      converged = m == n
      n = m
      it += 1
    } }
    if (!converged) {
      alive.unpersist(blocking = false); sym.unpersist(blocking = false)
      throw new IllegalStateException(
        s"kCore(k=$k) did not converge within $maxIters rounds — raise maxIters")
    }
    val out = degreesOver(alive)
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    alive.unpersist(blocking = false); sym.unpersist(blocking = false)
    out
  }

  /** Degree histogram of an undirected edge set (`a < b` canonical,
    * distinct): (degree, n_nodes). Two map-side-combinable groupBys —
    * the 100 TB shape for "what does the graph look like".
    */
  def degreeHistogram(edges: DataFrame): DataFrame =
    edges.select(col("a").as("node"))
      .union(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Hill (maximum-likelihood) tail exponent of the degree
    * distribution: `α = 1 + n_tail / Σ_{d ≥ dMin} ln(d / dMin)` — the
    * "how power-law is this graph" readout that decides whether the
    * skew machinery (degree orientation, salting, AQE skew hints) is
    * load-bearing or decorative. α near 2 means hub degrees grow with
    * graph size and a hub² wedge join WILL explode at 100×; large α
    * means degrees are light-tailed and plain joins survive.
    *
    * Scale shape: reduces through [[degreeHistogram]] to the distinct-
    * degree relation (bounded by the max degree), so the ln terms and
    * the sum touch ≤ thousands of rows regardless of corpus size.
    * Parity: one term per DISTINCT degree, `n_d · ln(d/dMin)`
    * 6-dp-rounded then summed in exact DECIMAL(25,12) — order-
    * independent, the cross-group float convention.
    *
    * Returns one row `(n_nodes, n_tail, d_min, d_max, alpha)`; alpha
    * NULL when the tail is empty or every tail degree equals dMin
    * (the estimator is undefined there).
    */
  def powerLawTail(edges: DataFrame, dMin: Int = 2): DataFrame = {
    require(dMin >= 1, s"dMin must be >= 1: $dMin")
    val hist = degreeHistogram(edges)
    hist.agg(
        sum(col("n_nodes")).as("n_nodes"),
        sum(when(col("degree") >= dMin, col("n_nodes"))).as("n_tail"),
        max(when(col("degree") >= dMin, col("degree"))).as("d_max"),
        sum(when(col("degree") >= dMin,
          round(col("n_nodes").cast("double") *
            log(col("degree").cast("double") / lit(dMin.toDouble)), 6)
            .cast("decimal(25,12)"))).as("lsum"))
      .select(col("n_nodes"),
        coalesce(col("n_tail"), lit(0L)).as("n_tail"),
        lit(dMin.toLong).as("d_min"), col("d_max"),
        when(col("lsum") > 0,
          round(lit(1.0) + coalesce(col("n_tail"), lit(0L)).cast("double") /
            col("lsum").cast("double"), 6)).as("alpha"))
  }

  /** Triangle count + global clustering coefficient of an undirected
    * edge set (`a < b` canonical, distinct), via the compact-forward /
    * degree-ordered wedge join (Suri & Vassilvitskii WWW'11): each edge
    * is oriented from its lower (degree, id) endpoint to the higher, so
    * every node's out-degree in the resulting DAG is O(√m) — the wedge
    * self-join's per-key fan-out is bounded even on power-law graphs,
    * where id-ordered wedging would square the hub degrees. Each
    * triangle is counted exactly once (at its smallest-ordered vertex);
    * the count is orientation-independent, so the oracle may verify
    * with plain id ordering. Returns ONE row: (n_nodes, n_edges,
    * n_triangles, clustering) with clustering = 3·triangles / wedges.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val oriented = orientByDegree(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val cp = triangleStatsOriented(oriented).localCheckpoint()
    oriented.unpersist()
    cp
  }

  /** Compact-forward orientation of an undirected edge set (`a < b`
    * canonical, distinct): each edge as (src, dst) structs of
    * (d: degree, id: node), src < dst in (degree, id) order. Out-degree
    * in the resulting DAG is O(√m) per node even on power-law graphs —
    * the relation [[triangleStatsOriented]] and [[edgeJaccard]] share
    * (memoize it persisted when running both).
    */
  def orientByDegree(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    // orient by (degree, id): least/greatest on the struct key gives
    // the DAG edge; structs compare field-by-field, so ties on degree
    // break deterministically by id
    e.join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      .select(struct(col("da").as("d"), col("a").as("id")).as("ka"),
        struct(col("db").as("d"), col("b").as("id")).as("kb"))
      .select(least(col("ka"), col("kb")).as("src"),
        greatest(col("ka"), col("kb")).as("dst"))
  }

  /** The triangle relation `(u, v, w)` of a pre-built
    * [[orientByDegree]] DAG — each triangle exactly once, corners in
    * orientation (degree, id) order. The ONE place that encodes the
    * compact-forward invariant (the `v < w` wedge comparison must be
    * in the same struct order the orientation used); the global,
    * per-edge, and per-vertex triangle operators all consume it, so a
    * future change cannot diverge their counts.
    *
    * PUBLIC (round 13) so callers running SEVERAL triangle-family
    * queries over one oriented DAG (global stats, per-edge Jaccard,
    * per-vertex clustering) can build and persist this wedge join —
    * each query's dominant O(m^1.5) phase — once, via the `(oriented,
    * triangles)` overloads below; the single-query forms still
    * enumerate in place.
    */
  def trianglesOriented(oriented: DataFrame): DataFrame =
    oriented.select(col("src").as("u"), col("dst").as("v"))
      .join(oriented.select(col("src").as("u"), col("dst").as("w")), "u")
      .filter(col("v") < col("w"))
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"), "left_semi")

  /** [[triangleStats]] body over a pre-built (ideally persisted)
    * [[orientByDegree]] relation — node count, degrees, and wedge
    * totals all come from the struct endpoints, so nothing else is
    * scanned.
    */
  def triangleStatsOriented(oriented: DataFrame): DataFrame =
    triangleStatsOriented(oriented, trianglesOriented(oriented))

  /** [[triangleStatsOriented]] over a pre-built (ideally persisted)
    * [[trianglesOriented]] relation — the caller owns its lifecycle.
    */
  def triangleStatsOriented(oriented: DataFrame,
                            triangleRel: DataFrame): DataFrame = {
    val deg = oriented.select(col("src.id").as("node"), col("src.d").as("d"))
      .union(oriented.select(col("dst.id").as("node"), col("dst.d").as("d")))
      .distinct()
    val triangles = triangleRel
      .agg(count(lit(1)).as("n_triangles"))
    // wedge total from the degree relation (k-choose-2 per node) — no
    // second pass over the wedge join
    val stats = deg.agg(count(lit(1)).cast("long").as("n_nodes"),
      sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_wedges"))
    val edgeCount = oriented.agg(count(lit(1)).cast("long").as("n_edges"))
    stats.crossJoin(edgeCount).crossJoin(triangles)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .as("clustering"))
  }

  /** Neighbor-set Jaccard per existing edge — J(a,b) =
    * |N(a)∩N(b)| / |N(a)∪N(b)| with |N(a)∩N(b)| = the number of
    * triangles through the edge. A naive common-neighbor join keyed on
    * a node materializes Σ deg² rows (hub-squared on power-law
    * graphs); here triangles are enumerated once each from the
    * compact-forward DAG — O(√m) wedge fan-out per node — and each
    * triangle credits its three edges, so the intermediate is
    * O(m^1.5) worst-case instead. Degrees ride the endpoint structs;
    * union size is the exact-integer da+db−common.
    */
  def edgeJaccard(oriented: DataFrame): DataFrame =
    edgeJaccard(oriented, trianglesOriented(oriented))

  /** [[edgeJaccard]] over a pre-built (ideally persisted)
    * [[trianglesOriented]] relation — the caller owns its lifecycle.
    */
  def edgeJaccard(oriented: DataFrame, triangleRel: DataFrame): DataFrame = {
    val commonPerEdge = triangleRel
      .select(explode(array(
        struct(col("u").as("x"), col("v").as("y")),
        struct(col("u").as("x"), col("w").as("y")),
        struct(col("v").as("x"), col("w").as("y")))).as("e"))
      .groupBy(col("e.x").as("src"), col("e.y").as("dst"))
      .agg(count(lit(1)).as("common"))
    oriented.join(commonPerEdge, Seq("src", "dst"), "left")
      .select(
        least(col("src.id"), col("dst.id")).as("a"),
        greatest(col("src.id"), col("dst.id")).as("b"),
        coalesce(col("common"), lit(0L)).as("common_neighbors"),
        round(coalesce(col("common"), lit(0L)).cast("double") /
          (col("src.d") + col("dst.d") - coalesce(col("common"), lit(0L)))
            .cast("double"), 6).as("jaccard"))
  }

  /** Per-vertex local clustering coefficient over a pre-built
    * [[orientByDegree]] relation — "how clique-like is each node's
    * neighborhood", the node-level companion to [[triangleStats]]'s
    * global transitivity: `C(v) = 2·T(v) / (d(v)·(d(v)−1))` with T(v)
    * the number of triangles through v (0 when d < 2).
    *
    * Scale shape: triangles are enumerated ONCE each from the
    * compact-forward DAG (O(√m) wedge fan-out — the
    * [[triangleStatsOriented]] join), then each triangle credits its
    * three corners via a 3-row explode and a map-side-combinable
    * groupBy; degrees ride the endpoint structs, so nothing outside
    * the oriented relation is scanned. All arithmetic is exact
    * integers until the one 6-dp-rounded double division.
    *
    * Returns `(node, degree, triangles, lcc)` for every node.
    */
  def vertexClustering(oriented: DataFrame): DataFrame =
    vertexClustering(oriented, trianglesOriented(oriented))

  /** [[vertexClustering]] over a pre-built (ideally persisted)
    * [[trianglesOriented]] relation — the caller owns its lifecycle.
    */
  def vertexClustering(oriented: DataFrame, triangleRel: DataFrame): DataFrame = {
    val perNode = triangleRel
      .select(explode(array(col("u.id"), col("v.id"), col("w.id"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val deg = oriented.select(col("src.id").as("node"), col("src.d").as("d"))
      .union(oriented.select(col("dst.id").as("node"), col("dst.d").as("d")))
      .distinct()
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("d") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double") /
            (col("d") * (col("d") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** Link prediction over NON-adjacent pairs by the Resource-Allocation
    * index (Zhou, Lü & Zhang 2009): RA(v,w) = Σ_{u ∈ N(v)∩N(w)} 1/deg(u),
    * the top link-prediction score on co-occurrence graphs and — unlike
    * Adamic-Adar's 1/ln(deg) — free of libm transcendentals, so the
    * score replays bit-for-bit in any engine: 1/d is IEEE
    * correctly-rounded, pinned to 12 dp, summed as DECIMAL(16,12)
    * (exact, order-free), rounded to 6 dp once at the end.
    *
    * The candidate space of exact common-neighbor scoring IS the wedge
    * set (every scored pair must surface), so the join is inherently
    * Σ deg² — `maxCenterDegree` caps the centers enumerated, standard
    * practice because a super-hub contributes ≈0 per pair
    * (1/deg) while fanning out deg² pairs. The cap is part of the
    * operator's contract (the oracle replays it); wedge rows aggregate
    * map-side immediately, and the final cut is TakeOrdered (per-
    * partition top-N, no global sort).
    *
    * @return top-N rows (a, b, common_neighbors, ra_score), a < b,
    *         score desc, ties by (common desc, a, b).
    */
  def linkPredictRA(edges: DataFrame, maxCenterDegree: Int, topN: Int): DataFrame = {
    // re-canonicalize a < b: the anti-join against existing edges is
    // silently wrong on a reversed edge, so don't trust the contract
    val e = edges.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b"))
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .filter(col("du") >= 2 && col("du") <= maxCenterDegree)
    val wedges = adj.select(col("u"), col("du"), col("v"))
      .join(adj.select(col("u"), col("v").as("w")), "u")
      .filter(col("v") < col("w"))
    val scored = wedges
      .groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(round(lit(1.0) / col("du"), 12).cast("decimal(16,12)")).as("ra"))
    scored
      .join(e, scored("v") === e("a") && scored("w") === e("b"), "left_anti")
      .select(col("v").as("a"), col("w").as("b"), col("common_neighbors"),
        round(col("ra").cast("double"), 6).as("ra_score"))
      .orderBy(col("ra_score").desc, col("common_neighbors").desc,
        col("a"), col("b"))
      .limit(topN)
  }

  /** The symmetrized, src-hash-partitioned frontier-join relation the
    * BFS operators walk: both directions of the canonical `(a, b)`
    * edge set, repartitioned by `src` so every per-hop frontier join
    * probes an at-rest layout. Exposed so callers running SEVERAL
    * BFS-family queries over one edge set (k-hop, landmark closeness,
    * landmark eccentricity) can build and persist it once — each
    * operator otherwise re-unions and re-shuffles the identical
    * relation (measured round 12: ~0.3–0.5 s per query at sf0.1).
    */
  def symmetrizeBySrc(edges: DataFrame): DataFrame =
    edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src"))

  /** Minimum-hop BFS distances from a seed node set, bounded to
    * `maxHops` frontier expansions — the bounded-radius reachability
    * pass behind "documents within k links of a trusted site" crawl
    * scoping (OPIC-style seeding) and blast-radius queries. The walk is
    * [[frontierWalk]] with no key.
    *
    * `edges` is undirected canonical `(a, b)`; `seeds` is a one-column
    * `node` relation. Returns `(node, hop)` for every node reachable
    * within `maxHops` (seeds at hop 0); unreachable nodes are absent.
    */
  def kHopDistances(edges: DataFrame, seeds: DataFrame,
                    maxHops: Int): DataFrame =
    overSymmetrized(edges)(kHopDistancesOver(_, seeds, maxHops))

  /** [[kHopDistances]] over a pre-built (ideally persisted)
    * [[symmetrizeBySrc]] relation — the caller owns its lifecycle.
    */
  def kHopDistancesOver(sym: DataFrame, seeds: DataFrame,
                        maxHops: Int): DataFrame =
    frontierWalk(sym, seeds.select(col("node")).distinct().withColumn("hop", lit(0L)),
      Nil, maxHops)

  /** Multi-source BFS keyed by landmark: like [[kHopDistances]] but the
    * frontier carries WHICH landmark reached the node, so one pass
    * yields `(lm, node, hop)` — exact distance from every landmark to
    * every node within `maxHops`. This is the landmark/pivot scheme for
    * closeness-style centrality at scale (Indyk 1999; HADI's exact
    * small-radius regime): |landmarks| bounded ⇒ the frontier relation
    * is ≤ |landmarks|×|nodes| 2-long-column rows, shuffled on `node`
    * per round, edges persisted at rest — never an all-pairs walk.
    * The walk is [[frontierWalk]] keyed by `lm`.
    *
    * `edges` is undirected canonical `(a, b)`; `landmarks` is a
    * one-column `lm` relation. Seeds appear at hop 0 (lm = node).
    */
  def landmarkDistances(edges: DataFrame, landmarks: DataFrame,
                        maxHops: Int): DataFrame =
    overSymmetrized(edges)(landmarkDistancesOver(_, landmarks, maxHops))

  /** [[landmarkDistances]] over a pre-built (ideally persisted)
    * [[symmetrizeBySrc]] relation — the caller owns its lifecycle.
    */
  def landmarkDistancesOver(sym: DataFrame, landmarks: DataFrame,
                            maxHops: Int): DataFrame =
    frontierWalk(sym, landmarks.select(col("lm")).distinct()
      .select(col("lm"), col("lm").as("node"), lit(0L).as("hop")), Seq("lm"), maxHops)

  /** `walkOver` of the persisted [[symmetrizeBySrc]] relation of
    * `edges`, materialized before the relation is released: the walk's
    * FINAL hop is lazy ([[frontierWalk]]) and still references it.
    */
  private def overSymmetrized(edges: DataFrame)(walkOver: DataFrame => DataFrame): DataFrame = {
    val sym = symmetrizeBySrc(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val out = walkOver(sym).localCheckpoint()
    sym.unpersist()
    out
  }

  /** The frontier BFS behind [[kHopDistances]] and [[landmarkDistances]]:
    * from `start` `(keys…, node, hop = 0)`, each hop expands every
    * key's frontier one edge of `sym` and keeps the `(keys…, node)`
    * pairs not yet visited, at that hop. Returns the visited
    * `(keys…, node, hop)` rows; keys never interact, so a walk keyed by
    * landmark is one independent BFS per landmark.
    *
    * Scale shape: classic frontier BFS. The symmetrized edge list is
    * hash-partitioned by `src` once and persisted; each hop joins only
    * the CURRENT frontier (newly discovered nodes, never the visited
    * set) against it, so per-iteration shuffle is frontier × avg-degree
    * rows of a few columns. The visited set stays distributed — new
    * frontiers are carved out with a left-anti join, each INTERMEDIATE
    * hop's result is `localCheckpoint`ed (lineage stays flat, the
    * union of ≤ `maxHops`+1 cached pieces), and nothing but the
    * empty-frontier probe count reaches the driver. The FINAL hop is
    * left lazy: its frontier feeds no further expansion, so
    * materializing it (write + re-read + emptiness probe) would be a
    * pure barrier — the consumer's one readout job computes it in
    * place (round-13: the final hop is the walk's LARGEST relation,
    * and closeness paid a full extra materialization of it per run).
    * Hop count is FIXED so the oracle replays the identical unrolled
    * expansion.
    */
  private def frontierWalk(sym: DataFrame, start: DataFrame, keys: Seq[String],
                           maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val at = keys :+ "node"
    var visited = start.localCheckpoint()
    var frontier = visited
    var h = 1
    var exhausted = false
    // frontier sizes vary per hop, so only AQE is dropped (the
    // per-hop plan is fixed; session partitions stay — see Iter)
    Iter.noAqe(sym.sparkSession) { while (h <= maxHops && !exhausted) {
      // frontier is the bounded side — hint it as the hash build (a
      // checkpointed frontier's default size estimate would otherwise
      // let the planner build on the persisted edge relation)
      val nextPlan = frontier.select(at.map(col): _*).hint("shuffle_hash")
        .join(sym, col("node") === col("src"))
        .select(keys.map(col) :+ col("dst").as("node"): _*).distinct()
        .join(visited, at, "left_anti")
        .withColumn("hop", lit(h.toLong))
      if (h == maxHops) {
        // final hop: no further expansion consumes it, so skip the
        // checkpoint + emptiness probe and let the readout compute it
        // lazily (an empty final frontier unions to nothing — correct)
        visited = visited.union(nextPlan)
      } else {
        val next = nextPlan.localCheckpoint()
        // the emptiness probe doubles as the materializing action; an
        // empty frontier ends the walk early (correct: no node beyond it)
        exhausted = next.isEmpty
        if (!exhausted) {
          visited = visited.union(next)
          frontier = next
        }
      }
      h += 1
    } }
    visited
  }

  /** Per-landmark eccentricity from one [[landmarkDistances]] pass —
    * `ecc(lm)` = the farthest hop the landmark's BFS reached, plus how
    * many nodes it reached at all. The max over landmarks is the
    * textbook diameter LOWER bound and the min is (within its
    * component) a radius estimate — the "how many hops across is this
    * graph really" readout behind picking iteration counts for the
    * fixpoint operators ([[kHopDistances]] radius, label-prop iters).
    *
    * Scale shape: everything is the bounded-landmark BFS (≤
    * |landmarks|×|nodes| rows, node-shuffled per round) followed by ONE
    * map-side-combinable groupBy on `lm`. `maxHops` caps the walk; a
    * landmark whose ecc EQUALS maxHops may be truncated (`capped`
    * flags it) — callers read capped=false rows as exact.
    *
    * Returns `(lm, n_reached, ecc, capped)`, one row per landmark.
    */
  def landmarkEccentricity(edges: DataFrame, landmarks: DataFrame,
                           maxHops: Int): DataFrame =
    landmarkEccentricityOf(landmarkDistances(edges, landmarks, maxHops), maxHops)

  /** The [[landmarkEccentricity]] readout over a pre-built
    * `(lm, node, hop)` walk relation — for callers sharing ONE
    * multi-source BFS across several landmark readouts. `maxHops` must
    * be the cap the walk ran with (it defines `capped`); a walk over a
    * SUPERSET landmark set filtered down to this readout's set is
    * exactly equivalent, because each landmark's BFS rows are keyed
    * (lm, node) and never interact across landmarks.
    */
  def landmarkEccentricityOf(walk: DataFrame, maxHops: Int): DataFrame =
    walk.groupBy(col("lm"))
      .agg(count(lit(1)).as("n_reached"), max(col("hop")).as("ecc"))
      .withColumn("capped", col("ecc") === maxHops.toLong)

  /** The symmetric customer↔supplier co-purchase graph: an edge per
    * distinct (customer, supplier) pair observed in orders⋈lineitem,
    * materialized in both directions (so the bipartite walk mixes and
    * no node dangles). Node ids are prefixed ('c'/'s') because the two
    * key spaces overlap numerically.
    */
  def purchaseGraph(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = purchasePairs(orders, lineitem)
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** The DIRECTED customer→supplier purchase edges (one per distinct
    * observed pair, 'c'/'s'-prefixed node ids) — the bipartite half
    * [[purchaseGraph]] symmetrizes, and the natural input for
    * [[hits]]: customers point at the suppliers they buy from.
    */
  def purchasePairs(orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("c"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("s"))
      .distinct()

  /** [[purchasePairs]] with the two overlapping key spaces packed into
    * disjoint LONGS instead of 'c'/'s'-prefixed strings: customer k →
    * 2k, supplier k → 2k+1 (reversible by parity + shiftright). Every
    * join key, groupBy key and iteration working-set row of
    * [[pageRank]]/[[hits]] over this relation then hashes and compares
    * 8-byte longs instead of variable-length UTF8 strings, the distinct
    * that builds the relation shuffles longs, and pageRank's MEASURED
    * int-packing can actually fire — a string id never packs.
    * [[unpackPurchaseNode]] restores the exact prefixed-string ids for
    * the declared outputs.
    */
  def purchasePairsPacked(orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("s"))
      .distinct()

  /** Inverse of [[purchasePairsPacked]]'s key packing: even → "c"+k/2,
    * odd → "s"+(k−1)/2 — bit-identical to the strings
    * [[purchasePairs]] builds (integral casts print the same digits
    * from int or long).
    */
  def unpackPurchaseNode(node: Column): Column =
    concat(when(node % 2 === 0, lit("c")).otherwise(lit("s")),
      shiftright(node, 1).cast("string"))

  /** Fixed-iteration synchronous min-label propagation over an
    * undirected canonical edge set `(a, b)`: every node starts as its
    * own label and takes `min(own, min(neighbor labels))` each round.
    * With iters < diameter this yields a NON-trivial community
    * partition (labels spread only `iters` hops — unlike
    * [[Cluster.connectedComponents]], which runs to convergence), and
    * the fixed count makes the recurrence finite so the oracle unrolls
    * it CTE-per-round instead of recursing.
    *
    * The rounds are [[Cluster.minLabels]]' capped at `iters`: a round
    * that changes no label ends them early, which moves no label (a
    * converged state never changes again). Returns `(node, label)`.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val (labels, _) = Cluster.minLabels(
      edges.select(col("a").as("src"), col("b").as("dst")), iters)
    labels.select(col("id").as("node"), col("comp").as("label"))
  }

  /** Newman modularity of a node partition over an undirected canonical
    * edge set: `Q = Σ_c (e_c/m − (d_c/2m)²)`, computed as ONE exact
    * rational `(4m·Σe_c − Σd_c²) / (4m²)` — integer numerator and
    * denominator (DECIMAL(38,0) sums), a single double division,
    * 6-dp rounded. Returns one row:
    * `(n_nodes, n_edges, n_communities, n_intra, modularity)`.
    *
    * Scale shape: label the two endpoints by broadcast-friendly joins,
    * then everything reduces through map-side-combinable aggregates;
    * nothing wider than (community, count) ever shuffles.
    */
  def modularityOfLabels(edges: DataFrame, labels: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val la = labels.select(col("node").as("a"), col("label").as("ca"))
    val lb = labels.select(col("node").as("b"), col("label").as("cb"))
    // every statistic — m, intra, AND the community degree sums — comes
    // from the label-RESTRICTED edge relation, so partial label sets
    // yield the labeled subgraph's modularity consistently (degrees
    // from the full edge set would count edges to unlabeled neighbors
    // that m excludes, producing a Q matching neither graph); with full
    // label cover this is identical to full-graph degrees
    val marked = edges.select(col("a"), col("b")).join(la, "a").join(lb, "b")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = marked.agg(count(lit(1)).as("m"),
      sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("intra"))
    val degByComm = marked.select(col("ca").as("label"))
      .union(marked.select(col("cb").as("label")))
      .groupBy(col("label")).agg(count(lit(1)).as("dc"))
    val sq = degByComm.agg(sum(col("dc").cast(dec) * col("dc").cast(dec)).as("sumd2"),
      count(lit(1)).as("n_communities"))
    val nn = labels.agg(count(lit(1)).as("n_nodes"))
    val out = base.crossJoin(sq).crossJoin(nn)
      .select(col("n_nodes"), col("m").as("n_edges"), col("n_communities"),
        col("intra").as("n_intra"),
        round((lit(4).cast(dec) * col("m") * col("intra") - col("sumd2"))
            .cast("double") /
          (lit(4).cast(dec) * col("m") * col("m")).cast("double"), 6)
          .as("modularity"))
    Eval.pinAndRelease(out, marked) // 1-row result pins; edges release
  }

  /** Fixed-iteration HITS (Kleinberg 1999) over directed
    * `edges(src, dst)`: sources are scored as HUBS (they point at good
    * authorities), destinations as AUTHORITIES (good hubs point at
    * them). Returns `(node, kind, score)` with kind ∈ {hub, auth};
    * scores are sum-normalized per iteration (Σ = 1 within each side)
    * and rounded to 6 dp. An edge with a null endpoint is dropped.
    *
    * Scale shape: the scores live on the driver, as one array per side
    * over a dense node index built once per call ([[HitsGraph]]), and the
    * edges are cached once as primitive index arrays. Each half-step is
    * ONE Spark job and no query plan ([[hitsHalfStep]], a [[Fit]] step);
    * the returned relation is built from the final arrays. Driver state:
    * the node ids and a few numbers per node.
    * Exactness discipline: the per-node sums and the global normalizer
    * are exact scaled-long sums of the 6-dp scores ([[ExactSum]] —
    * order-independent, equal to the oracle's DECIMAL(25,12) sums), and
    * only the final double division is floating point, so the oracle's
    * unrolled replay is bit-identical.
    */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val g = HitsGraph(edges)
    try {
      require(g.hubs.nonEmpty, "hits requires a non-empty edge relation")
      var h = Array.fill(g.hubs.length)(1.0)
      var a: Array[Double] = null
      for (_ <- 1 to iters) {
        a = hitsHalfStep(g, h, toAuth = true)
        h = hitsHalfStep(g, a, toAuth = false)
      }
      val rows = g.hubs.indices.map(i => Row(g.hubs(i), "hub", h(i))) ++
        g.auths.indices.map(j => Row(g.auths(j), "auth", a(j)))
      rowsFrame(edges.sparkSession, rows, StructType(Seq(
        StructField("node", g.nodeType), StructField("kind", StringType, nullable = false),
        StructField("score", DoubleType, nullable = false))))
    } finally g.edges.unpersist(blocking = false)
  }

  /** The edges of one [[hits]] call over dense node indices: hub i is
    * node `hubs(i)`, authority j is node `auths(j)`, and `edges` holds a
    * block of (hub index, authority index) pairs per core
    * ([[Fit.blocks]]). `edges` is materialized by the first half-step;
    * the caller unpersists it.
    */
  private[graft] final case class HitsGraph(hubs: Array[Any], auths: Array[Any], nodeType: DataType,
                                            edges: RDD[(Array[Int], Array[Int])])

  private[graft] object HitsGraph {

    /** Indexes `edges(src, dst)`: one job collects both distinct node
      * sides, and each edge takes its two indices from broadcast hash
      * joins against the index relations, so the lookup runs on Spark's
      * typed hash relations whatever the node type is.
      */
    def apply(edges: DataFrame): HitsGraph = {
      val spark = edges.sparkSession
      val e = edges.select(col("src"), col("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
      val sides = e.select(col("src").as("node"), lit(true).as("hub"))
        .union(e.select(col("dst").as("node"), lit(false).as("hub")))
        .distinct()
      val nodeType = sides.schema("node").dataType
      val (hubRows, authRows) = sides.collect().partition(_.getBoolean(1))
      def index(rows: Array[Row], name: String): DataFrame =
        broadcast(rowsFrame(spark, rows.indices.map(i => Row(rows(i).get(0), i)),
          StructType(Seq(StructField(name, nodeType), StructField(s"${name}_i", IntegerType)))))
      val pairs = e.join(index(hubRows, "src"), "src").join(index(authRows, "dst"), "dst")
        .select(col("src_i"), col("dst_i"))
      val blocks = Fit.blocks(pairs.queryExecution.toRdd, cutLineage = true) { rows =>
        val hub = Array.newBuilder[Int]
        val auth = Array.newBuilder[Int]
        rows.foreach { r => hub += r.getInt(0); auth += r.getInt(1) }
        (hub.result(), auth.result())
      }
      HitsGraph(hubRows.map(_.get(0)), authRows.map(_.get(0)), nodeType, blocks)
    }
  }

  /** A relation over driver-side rows, scanned from an RDD: a local
    * relation would carry the rows in its plan, and Catalyst rewrites
    * every row of it once per optimizer rule (at the 10× octave the
    * 160k-row index and result relations cost seconds of planning).
    */
  private def rowsFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  /** One normalized HITS half-step, as one [[Fit.step]]: the score mass
    * of one side flows across `g`'s edges to the other side (hubs →
    * authorities when `toAuth`), Σ = 1 after normalization. `scores`
    * holds the source side's 6-dp scores in index order; the result
    * holds the target side's.
    *
    * The state is the source side's 6-dp terms ([[ExactSum.term]]); each
    * task sums them per target node with [[ExactSum.add]], and the
    * kernel merges the tasks' arrays the same way. The normalizer is the
    * exact sum of the raws, and each score is round6(raw / normalizer)
    * on the sums' nearest doubles — the oracle's
    * CAST(raw AS DOUBLE)/CAST(tot AS DOUBLE) of its decimal sums, rounded
    * HALF_UP as its round(·, 6).
    */
  private[graft] def hitsHalfStep(g: HitsGraph, scores: Array[Double], toAuth: Boolean): Array[Double] = {
    val n = if (toAuth) g.auths.length else g.hubs.length
    val raw = Fit.step(g.edges, scores.map(ExactSum.term)) { (block, t) =>
      val (from, to) = if (toAuth) block else block.swap
      val s = new Array[Long](n)
      var i = 0
      while (i < from.length) {
        s(to(i)) = ExactSum.add(s(to(i)), t(from(i)))
        i += 1
      }
      s
    }
    val tot = raw.foldLeft(0L)(ExactSum.add)
    require(tot > 0, "hits requires a non-empty edge relation (score mass vanished)")
    val t = ExactSum.toDouble(tot)
    raw.map(r => round6(ExactSum.toDouble(r) / t))
  }
}
