package graft.operators

import org.apache.spark.sql.SparkSession

/** Execution-conf scope for the fixed-iteration loop bodies that still
  * plan a query per round: [[Graph.pageRank]], [[Graph.kCore]], the
  * min-label loop [[Cluster.minLabels]] (connected components, label
  * propagation) and the frontier BFS behind [[Graph.kHopDistances]] and
  * [[Graph.landmarkDistances]]. It runs the loop's materializing jobs with adaptive
  * execution OFF and (when the per-iteration state size is known) the
  * shuffle partition count sized ONCE from that size. The [[Fit]]
  * kernel's fits (HITS, k-means, PCA) need no scope: each step is an RDD
  * job over cached blocks and plans no query.
  *
  * Why this is the scale-honest choice and not a local-mode hack: an
  * iterative operator runs the SAME two-stage plan every round over a
  * state relation whose size the operator already measured (node
  * count from the closure guard, frontier count from the emptiness
  * probe). AQE's value is discovering unknown sizes and skew at
  * runtime — here there is nothing left to discover, and its cost is
  * real: one blocking re-plan per query stage, paid iters × stages
  * times per query (measured round 10: pageRank's 5-iteration chain
  * 2.9–5.4 s under AQE vs 1.3–2.0 s without, identical results, sf0.1,
  * local[32]). Skew is structurally absent from the tuned shuffles —
  * the state relation is one row per node/label hashed on its key, and
  * the edge side stays at rest in its cached partitioning. The
  * SURROUNDING jobs (edge-relation builds, guards) keep AQE: their
  * input sizes genuinely are unknown and their joins can skew.
  *
  * Conf scope-and-restore is session-global for its duration — fine
  * for the sequential Verify/Bench/test drivers; a concurrently shared
  * session would momentarily run other queries without AQE (a perf
  * wobble, never a correctness event).
  */
object Iter {

  /** Target rows per reduce partition — a few MB of (key, value)
    * pairs: small enough to stay in-memory on an executor, big enough
    * that task overhead never dominates.
    *
    * Callers must size by the LARGEST relation the loop's shuffles
    * carry, not just the state relation: a per-iteration groupBy's
    * map-side partial outputs are bounded by (state keys × map
    * partitions), so a megarow edge side with a tiny conf partition
    * count funnels tens of millions of partial rows into one or two
    * reduce tasks (the 100× audit measured pageRank's iteration at
    * 52 s with state-sized partitions vs 12 s sized by the edge
    * relation — pass `max(stateRows, edgeRows)`).
    */
  val RowsPerPartition: Long = 250000L

  /** Shuffle partition count for a loop whose per-iteration shuffles
    * carry at most `stateRows` rows (see [[RowsPerPartition]] — pass
    * the max over the relations the loop moves):
    * `ceil(stateRows / RowsPerPartition)`, floored at 1, capped at the
    * session's configured `spark.sql.shuffle.partitions` (the
    * deployment's own parallelism ceiling — a 1000-executor submit
    * sets it in the thousands and keeps them; a 16k-node graph on the
    * same cluster provably needs one).
    */
  def partitionsFor(spark: SparkSession, stateRows: Long): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val need = (stateRows + RowsPerPartition - 1) / RowsPerPartition
    math.max(1L, math.min(session.toLong, need)).toInt
  }

  /** Run `body` (which must itself execute the loop's jobs — collect,
    * count, localCheckpoint) with AQE off and shuffle partitions sized
    * for `stateRows`; restores both confs after. Pass `stateRows < 0`
    * when the state size is unknown to keep the session's partition
    * count and only drop AQE.
    */
  def tuned[A](spark: SparkSession, stateRows: Long)(body: => A): A = {
    val kAqe = "spark.sql.adaptive.enabled"
    val kParts = "spark.sql.shuffle.partitions"
    val kSmj = "spark.sql.join.preferSortMergeJoin"
    val prevAqe = spark.conf.get(kAqe)
    val prevParts = spark.conf.get(kParts)
    val prevSmj = spark.conf.get(kSmj)
    spark.conf.set(kAqe, "false")
    // an iteration join pairs the at-rest edge/input relation with the
    // bounded state relation; a sort-merge join would re-SORT the
    // megarow side EVERY round (the 100× audit measured pageRank at
    // ~65 s/iteration doing exactly that), where a shuffled-hash join
    // builds on the state side and streams the big side untouched —
    // the build side is the smaller by stats, i.e. the state relation,
    // and it fits by the same partition-sizing contract as above
    spark.conf.set(kSmj, "false")
    if (stateRows >= 0)
      spark.conf.set(kParts, partitionsFor(spark, stateRows).toString)
    try body
    finally {
      spark.conf.set(kAqe, prevAqe)
      spark.conf.set(kParts, prevParts)
      spark.conf.set(kSmj, prevSmj)
    }
  }

  /** [[tuned]] with the state size unknown: AQE off only. */
  def noAqe[A](spark: SparkSession)(body: => A): A = tuned(spark, -1L)(body)
}
