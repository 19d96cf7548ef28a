package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Duplicate-cluster resolution: the step after candidate generation
  * ([[Dedup.minHashCandidates]] et al.) that a real corpus-dedup
  * pipeline needs — near-dup PAIRS must become duplicate GROUPS with
  * one canonical representative each, or transitive duplicates (A~B,
  * B~C) survive pairwise filtering.
  *
  * Implemented as hash-to-min label propagation (the standard
  * MapReduce connected-components algorithm): every node starts
  * labeled with itself; each iteration every node takes the min of its
  * own label and its neighbors' labels; converged labels = min node id
  * of the component. Each iteration is one join + one groupBy on the
  * edge list — at 100 TB scale that is O(diameter) shuffles over the
  * EDGE set (LSH candidate pairs, a tiny fraction of the corpus), not
  * the corpus itself. Near-dup components are shallow (duplicates of a
  * document are duplicates of each other), so convergence is fast; the
  * per-iteration `localCheckpoint` keeps the plan from growing
  * linearly with iterations (lineage blowup is the classic iterative-
  * algorithm failure mode on Spark).
  */
object Cluster {

  /** Connected components of an undirected edge list: the
    * [[minLabels]] rounds run to their fixpoint.
    *
    * @return (id, comp) for every node appearing in some edge; comp =
    *         smallest node id in the component (deterministic).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame = {
    val (labels, converged) = minLabels(
      edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")), maxIter)
    // Partial labels are silently WRONG (two nodes of one component
    // can still carry different labels), so non-convergence is an
    // error, never a degraded result. Min-label propagation needs
    // O(component diameter) iterations; raise maxIter for long-chain
    // graphs.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations; " +
          "component diameter exceeds maxIter - raise it")
    labels
  }

  /** Synchronous min-label rounds over the directed `(src, dst)` pairs
    * `edges`, symmetrized once so propagation is direction-free: every
    * node starts labeled with itself, and each round every node takes
    * the min of its own label and its neighbors'. The rounds stop at
    * the fixpoint (a round that changes no label) or after `maxRounds`.
    * Returns the `(id, comp)` labels, eagerly checkpointed, and whether
    * they reached the fixpoint; a converged state never changes in a
    * later round, so stopping there moves no label.
    * [[connectedComponents]] and [[Graph.labelPropagation]] both run
    * this loop.
    */
  private[operators] def minLabels(edges: DataFrame, maxRounds: Int): (DataFrame, Boolean) = {
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp"))
        .localCheckpoint(true)
      // sizes for [[Iter.tuned]]: both counts are narrow scans (labels
      // was just checkpointed eagerly, which also materialized sym's
      // cache). The loop's shuffles are sized by the LARGER of the
      // label state and the symmetrized edge set — a round's partial
      // aggregate volume is bounded by the edge join, not the state
      // alone (Iter.RowsPerPartition scaladoc).
      val n = math.max(labels.count(), sym.count())
      var rounds = 0
      var converged = false
      Iter.tuned(edges.sparkSession, n) { while (!converged && rounds < maxRounds) {
        // min label among each node's neighbors. SHUFFLE_HASH on the
        // LABELS side pins it as the hash build: a localCheckpoint'd
        // relation carries the default (effectively infinite) size
        // estimate, so the planner's "build the smaller side" picks
        // the CACHED-and-known sym — a full edge-relation hash build
        // per iteration (measured at the 100× octave inside
        // dedup_fuzzy_clusters: 27M-edge builds, 14-23 s of GC per
        // fixpoint). The label side is the one Iter's partition-sizing
        // contract guarantees fits.
        val nbrMin = sym
          .join(labels.select(col("id").as("dst"), col("comp").as("nbr_comp"))
            .hint("shuffle_hash"), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("nbr_comp")).as("nbr_min"))
        // the changed flag rides inside the checkpointed frame, so the
        // convergence probe is a narrow scan of already-materialized
        // partitions — not a labels⨝next join job per iteration
        val next = labels
          .join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"),
            (coalesce(col("nbr_min"), col("comp")) < col("comp")).as("__changed"))
          .localCheckpoint(true) // cut lineage: plan stays O(1) per iter
        converged = next.filter(col("__changed")).isEmpty
        // next is materialized (eager checkpoint) — the previous
        // round's blocks are dead; without this a maxRounds-round run
        // holds maxRounds full label copies in executor storage until
        // the ContextCleaner's periodic GC gets around to them.
        // Dataset.unpersist() is a NO-OP here (a localCheckpoint
        // Dataset is not CacheManager-registered) — release the
        // checkpointed RDD under the LogicalRDD leaf instead.
        unpersistLocalCheckpoint(labels)
        labels = next.drop("__changed")
        rounds += 1
      } }
      (labels, converged)
    } finally sym.unpersist()
  }

  /** Assign every document a canonical representative: the smallest
    * doc id of its near-dup component (docs in no pair represent
    * themselves). `keep = canonical == id` marks the one row per
    * cluster a dedup pass would retain.
    */
  def canonicalize(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val cc = connectedComponents(pairs, "id_a", "id_b")
    docs.select(col(idCol).cast("long").as(idCol))
      .join(cc.select(col("id").as(idCol), col("comp")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol)).as("canonical_id"))
      .withColumn("keep", (col("canonical_id") === col(idCol)).cast("boolean"))
  }

  /** Deterministically release an eager `localCheckpoint(true)`
    * frame's storage blocks. The Dataset API can't do it:
    * `Dataset.unpersist()` consults only the CacheManager, which never
    * registered a checkpoint. The materialized RDD lives under the
    * plan's LogicalRDD leaf; frames without one (nothing checkpointed)
    * are a no-op.
    *
    * Releases ONLY when the plan has exactly one LogicalRDD leaf — the
    * shape the label-propagation loop guarantees (each `labels` is
    * itself the checkpoint, never a join of several checkpointed
    * relations), as does the merge's checkpointed batch in
    * [[graft.jobs.Jobs]]. A multi-leaf plan means some leaf belongs to
    * ANOTHER live frame; blanket-releasing would silently unpersist
    * storage still in use elsewhere, so that case is left to the
    * ContextCleaner instead (round-8 review finding).
    */
  private[graft] def unpersistLocalCheckpoint(df: DataFrame): Unit = {
    val leaves = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }
    if (leaves.size == 1) leaves.head.rdd.unpersist(blocking = false)
  }
}
