package graft

import org.apache.spark.sql.DataFrame

/** Whole-inventory plan-shape metrics (see PlanGateSpec): per-query
  * counts of the operators that decide the 100 TB story — exchanges,
  * windows, join strategies, sorts, aggregates — extracted from the
  * PRE-EXECUTION physical plan (AQE's initial plan), so the numbers
  * are a deterministic function of the code + fixture schemas/sizes
  * and never of runtime statistics. PlanSpec pins ~20 hand-picked
  * shapes precisely; this gate pins the OTHER 250 queries coarsely, so
  * a future edit that re-introduces, say, a global window below an
  * aggregate or turns a broadcast join into a sort-merge join fails a
  * spec instead of shipping silently.
  *
  * Streaming queries cannot produce a batch physical plan (Spark
  * requires writeStream for that), so they are counted on the
  * OPTIMIZED LOGICAL plan instead — coarser, but join/aggregate/window
  * counts still pin the dataflow shape. The mode is recorded per query
  * so a query silently switching granularity is itself a diff.
  */
object PlanMetrics {

  /** Physical node names counted (word-boundary, so `Sort` does not
    * match `SortMergeJoin`/`SortAggregate`, and `Exchange` — Spark's
    * print name for the shuffle — does not match `BroadcastExchange`).
    */
  val physicalTokens: Seq[String] = Seq(
    "Exchange", "BroadcastExchange", "ReusedExchange",
    "Window", "WindowGroupLimit", "Sort",
    "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
    "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "Generate")

  /** Logical node names counted for streaming plans. */
  val logicalTokens: Seq[String] = Seq(
    "Join", "Aggregate", "Window", "Deduplicate", "Generate", "Sort",
    "Repartition", "FlatMapGroupsWithState", "TransformWithState")

  def tokenCounts(plan: String, tokens: Seq[String]): Map[String, Int] =
    tokens.map { t =>
      t -> ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(t) +
        "(?![A-Za-z0-9_])").r.findAllMatchIn(plan).size
    }.filter(_._2 > 0).toMap

  /** Physical counts are REUSE-AWARE (round-10, verdict item 6): a
    * lazily-unrolled iteration chain references the same cached/
    * broadcast subtree from every iteration, and the flat tree print
    * then counts it once per reference (`graph_hits` read as 708
    * BroadcastExchange, `q_rfm` as 147 Exchange) — unroll noise that
    * buries a REAL extra exchange in the golden diff. Here each
    * counted node is deduplicated by its canonicalized subtree (the
    * same semantic identity Spark's ReuseExchange rule uses), so the
    * count is "how many DISTINCT exchanges/joins/windows does this
    * query run", which is the number that scales. Subquery plans are
    * included; AQE wrappers are unwrapped to their pre-execution input
    * plan so counts stay runtime-independent.
    */
  def physicalCounts(plan: org.apache.spark.sql.execution.SparkPlan): Map[String, Int] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val tokens = physicalTokens.toSet
    val seen = scala.collection.mutable.Map[String, scala.collection.mutable.Set[SparkPlan]]()
    val visited = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (visited.add(p)) {
      if (tokens.contains(p.nodeName))
        seen.getOrElseUpdate(p.nodeName,
          scala.collection.mutable.Set[SparkPlan]()) += p.canonicalized
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        // cached relations embed the plan that materializes them — an
        // exchange hidden inside a persisted edge relation is still a
        // real exchange of the query that materializes it
        case s: InMemoryTableScanExec => walk(s.relation.cachedPlan)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    seen.map { case (k, set) => k -> set.size }.toMap
  }

  /** (mode, counts) for one query's DataFrame. Streaming queries keep
    * the coarser string-token counts over the optimized logical plan
    * (no batch physical plan exists pre-writeStream).
    */
  def metrics(df: DataFrame): (String, Map[String, Int]) =
    if (df.isStreaming)
      ("logical", tokenCounts(df.queryExecution.optimizedPlan.toString, logicalTokens))
    else
      ("physical", physicalCounts(df.queryExecution.executedPlan))

  /** Deterministic one-line-per-query JSON of the whole inventory.
    *
    * Plan shapes must be a function of the code + fixture schemas, not
    * of whatever an earlier suite left behind: Spark's CacheManager is
    * plan-keyed and shared across ALL sessions of the context, so a
    * relation another spec persisted (a memoized edge relation, a
    * pinned Eval output) would collapse the matching subtree here to an
    * InMemoryTableScan and change the counts — the gate then fails or
    * passes depending on suite ORDER. Wipe the shared cache and score
    * the inventory on a fresh session: `SessionMemo` keys its cells by
    * session, so every memoized relation and fit is rebuilt for it —
    * exactly the state a fresh `PlanGate` JVM sees, so the golden
    * matches in any order. Other suites' cached frames recompute
    * afterwards (slower, never incorrect). The fresh session's memo
    * cells live until the SparkContext stops.
    */
  def inventoryJson(spark: org.apache.spark.sql.SparkSession, sfDir: String): String = {
    spark.sharedState.cacheManager.clearCache()
    val s = spark.newSession()
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (mode, counts) = metrics(fn(s, sfDir))
      val kvs = (Seq("\"mode\":\"" + mode + "\"") ++
        counts.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v })
        .mkString("{", ",", "}")
      "\"" + name + "\": " + kvs
    }
    rows.mkString("{\n", ",\n", "\n}\n")
  }

  val goldenPath = "src/test/resources/plan-metrics-sf0.001.json"
}

/** Regenerate the golden plan-metrics file after an INTENDED plan
  * change: `sbt "Test/runMain graft.PlanGate"` — then review the git
  * diff of the golden like any other code change.
  */
object PlanGate {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val json = PlanMetrics.inventoryJson(TestSpark.spark, sfDir)
    val p = java.nio.file.Paths.get(PlanMetrics.goldenPath)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, json)
    println(s"wrote ${PlanMetrics.goldenPath}")
    TestSpark.spark.stop()
  }
}
