package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Dedup, KMeans, Pca, Similarity, Sketch}

/** Physical-plan shape assertions — the scale contract, checked, not
  * narrated: operators that claim "no corpus shuffle" / "broadcast
  * join" / "one exchange" must show exactly that in the executed plan.
  * Each assertion runs an action first so AQE finalizes the plan it
  * actually executed.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def executed(df: DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString
  }

  private def countOf(plan: String, token: String): Int =
    plan.sliding(token.length).count(_ == token)

  private def docs = (0L until 400L)
    .map(i => (i, s"tok$i words here", if (i % 4 == 0) "web" else "books"))
    .toDF("doc_id", "text", "source")

  test("a Lloyd step and a power iteration each add one Spark job and no SQL execution") {
    import org.apache.spark.graftbridge.JobCounter.{executionsOf, jobsOf}
    // each step is one job over the cached vector blocks; the build, the
    // init and the final assignment cost the same whatever iters is
    val dim = 8
    val e = (0L until 60L).map(i => (i, Seq.tabulate(dim)(j => ((i + j) % 7 - 3).toDouble)))
      .toDF("vec_id", "v")
    val fits: Seq[(String, Int => Unit)] = Seq(
      "Lloyd step" -> (iters => KMeans.sphericalKMeans(e, "v", "vec_id", k = 3, iters = iters).collect(): Unit),
      "power iteration" -> (iters => Pca.fitPc(e, "v", "vec_id", dim, iters): Unit))
    for ((name, fit) <- fits) {
      def counts(iters: Int) =
        (jobsOf(spark.sparkContext)(fit(iters)), executionsOf(spark.sparkContext)(fit(iters)))
      val (jobs2, sql2) = counts(2)
      val (jobs3, sql3) = counts(3)
      assert(jobs3 == jobs2 + 1, s"$name: iters = 2 ran $jobs2 jobs, iters = 3 ran $jobs3")
      assert(sql3 == sql2, s"$name: iters = 2 started $sql2 SQL executions, iters = 3 $sql3")
    }
  }

  test("deterministicSplit is a pure projection: zero exchanges") {
    val plan = executed(Corpus.deterministicSplit(docs, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.1)))
    assert(!plan.contains("Exchange"), s"split shuffles:\n$plan")
  }

  test("splitLeakage adds zero exchanges over its candidate relation") {
    // split assignment is a projection of each endpoint id, so the
    // audit must stay a codegen filter — no join back to the corpus,
    // no shuffle beyond whatever produced the pairs
    val pairs = (0L until 300L).map(i => (i, i + 3, 0.5)).toDF("id_a", "id_b", "jaccard_est")
    val plan = executed(Corpus.splitLeakage(pairs, "id_a", "id_b",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)))
    assert(!plan.contains("Exchange"), s"splitLeakage shuffles:\n$plan")
    assert(!plan.contains("Join"), s"splitLeakage joins:\n$plan")
  }

  test("selectUnderBudget: offsets broadcast back; the only global sort is the tiny bucket frame") {
    val plan = executed(Corpus.selectUnderBudget(docs, budget = 500, bucketWidth = 32))
    assert(plan.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side sort-merge:\n$plan")
    // the corpus-side window partitions by (quality, bucket) — bounded
    // groups; the empty-PARTITION-BY window must sit above the
    // aggregate (bucket frame), which the session-wide guard enforces
  }

  test("temperatureMix joins the rate table by broadcast, never sort-merge") {
    val plan = executed(Corpus.temperatureMix(docs, "doc_id", "source"))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side sort-merge:\n$plan")
  }

  test("cmsBuild aggregates through exactly one shuffle (map-side combined)") {
    val plan = executed(Sketch.cmsBuild(
      (0L until 1000L).toDF("k"), "k", depth = 4, width = 32))
    assert(countOf(plan, "Exchange") == 1, s"expected 1 exchange:\n$plan")
    assert(countOf(plan, "HashAggregate") == 2, // partial + final
      s"expected partial+final aggregate:\n$plan")
    assert(!plan.contains("Sort"), s"unexpected sort:\n$plan")
  }

  test("exact dedup shuffles fingerprints, not text: exchange carries the hash only") {
    val plan = executed(Dedup.exact(docs, "text", "doc_id"))
    // plan strings print root-first, so map-side combine = a partial
    // HashAggregate BELOW the exchange (later in the string)
    val exIdx = plan.indexOf("Exchange")
    assert(exIdx >= 0 && plan.lastIndexOf("HashAggregate") > exIdx,
      s"no map-side combine below the shuffle:\n$plan")
  }

  private val sf = "/root/testdata/sf0.001"
  private def haveTestdata = new java.io.File(s"$sf/lineitem.parquet").exists()

  test("q19's OR-bracket residual rides the partkey equi-join — hash join, never a nested loop") {
    assume(haveTestdata)
    val plan = executed(SparkEntry.queries("q19_bracket_revenue")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"OR residual degraded to a nested loop:\n$plan")
  }

  test("q18 broadcasts the HAVING-filtered order keys back over the facts") {
    assume(haveTestdata)
    val plan = executed(SparkEntry.queries("q18_large_orders")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"big-order set not broadcast:\n$plan")
  }

  test("q15 resolves the max-revenue supplier with broadcasts only — no sort-merge join") {
    assume(haveTestdata)
    val plan = executed(SparkEntry.queries("q15_top_supplier")(spark, sf))
    assert(!plan.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$plan")
  }

  test("q2's part filter is pushed below the cost aggregate as a semi-join") {
    assume(haveTestdata)
    val plan = executed(SparkEntry.queries("q2_min_cost_supplier")(spark, sf))
    // root-first plan string: the semi-join must appear BELOW (after)
    // the last HashAggregate so the groupBy only sees filtered rows
    val semiIdx = plan.indexOf("LeftSemi")
    assert(semiIdx >= 0, s"no semi-join in plan:\n$plan")
    assert(plan.lastIndexOf("HashAggregate") < semiIdx,
      s"cost aggregate runs below the part semi-join (unfiltered facts):\n$plan")
  }

  test("q22's anti-join against recent orders never goes cartesian") {
    assume(haveTestdata)
    val plan = executed(SparkEntry.queries("q22_idle_customers")(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian in anti-join plan:\n$plan")
  }

  test("corpus_importance joins its bucket model by broadcast; no window anywhere") {
    assume(haveTestdata)
    val plan = executed(SparkEntry.queries("corpus_importance")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"ratio table not broadcast:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("text_bigram_lm is joins + aggregates only — no window, no cartesian blowup") {
    assume(haveTestdata)
    val plan = executed(SparkEntry.queries("text_bigram_lm")(spark, sf))
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product:\n$plan")
  }

  test("mm_dedup shuffles the content fingerprint, never the blob payload") {
    assume(haveTestdata)
    val plan = executed(SparkEntry.queries("mm_dedup")(spark, sf))
    assert(plan.contains("hashpartitioning(fp"), s"exchange not keyed on fingerprint:\n$plan")
    assert(!plan.contains("hashpartitioning(blob"), s"blob bytes shuffle:\n$plan")
  }

  test("embed_pca2 computes each deflation dot product once — never inside a lambda") {
    assume(haveTestdata)
    val df = SparkEntry.queries("embed_pca2")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    // the optimizer must not inline the projection scalar into the
    // zip_with lambda (interpreted per element = 64x the fold work)
    val lambdaBodies = "lambdafunction\\([^)]*dotprod".r.findAllIn(plan).toSeq
    assert(lambdaBodies.isEmpty, s"dot fold inlined into a lambda:\n$plan")
  }

  test("hllRegisters aggregates through exactly one shuffle (map-side combined)") {
    val plan = executed(Sketch.hllRegisters(
      (0L until 1000L).map(i => ("g" + (i % 3), i)).toDF("g", "k"), "g", "k"))
    assert(countOf(plan, "Exchange") == 1, s"expected 1 exchange:\n$plan")
    assert(countOf(plan, "HashAggregate") == 2, // partial + final
      s"expected partial+final aggregate:\n$plan")
  }

  test("purchaseGraph dedups edges with aggregates — no window, no cartesian") {
    assume(haveTestdata)
    val plan = executed(graft.operators.Graph.purchaseGraph(
      spark.read.parquet(s"$sf/orders.parquet"),
      spark.read.parquet(s"$sf/lineitem.parquet")))
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product:\n$plan")
  }

  test("corpus_weighted_sample cuts per group in the heap aggregate, not a corpus window") {
    assume(haveTestdata)
    val plan = executed(SparkEntry.queries("corpus_weighted_sample")(spark, sf))
    assert(!plan.contains("Window"), s"corpus-wide rank window:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"heap aggregate missing:\n$plan")
  }

  test("text_classifier_infer joins its weight vector by broadcast; no window") {
    assume(haveTestdata)
    val plan = executed(SparkEntry.queries("text_classifier_infer")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"weights not broadcast:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("embed_outliers joins its k-row cell stats by broadcast — corpus never re-shuffles") {
    assume(haveTestdata)
    val plan = executed(SparkEntry.queries("embed_outliers")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"cell stats not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side sort-merge:\n$plan")
  }

  test("brute-force ANN broadcasts the query side; the candidate scan never shuffles pairs") {
    val embs = (0L until 200L)
      .map(i => (i, Seq.fill(8)((i % 7).toDouble + 0.5)))
      .toDF("vec_id", "embedding")
    val df = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 3),
      "embedding", "vec_id", k = 2)
    val plan = executed(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"scored pairs shuffle:\n$plan")
  }

  test("aucBinary joins its per-slice offsets by broadcast; no global window") {
    val rows = (0 until 500).map(i => (i % 37 / 36.0, i % 3 == 0))
      .toDF("s", "y")
    val plan = executed(graft.operators.Eval.aucBinary(rows, col("s"), col("y")))
    assert(plan.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$plan")
    // the only windows allowed are per-slice (partitioned by __pid) —
    // an unpartitioned global sort-window would be the scale cliff
    assert(!plan.contains("Window [") ||
      plan.linesIterator.filter(_.contains("Window"))
        .forall(l => !l.contains("windowspecdefinition()")),
      s"global window present:\n$plan")
  }

  test("exactPercentiles: range partition + broadcast offsets, windows only per slice") {
    val rows = (0 until 500).map(i => (s"g${i % 3}", (i % 41).toDouble))
      .toDF("g", "v")
    val plan = executed(graft.operators.Rank.exactPercentiles(rows,
      col("g"), col("v"), Seq("p50" -> 0.5, "p95" -> 0.95), nParts = 8))
    assert(plan.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$plan")
    assert(plan.contains("rangepartitioning") || plan.contains("RangePartitioning"),
      s"no range partition:\n$plan")
    // every window must be keyed by the slice id, never a bare ORDER BY
    // over the whole relation
    plan.linesIterator.filter(_.contains("windowspecdefinition(")).foreach { l =>
      assert(l.contains("__pid"), s"window not slice-local: $l")
    }
  }

  test("setsim witness stage is count-only: no arrays reach the candidate aggregate") {
    val dd = (0L until 60L)
      .map(i => (i, if (i % 7 == 0) "the quick brown fox jumps over the lazy dog"
                    else s"totally unrelated text number $i with padding words"))
      .toDF("doc_id", "text")
    val df = Dedup.prefixFilterPairs(dd, "text", "doc_id", 5, 0.5)
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // the witness count is a real aggregate (partial+final), and the
    // verify join attaches arrays only after it
    assert(plan.contains("HashAggregate"), s"no counting aggregate:\n$plan")
  }

  test("hits: iters = 3 runs exactly two more Spark jobs than iters = 2") {
    import org.apache.spark.graftbridge.JobCounter.jobsOf
    // each half-step is one job over the cached index arrays; the index
    // build and the result cost the same whatever iters is
    val edges = (0L until 300L)
      .map(i => (s"c${i % 40}", s"s${i % 17}")).toDF("src", "dst")
    def jobs(iters: Int): Int =
      jobsOf(spark.sparkContext)(graft.operators.Graph.hits(edges, iters).collect(): Unit)
    val two = jobs(2)
    assert(jobs(3) == two + 2, s"iters = 2 ran $two jobs")
  }

  test("kCore: peeling is joins + aggregates only — no cartesian, no window") {
    val edges = (0L until 300L)
      .map(i => (i % 40, (i * 7 + 1) % 40))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct.toDF("a", "b")
    val out = graft.operators.Graph.kCore(edges, k = 2, maxIters = 16)
    val plan = executed(out)
    assert(!plan.contains("CartesianProduct"), s"cartesian in kCore:\n$plan")
    assert(!plan.contains("Window"), s"window in kCore:\n$plan")
    out.unpersist()
  }

  test("connectedComponents: propagation is joins + aggregates only — " +
      "no cartesian, no window") {
    val edges = (0L until 200L)
      .map(i => (i % 50, (i * 11 + 3) % 50))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct.toDF("a", "b")
    // the circulant test graph is one long cycle — diameter ~25, so
    // min-label needs more than the default 20 rounds
    val out = graft.operators.Cluster.connectedComponents(edges, "a", "b",
      maxIter = 60)
    val plan = executed(out)
    assert(!plan.contains("CartesianProduct"), s"cartesian in components:\n$plan")
    assert(!plan.contains("Window"), s"window in components:\n$plan")
  }

  test("landmarkDistances: frontier BFS is joins + aggregates only — " +
      "no cartesian, no window") {
    val edges = (0L until 200L)
      .map(i => (i % 50, (i * 11 + 3) % 50))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct.toDF("a", "b")
    val out = graft.operators.Graph.landmarkDistances(
      edges, Seq(0L, 13L, 26L).toDF("lm"), maxHops = 4)
    val plan = executed(out)
    assert(!plan.contains("CartesianProduct"), s"cartesian in landmark BFS:\n$plan")
    assert(!plan.contains("Window"), s"window in landmark BFS:\n$plan")
  }

  test("edgeJaccard: wedge join rides the degree-oriented DAG — " +
      "no cartesian, no window, no symmetric-adjacency self-join") {
    val edges = (0L until 300L)
      .map(i => (i % 40, (i * 7 + 1) % 40))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct.toDF("a", "b")
    val out = graft.operators.Graph.edgeJaccard(
      graft.operators.Graph.orientByDegree(edges))
    val plan = executed(out)
    assert(!plan.contains("CartesianProduct"), s"cartesian in edgeJaccard:\n$plan")
    assert(!plan.contains("Window"), s"window in edgeJaccard:\n$plan")
    // the hub-squared shape joined the raw symmetrized adjacency to
    // itself; the oriented build instead keys every wedge join on
    // (degree, id) STRUCTS — assert the struct key survived analysis
    assert(plan.contains("least") && plan.contains("greatest"),
      s"degree orientation (least/greatest struct keys) missing:\n$plan")
  }

  test("quantileRank: every window is slice- or group-local, offsets broadcast") {
    val rows = (0 until 400).map(i => (s"g${i % 3}", (i % 37).toDouble))
      .toDF("g", "v")
    val plan = executed(graft.operators.Rank.quantileRank(
      rows, col("g"), col("v"), nParts = 8))
    assert(plan.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$plan")
    // no bare ORDER BY over the whole relation
    assert(plan.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(l => !l.contains("windowspecdefinition()")),
      s"global window present:\n$plan")
  }

  test("winsorizedStats: percentile bounds join back broadcast; corpus side " +
      "is one aggregate, no window") {
    val rows = (0 until 300).map(i => (s"g${i % 2}", (i % 29).toDouble))
      .toDF("g", "v")
    val plan = executed(graft.operators.Rank.winsorizedStats(
      rows, col("g"), col("v"), 0.1, 0.9, nParts = 4))
    assert(plan.contains("BroadcastHashJoin"), s"bounds not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side sort-merge:\n$plan")
  }

  test("bloomPrunedAntiJoin beyond broadcast: the definite-keep branch " +
      "of the existing table never shuffles") {
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // simulate tombstones past the broadcast budget: no auto-broadcast,
    // so the residual anti-join must run without broadcasting either
    // side — the scenario antiJoinByKey's hint cannot survive
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val existing = spark.range(0L, 20000L)
        .select(col("id").as("pk"), (col("id") % 97).as("v"))
      val tomb = spark.range(0L, 20000L, 7L).select(col("id").as("pk"))
      val out = graft.ops.CdcOps.bloomPrunedAntiJoin(existing, tomb, Seq("pk"))
      out.write.format("noop").mode("overwrite").save()
      def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
        case q: QueryStageExec => q +: flatten(q.plan)
        case o => o +: o.children.flatMap(flatten)
      }
      val whole = flatten(out.queryExecution.executedPlan)
      val union = whole.collectFirst { case u: UnionExec => u }
      assert(union.isDefined, s"no union in plan:\n${out.queryExecution.executedPlan}")
      val branches = union.get.children.map(flatten)
      // the definite-keep branch: bloom-probe filter directly over the
      // scan, zero exchanges — the 100 TB side stays where it is
      val keeps = branches.filter(b =>
        !b.exists(_.isInstanceOf[ShuffleExchangeLike]) &&
          b.mkString("\n").contains("might_contain"))
      assert(keeps.nonEmpty,
        s"no shuffle-free bloom-probe branch — definite keeps are being " +
          s"exchanged:\n${out.queryExecution.executedPlan}")
      // and the result is EXACTLY the plain anti-join
      val expected = existing.join(tomb, Seq("pk"), "left_anti")
      assert(out.except(expected).isEmpty && expected.except(out).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("mergeBatch over a parquet replica: no shuffle has the replica scan below it") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val dir = TestSpark.scratchDir("planspec-merge") + "/replica"
    spark.range(0L, 2000L).select(col("id").as("pk"), (col("id") % 97).as("v"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("timestamp"))
      .write.parquet(dir)
    val existing = spark.read.parquet(dir)
    val t = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val batch = Seq((5000L, 1L, "c"), (7L, 7L, "c"), (3L, 100L, "u"), (4L, 0L, "d"))
      .toDF("pk", "v", graft.ops.CdcOps.OpColumn)
      .withColumn("timestamp", lit(t)).withColumn(graft.ops.CdcOps.DeletedColumn, lit("false"))
    val out = graft.ops.CdcOps.mergeBatch(existing,
      graft.ops.CdcOps.routeOps(batch, Seq("pk")), Seq("pk"))
    // +1 fresh insert, +1 insert beside the pk-7 row (other timestamp), -1 delete
    assert(out.count() == 2001L)
    // every operator below `p`; with `streamedOnly`, only those whose
    // rows flow into `p`'s output (a broadcast's build side is probed,
    // not shuffled)
    def below(p: SparkPlan, streamedOnly: Boolean): Seq[SparkPlan] = p match {
      case _: BroadcastExchangeLike if streamedOnly => Nil
      case a: AdaptiveSparkPlanExec => a +: below(a.executedPlan, streamedOnly)
      case q: QueryStageExec => q +: below(q.plan, streamedOnly)
      case o => o +: o.children.flatMap(below(_, streamedOnly))
    }
    val plan = out.queryExecution.executedPlan
    assert(below(plan, streamedOnly = true).exists(_.isInstanceOf[FileSourceScanExec]),
      s"no streamed replica scan:\n$plan")
    val exchanges = below(plan, streamedOnly = false).collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.nonEmpty, s"no batch-side shuffle:\n$plan")
    val shuffled = exchanges
      .filter(e => below(e, streamedOnly = true).exists(_.isInstanceOf[FileSourceScanExec]))
    assert(shuffled.isEmpty, s"the replica scan is shuffled:\n$plan")
  }

  test("centroidDrift: corpus collapses in one wide aggregate; the " +
      "pairwise stage joins label rows by broadcast, no cartesian") {
    val rnd = new scala.util.Random(3)
    val embs = (0 until 400).map(i =>
      (i % 5, Seq.fill(8)(rnd.nextFloat()))).toDF("label", "embedding")
    val plan = executed(graft.operators.Eval.centroidDrift(
      embs, "label", "embedding", dim = 8))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"pairwise stage not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian pairing:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"label rows sort-merged:\n$plan")
    // the explode feeds on the aggregated label rows, never the corpus:
    // every Generate sits above (earlier in the root-first string than)
    // the corpus-side partial aggregate
    val lastAgg = plan.lastIndexOf("HashAggregate")
    val gens = plan.linesIterator.zipWithIndex
      .filter(_._1.contains("Generate")).map(_._2).toSeq
    assert(gens.nonEmpty && plan.lastIndexOf("Generate") < lastAgg,
      s"posexplode runs corpus-side:\n$plan")
  }

  test("hllOverlapReport: every pairwise estimate runs on sketch-sized " +
      "relations — no window, no cartesian beyond the group-pair cross") {
    val df = (0L until 2000L).map(i => (s"g${i % 4}", i % 500)).toDF("g", "k")
    val out = Sketch.hllOverlapReport(df, "g", "k", m = 32)
    val plan = executed(out)
    assert(!plan.contains("Window"), s"window in overlap report:\n$plan")
    // the only allowed cartesian is the tiny group×group pair cross
    assert(countOf(plan, "CartesianProduct") <= 1 ||
      countOf(plan, "BroadcastNestedLoopJoin") >= 1,
      s"unexpected cartesian beyond the group-pair cross:\n$plan")
  }

  test("bootstrapMeanCI: resampling is ONE scan reduced map-side to B " +
      "replicate rows — no window, no cartesian, no B-way resample shuffle") {
    val df = (0L until 500L).map(i => (i, (i % 97).toDouble)).toDF("id", "v")
    val plan = executed(graft.operators.Eval.bootstrapMeanCI(
      df, col("v"), col("id"), reps = 8))
    assert(!plan.contains("Window"), s"window in bootstrap:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in bootstrap:\n$plan")
    // the replicate reduction must partial-aggregate below its exchange
    // (root-first plan string: map-side combine prints AFTER it)
    val exIdx = plan.indexOf("Exchange")
    assert(exIdx >= 0 && plan.lastIndexOf("HashAggregate") > exIdx,
      s"no map-side combine below the replicate shuffle:\n$plan")
  }

  test("candidatePairs: blocked self-join is a hash equi-join — " +
      "no cartesian, no broadcast nested loop") {
    val rows = (0 until 300).map(i => (i.toLong, f"name-${i % 20}%02d-$i%04d"))
      .toDF("id", "name")
    val plan = executed(graft.operators.EntityMatch.candidatePairs(
      rows, "id", "name", c => substring(c, 6, 2), maxDistance = 1))
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in candidatePairs:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in candidatePairs:\n$plan")
    // the id_a < id_b and levenshtein predicates must ride the
    // equi-join on the block key, not a theta join
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"block key not an equi-join:\n$plan")
  }

  test("kaplanMeier: the only windows sit above aggregated relations") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00")
    val ev = (0 until 200).map(i => (s"u${i % 40}", ts(i % 20))).toDF("id", "ts")
    val out = graft.operators.Eval.kaplanMeier(ev, col("ts"), col("id"))
    // the GlobalWindowGuard (on for every test session) would throw at
    // optimization time if any global window sat over an unbounded
    // relation — executing the plan IS the assertion; on top, pin that
    // the corpus-side reduction partial-aggregates below its exchange
    val plan = executed(out)
    // the horizon crossJoin must stay a broadcast of ONE scalar row,
    // never a real cartesian
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in kaplanMeier:\n$plan")
    val exIdx = plan.indexOf("Exchange")
    assert(exIdx >= 0 && plan.lastIndexOf("HashAggregate") > exIdx,
      s"no map-side combine below the span shuffle:\n$plan")
  }

  test("powerLawTail: aggregates only — no window, no cartesian") {
    val edges = (0L until 300L)
      .map(i => (i % 40, (i * 7 + 1) % 40))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct.toDF("a", "b")
    val plan = executed(graft.operators.Graph.powerLawTail(edges, dMin = 2))
    assert(!plan.contains("Window"), s"window in powerLawTail:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in powerLawTail:\n$plan")
  }
}
