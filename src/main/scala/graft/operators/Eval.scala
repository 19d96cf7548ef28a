package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Model-evaluation / distribution-drift statistics over scored rows —
  * the offline-eval pass a training pipeline runs on classifier or
  * quality-scorer output before using the scores to filter a corpus.
  *
  * Scale shape shared by both statistics: rows are first collapsed to
  * one row PER DISTINCT SCORE by a map-side-combinable aggregate (the
  * only corpus-sized shuffle), then the cumulative "how many rows sit
  * strictly below this score" counts come from a range partition on the
  * score with partition-local running sums plus a broadcast exclusive
  * prefix over the ≤ nParts per-partition totals — the same
  * slice-offset machinery as [[Corpus.globalIds]], never a
  * single-partition global window. All rank arithmetic is integer
  * (counts, not probabilities), so the result is exact and
  * order-independent; one double division happens at the very end.
  */
object Eval {

  /** Pins the (small) final projection in its own buffer, then releases
    * every intermediate persist — repeated Eval calls in one session
    * must not grow the block-manager cache with dead subtrees. If the
    * pinned copy is ever evicted it recomputes from lineage, still
    * correct, just uncached. Deliberate tradeoff: the count() makes
    * construction EAGER, so plan-only consumers (Explain, schema
    * canaries) pay one execution — accepted, because the statistics'
    * callers always materialize anyway and the leak was unbounded.
    */
  private[operators] def pinAndRelease(out: DataFrame,
                                       intermediates: DataFrame*): DataFrame = {
    val pinned = out.persist(StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    intermediates.foreach(_.unpersist(blocking = false))
    pinned
  }

  /** Scale-adaptive partition count for the exact range-partition
    * machines (the [[KMeans]] defaultParallelism precedent): the
    * caller's `nParts` is a FLOOR, widened to the session's scheduling
    * parallelism so an unparameterized call on a wide cluster never
    * funnels a corpus through 32 tasks. The floor is not one partition
    * per core: Bench, Time and Verify run local[$SPARK_GRAFT_CPUS]
    * (default 32), `cdcbench` local[nproc] and the tests local[4], so
    * on a host of fewer cores than the floor the count is the floor.
    * Every machine that uses it computes global-rank /
    * prefix-sum results that are partition-count-independent (the
    * exactness contract each machine's scaladoc states), so the width
    * can never move results; the per-partition offset relations stay
    * ≤ parallelism rows — driver-bounded at any cluster size.
    */
  private[operators] def machineParts(df: DataFrame, floor: Int): Int =
    math.max(floor, df.sparkSession.sparkContext.defaultParallelism)

  /** Cumulative-below counts per distinct key: for each row of `g`
    * (already one row per distinct `orderCol`), appends, for every
    * column in `sumCols`, `cum_<c>` = the sum of that column over rows
    * with a strictly smaller `orderCol`. Long-typed inputs; exact.
    * Also returns the persisted range-partitioned frame so the public
    * caller can release it once its final projection materializes.
    */
  private def withCumBelow(g: DataFrame, orderCol: String,
                           sumCols: Seq[String],
                           nParts: Int): (DataFrame, DataFrame) = {
    val parted = g.repartitionByRange(machineParts(g, nParts), col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val overPids = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ≤ nParts rows: the single-partition window is the point
    val offsets = parted.groupBy(col("__pid"))
      .agg(sumCols.map(c => sum(col(c)).as(s"__t_$c")).head,
        sumCols.map(c => sum(col(c)).as(s"__t_$c")).tail: _*)
    val withOff = sumCols.foldLeft(offsets)((d, c) =>
      d.withColumn(s"__off_$c",
        coalesce(sum(col(s"__t_$c")).over(overPids), lit(0L))))
      .select(col("__pid") +: sumCols.map(c => col(s"__off_$c")): _*)
    val localW = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sumCols.foldLeft(parted)((d, c) =>
      d.withColumn(s"__loc_$c",
        coalesce(sum(col(c)).over(localW), lit(0L))))
    (sumCols.foldLeft(local.join(broadcast(withOff), "__pid"))((d, c) =>
        d.withColumn(s"cum_$c", col(s"__loc_$c") + col(s"__off_$c")))
      .drop("__pid" +: sumCols.flatMap(c => Seq(s"__loc_$c", s"__off_$c")): _*),
      parted)
  }

  /** Tie-aware binary AUC (area under the ROC curve) of `score`
    * predicting `label`, the Mann-Whitney U form: with ascending ranks
    * and ties resolved to the tie-group's AVERAGE rank,
    * `AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻)`.
    *
    * All rank bookkeeping is doubled so it stays integral (a tie
    * group's average rank is a half-integer): for a tie group with
    * `cb` rows strictly below, `c` members and `p` positives,
    * `2·Σ ranks⁺ = p·(2·cb + c + 1)`. Sums are DECIMAL(38,0) so a
    * 100 TB corpus (~2⁴⁰ rows → products ~2¹²⁰... bounded by n²≈2⁸⁰)
    * cannot overflow; the one double division is the last step.
    *
    * Returns a single row `(auc, n_pos, n_neg)`; `auc` is NULL when
    * either class is empty (undefined rather than a fake 0.5).
    */
  def aucBinary(df: DataFrame, score: Column, label: Column,
                nParts: Int = 32): DataFrame = {
    val g = df.select(score.as("s"), label.cast("long").as("y"))
      .na.drop(Seq("s"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
    val (cum, pinned) = withCumBelow(g, "s", Seq("c"), nParts)
    val dec = "decimal(38,0)"
    val out = cum.agg(
        // cast BEFORE the product: p·(2·cb+c+1) can reach ~n² ≈ 2⁸⁰,
        // past long range, so the multiply itself must be decimal
        sum(col("p").cast(dec) *
            (lit(2) * col("cum_c") + col("c") + lit(1)).cast(dec))
          .as("sr2"),
        sum(col("p").cast(dec)).as("np"),
        sum(col("c").cast(dec)).as("n"))
      .select(
        when(col("np") > 0 && (col("n") - col("np")) > 0,
          round((col("sr2") - col("np") * (col("np") + lit(1)))
              .cast("double") /
            (lit(2.0) * (col("np") * (col("n") - col("np"))).cast("double")),
            6))
          .as("auc"),
        col("np").cast("long").as("n_pos"),
        (col("n") - col("np")).cast("long").as("n_neg"))
    pinAndRelease(out, pinned)
  }

  /** Two-sample Kolmogorov-Smirnov statistic between the `valueCol`
    * distributions of rows where `isA` and rows where `isB` (rows
    * matching neither are ignored): `D = max_x |F_A(x) − F_B(x)|`,
    * with the ECDFs evaluated AT each distinct observed value
    * (cumulative counts INCLUDE the value's own tie group — between
    * observed values the ECDF difference is constant, so distinct
    * observed values are the only candidates for the max).
    *
    * The max is taken over the exact integer cross-product
    * `|cumA·nB − cumB·nA|` (DECIMAL(38,0), order-independent) and
    * divided by `nA·nB` once at the end. Ties in the max resolve to
    * the SMALLEST value attaining it, so `at_value` is deterministic.
    *
    * Returns a single row `(ks_stat, at_value, n_a, n_b)`; NULL stat
    * when either sample is empty.
    */
  def ksStatistic(df: DataFrame, valueCol: Column,
                  isA: Column, isB: Column, nParts: Int = 32): DataFrame = {
    val g = df.select(valueCol.as("v"),
        when(isA, 1L).otherwise(0L).as("a"),
        when(isB, 1L).otherwise(0L).as("b"))
      .na.drop(Seq("v"))
      .filter(col("a") + col("b") > 0)
      .groupBy(col("v"))
      .agg(sum(col("a")).as("a"), sum(col("b")).as("b"))
    val (cumRaw, pinned) = withCumBelow(g, "v", Seq("a", "b"), nParts)
    val cum = cumRaw
      .select(col("v"),
        (col("cum_a") + col("a")).as("ca"), // ECDF includes own tie group
        (col("cum_b") + col("b")).as("cb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dec = "decimal(38,0)"
    val tot = cum.agg(max(col("ca")).as("na"), max(col("cb")).as("nb"))
    val d = cum.crossJoin(broadcast(tot))
      .select(col("v"), col("na"), col("nb"),
        abs(col("ca").cast(dec) * col("nb") - col("cb").cast(dec) * col("na"))
          .as("x"))
    // one-pass argmax: max over (x, −v) structs ⇒ largest x, and among
    // its attainers the smallest (numeric) v — deterministic tie-break
    val out = d.agg(max_by(struct(col("x"), col("v"), col("na"), col("nb")),
        struct(col("x"), (lit(-1) * col("v")).as("nv"))).as("m"))
      .select(
        when(col("m.na") > 0 && col("m.nb") > 0,
          round(col("m.x").cast("double") /
            (col("m.na").cast(dec) * col("m.nb").cast(dec)).cast("double"), 6))
          .as("ks_stat"),
        col("m.v").as("at_value"),
        col("m.na").cast("long").as("n_a"),
        col("m.nb").cast("long").as("n_b"))
    pinAndRelease(out, cum, pinned)
  }

  /** Decile (or n-tile) lift table of `score` predicting `label` — the
    * ranking-model gain chart: rows are score buckets 1..n (bucket 1 =
    * highest scores), each with its size, positive count/rate,
    * cumulative positives, and lift vs the base rate.
    *
    * Bucketing is EXACT SQL NTILE over (score DESC, tiebreak ASC) via
    * [[Rank.ntileExact]]'s range-partition machinery (never a
    * single-partition window over the corpus); everything after is one
    * map-side-combinable groupBy on the bucket plus windows over ≤ n
    * rows. All rates are exact-integer ratios divided once, 6-dp.
    */
  def liftTable(df: DataFrame, score: Column, label: Column,
                tiebreak: Column, n: Int = 10, nParts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(score.as("s"), label.cast("long").as("y"),
        tiebreak.as("tb"))
      .na.drop(Seq("s"))
      // ntileExact orders ascending; negate for highest-scores-first
      .withColumn("negs", -col("s"))
    val tiled = Rank.ntileExact(base, Seq("negs", "tb"), n, "bucket", nParts)
    val g = tiled.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("y")).as("n_pos"))
    val tot = g.agg(sum(col("n_rows")).as("tn"), sum(col("n_pos")).as("tp"))
    // ≤ n rows past this point: the single-partition window is the point
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    g.crossJoin(broadcast(tot))
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .withColumn("cum_rows", sum(col("n_rows")).over(w))
      .select(col("bucket"), col("n_rows"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_rows"), 6).as("pos_rate"),
        col("cum_pos"),
        round(col("cum_pos").cast("double") / col("cum_rows"), 6)
          .as("cum_pos_rate"),
        when(col("tp") > 0,
          round((col("n_pos").cast("double") / col("n_rows")) /
            (col("tp").cast("double") / col("tn")), 6)).as("lift"),
        when(col("tp") > 0,
          round(col("cum_pos").cast("double") / col("tp"), 6)).as("capture"))
  }

  /** Population Stability Index between the `valueCol` distributions of
    * rows where `isA` (baseline) and `isB` (current), over integer
    * bins `floor(value)` clamped to [loBin, hiBin]:
    * `PSI = Σ_bins (p_A − p_B) · ln(p_A / p_B)` with add-one (Laplace)
    * smoothing so empty bins stay finite. The drift gate a scoring
    * pipeline runs between training and serving windows; > 0.2 is the
    * conventional "significant shift".
    *
    * Returns one row per bin (counts, smoothed shares, 6-dp term) plus
    * the PSI total repeated on each row — term arithmetic is mirrored
    * by the oracle step for step (exact-int ratios → one double
    * division each → ln → 6-dp round), and the total is an exact
    * decimal sum of the rounded terms, so it is order-independent.
    */
  def psiDrift(df: DataFrame, valueCol: Column, isA: Column, isB: Column,
               loBin: Int = -5, hiBin: Int = 5): DataFrame =
    psiFromBinCounts(psiBinCounts(df, valueCol, isA, isB, loBin, hiBin),
      loBin, hiBin)

  /** The streaming-compatible head of [[psiDrift]]: per-bin (ca, cb)
    * counts over the clamped integer bins — a plain groupBy-sum, so it
    * runs identically as a batch aggregate or a complete-mode
    * streaming aggregate (the drift monitor shape: keep 11 rows of
    * state, recompute PSI from them each trigger).
    */
  def psiBinCounts(df: DataFrame, valueCol: Column, isA: Column, isB: Column,
                   loBin: Int = -5, hiBin: Int = 5): DataFrame =
    df.select(valueCol.as("v"),
        when(isA, 1L).otherwise(0L).as("a"),
        when(isB, 1L).otherwise(0L).as("b"))
      .na.drop(Seq("v"))
      .filter(col("a") + col("b") > 0)
      .select(least(greatest(floor(col("v")), lit(loBin.toLong)),
        lit(hiBin.toLong)).cast("long").as("bin"), col("a"), col("b"))
      .groupBy(col("bin")).agg(sum(col("a")).as("ca"), sum(col("b")).as("cb"))

  /** The PSI tail over a `(bin, ca, cb)` relation (batch or the
    * materialized final state of the streaming aggregate).
    */
  def psiFromBinCounts(bins: DataFrame, loBin: Int, hiBin: Int): DataFrame = {
    val nb = hiBin - loBin + 1
    // dense bin axis: empty bins must participate via their smoothed mass
    val axis = bins.sparkSession.range(loBin, hiBin + 1).toDF("bin")
    val filled = axis.join(bins, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = filled.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val terms = filled.crossJoin(broadcast(tot))
      .withColumn("pa",
        (col("ca") + lit(1)).cast("double") / (col("na") + lit(nb)).cast("double"))
      .withColumn("pb",
        (col("cb") + lit(1)).cast("double") / (col("nb") + lit(nb)).cast("double"))
      .withColumn("term",
        round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 6))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val psi = terms.agg(
      round(sum(col("term").cast("decimal(25,12)")).cast("double"), 6).as("psi"))
    val out = terms.crossJoin(broadcast(psi))
      .select(col("bin"), col("ca"), col("cb"),
        round(col("pa"), 6).as("p_a"), round(col("pb"), 6).as("p_b"),
        col("term"), col("psi"))
    pinAndRelease(out, terms)
  }

  /** Two-proportion z-test between group A's and group B's success
    * rates — the A/B readout: `z = (p_A − p_B) / √(p̂(1−p̂)(1/n_A+1/n_B))`
    * with p̂ the pooled rate. One map-side-combinable aggregate; every
    * division/√ mirrored step-for-step by the oracle (integer counts →
    * double ratios → one √ → one division → 6-dp round). z is NULL
    * when either group is empty or the pooled rate is degenerate
    * (p̂ ∈ {0,1} makes the denominator 0).
    */
  def twoProportionZ(df: DataFrame, isA: Column, isB: Column,
                     success: Column): DataFrame = {
    val g = df.select(
        when(isA, 1L).otherwise(0L).as("a"),
        when(isB, 1L).otherwise(0L).as("b"),
        success.cast("long").as("y"))
      .filter(col("a") + col("b") > 0)
      .agg(sum(col("a")).as("na"), sum(col("a") * col("y")).as("xa"),
        sum(col("b")).as("nb"), sum(col("b") * col("y")).as("xb"))
    val pa = col("xa").cast("double") / col("na").cast("double")
    val pb = col("xb").cast("double") / col("nb").cast("double")
    val pp = (col("xa") + col("xb")).cast("double") /
      (col("na") + col("nb")).cast("double")
    // an empty arm yields 0/0 = NaN, not NULL — guard the rates like
    // every other statistic in this file
    g.select(col("na").as("n_a"), col("xa").as("x_a"),
      col("nb").as("n_b"), col("xb").as("x_b"),
      when(col("na") > 0, round(pa, 6)).as("p_a"),
      when(col("nb") > 0, round(pb, 6)).as("p_b"),
      when(col("na") > 0 && col("nb") > 0 &&
          (col("xa") + col("xb")) > 0 &&
          (col("xa") + col("xb")) < (col("na") + col("nb")),
        round((pa - pb) /
          sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / col("na").cast("double") +
             lit(1.0) / col("nb").cast("double"))), 6)).as("z"))
  }

  /** Mutual information (in nats) between a categorical column and the
    * integer-binned `valueCol` — the feature-relevance screen:
    * `MI = Σ_{x,y} (n_xy/N) · ln(N·n_xy / (n_x·n_y))`, summed over
    * OBSERVED cells (empty cells contribute 0 in the limit).
    *
    * Returns one row per observed (x, y) cell with its counts and 6-dp
    * term plus the MI total repeated — the joint groupBy is the only
    * corpus shuffle; marginals reduce from the joint table and join
    * back broadcast. Term arithmetic exact-int-ratio → double → ln →
    * round, total = exact decimal sum of rounded terms.
    */
  def mutualInformation(df: DataFrame, catCol: Column, valueCol: Column,
                        loBin: Int = -5, hiBin: Int = 5): DataFrame = {
    val cells = df.select(catCol.as("x"), valueCol.as("v"))
      .na.drop(Seq("x", "v"))
      .select(col("x"), least(greatest(floor(col("v")), lit(loBin.toLong)),
        lit(hiBin.toLong)).cast("long").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nxy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = cells.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val my = cells.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    val tot = cells.agg(sum(col("nxy")).as("n"))
    val terms = cells
      .join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(tot))
      .withColumn("term", round(
        (col("nxy").cast("double") / col("n")) *
          log((col("nxy").cast("double") * col("n")) /
            (col("nx").cast("double") * col("ny"))), 6))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mi = terms.agg(
      round(sum(col("term").cast("decimal(25,12)")).cast("double"), 6).as("mi"))
    val out = terms.crossJoin(broadcast(mi))
      .select(col("x"), col("y"), col("nxy"), col("nx"), col("ny"),
        col("term"), col("mi"))
    pinAndRelease(out, terms, cells)
  }

  /** Exact tie-aware Spearman rank correlation between two columns —
    * the monotonic-association screen (robust to the score scale,
    * unlike Pearson): Pearson correlation of the average-tie ranks.
    *
    * Rank bookkeeping is DOUBLED so it stays integral: a row with value
    * v, `cb` rows strictly below and a tie group of `c` gets
    * `r2 = 2·cb + c + 1` (= 2× the average rank). Scaling both rank
    * vectors by 2 leaves the correlation unchanged. Each column's ranks
    * come from the same range-partition prefix-sum machinery as
    * [[aucBinary]] (one per-distinct-value collapse + one co-partitioned
    * join back — never a single-partition corpus window); the five sums
    * are exact DECIMAL(38,0) (|Σ r2x·r2y| ≤ 4n³, inside decimal(38)
    * up to n ≈ 2⁴⁰ rows), cast to double only for the final
    * combination — the same shape the q_corr oracle mirrors.
    *
    * Returns a single row `(n, spearman_rho)`; rho is NULL when either
    * column is constant (zero variance ⇒ undefined).
    */
  def spearman(df: DataFrame, xCol: Column, yCol: Column,
               nParts: Int = 32): DataFrame = {
    val rows = df.select(xCol.as("x"), yCol.as("y"))
      .na.drop(Seq("x", "y"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def ranks(c: String): (DataFrame, DataFrame) = {
      val g = rows.groupBy(col(c)).agg(count(lit(1)).as("c"))
      val (cum, pinned) = withCumBelow(g, c, Seq("c"), nParts)
      (cum.select(col(c),
        (lit(2) * col("cum_c") + col("c") + lit(1)).as(s"r2$c")), pinned)
    }
    val (rx, px) = ranks("x")
    val (ry, py) = ranks("y")
    val dec = "decimal(38,0)"
    val s = rows.join(rx, "x").join(ry, "y").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("r2x").cast(dec)).cast("double").as("sx"),
        sum(col("r2y").cast(dec)).cast("double").as("sy"),
        sum(col("r2x").cast(dec) * col("r2y").cast(dec)).cast("double").as("sxy"),
        sum(col("r2x").cast(dec) * col("r2x").cast(dec)).cast("double").as("sxx"),
        sum(col("r2y").cast(dec) * col("r2y").cast(dec)).cast("double").as("syy"))
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    val out = s.select(
      col("n").cast("long").as("n"),
      when(vx > 0 && vy > 0,
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(vx) * sqrt(vy)), 6)).as("spearman_rho"))
    pinAndRelease(out, rows, px, py)
  }

  /** Gini coefficient of a non-negative integer quantity (pass CENTS,
    * token counts, byte counts — integer units keep every product
    * exact and engine-portable) — the concentration audit a curation
    * pipeline runs on "how unevenly is the corpus spread across
    * users/sources": 0 = perfectly even, (n−1)/n = one holder has
    * everything.
    *
    * Tie-aware mean-difference form with average ranks: with doubled
    * ranks `r2 = 2·cum_below + ties + 1` (integral, from the same
    * range-partition prefix sums as [[aucBinary]]),
    * `G = Σ(r2ᵢ·xᵢ) / (n·Σx) − (n+1)/n`. All sums are exact
    * DECIMAL(38,0) over integers; two double divisions at the end.
    * Returns one row `(n, total, gini)`; NULL when Σx = 0.
    */
  def gini(df: DataFrame, quantity: Column, nParts: Int = 32): DataFrame = {
    val rows = df.select(quantity.cast("long").as("x")).na.drop(Seq("x"))
    val g = rows.groupBy(col("x")).agg(count(lit(1)).as("c"))
    val (cum, pinned) = withCumBelow(g, "x", Seq("c"), nParts)
    val dec = "decimal(38,0)"
    val out = cum
      .select(col("x"), col("c"),
        (lit(2) * col("cum_c") + col("c") + lit(1)).as("r2"))
      .agg(
        sum(col("c")).cast("double").as("n"),
        sum(col("x").cast(dec) * col("c").cast(dec)).cast("double").as("sx"),
        sum(col("r2").cast(dec) * col("x").cast(dec) * col("c").cast(dec))
          .cast("double").as("srx"))
      .select(col("n").cast("long").as("n"),
        col("sx").cast("long").as("total"),
        when(col("sx") > 0,
          round(col("srx") / (col("n") * col("sx")) -
            (col("n") + lit(1.0)) / col("n"), 6)).as("gini"))
    pinAndRelease(out, pinned)
  }

  /** Average precision (the area under the precision-recall curve at
    * the observed operating points) of `score` ranking binary `rel` —
    * the imbalanced-data companion to [[aucBinary]]:
    * `AP = (1/n⁺) Σ_{positives} P@rank(positive)`, with
    * `P@r = (positives among the top r) / r` under the deterministic
    * total order (score DESC, tiebreak ASC).
    *
    * Scale shape: two [[Corpus.globalIds]] range-partition rank passes
    * (the full relation, then the positives subset — never a
    * single-partition window); for the i-th positive at global rank r,
    * P@r = i/r exactly, so the whole statistic is per-row rationals
    * 6-dp-rounded and decimal-summed (order-independent,
    * oracle-mirrorable). Returns one row `(n_pos, avg_precision)`;
    * NULL AP when there are no positives.
    */
  def averagePrecision(df: DataFrame, score: Column, rel: Column,
                       tiebreak: Column, nParts: Int = 32): DataFrame = {
    val base = df.select(score.as("s"), rel.cast("long").as("y"),
        tiebreak.as("tb"))
      .na.drop(Seq("s"))
      .withColumn("negs", -col("s"))
    val (rankedIds, pin1) = Corpus.globalIdsPinned(base, Seq("negs", "tb"), nParts)
    val ranked = rankedIds.withColumn("r", col("global_id") + 1).drop("global_id")
    val pos = ranked.filter(col("y") === 1)
    val (posIds, pin2) = Corpus.globalIdsPinned(pos, Seq("negs", "tb"), nParts)
    val out = posIds
      .withColumn("j", col("global_id") + 1)
      .agg(count(lit(1)).as("n_pos"),
        when(count(lit(1)) > 0,
          round(sum(round(col("j").cast("double") / col("r"), 6)
              .cast("decimal(25,12)")).cast("double") / count(lit(1)), 6))
          .as("avg_precision"))
    // the 1-row result pins; the two corpus-sized range-partition pins
    // release (repeated calls must not grow the block-manager cache)
    pinAndRelease(out, pin1, pin2)
  }

  /** Mean NDCG@k of `score` ranking binary `rel` within each query
    * group — the retrieval-eval readout for a ranker (BM25, hybrid
    * RRF, a quality scorer ordering a feed):
    * `DCG@k = Σ_{i≤k, rel_i=1} 1/log₂(i+1)`, normalized by the ideal
    * DCG for that query's positive count, averaged over queries with
    * ≥ 1 positive.
    *
    * Scale shape: the only corpus-sized operations are ONE window
    * partitioned by the query id (rank within query, deterministic via
    * `tiebreak`) and ONE groupBy on the same key — co-partitioned, a
    * single exchange. The k discount weights and their prefix sums are
    * a broadcast k-row table; each discount is rounded to 6 dp and
    * decimal-summed so per-query DCG is order-independent and
    * oracle-mirrorable.
    *
    * Returns a single row `(n_queries, mean_ndcg)`.
    */
  def meanNdcgBinary(df: DataFrame, queryCol: Column, score: Column,
                     rel: Column, tiebreak: Column, k: Int = 10): DataFrame = {
    val spark = df.sparkSession
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("__s").desc, col("__tb"))
    val ranked = df.select(queryCol.as("__q"), score.as("__s"),
        rel.cast("long").as("__r"), tiebreak.as("__tb"))
      .withColumn("rn", row_number().over(w))
    val zeroDec = lit(0).cast("decimal(25,12)")
    // discount table 1..k with 6-dp rounded weights; prefix sums give
    // the ideal DCG for any positive count m ≤ k
    val disc = spark.range(1, k + 1L).select(
      col("id").as("rn"),
      round(lit(1.0) / log2(col("id") + lit(1)), 6)
        .cast("decimal(25,12)").as("d"))
    val pf = disc.withColumn("icum",
      sum(col("d")).over(Window.orderBy(col("rn")))) // ≤ k rows
    val perQuery = ranked
      .join(broadcast(disc), Seq("rn"), "left")
      .groupBy(col("__q"))
      .agg(
        sum(when(col("__r") === 1 && col("rn") <= k, col("d"))
          .otherwise(zeroDec)).as("dcg"),
        least(sum(col("__r")), lit(k.toLong)).as("m"))
      .filter(col("m") > 0)
    val out = perQuery
      .join(broadcast(pf.select(col("rn").as("m"), col("icum"))), Seq("m"))
      .select(round(col("dcg").cast("double") / col("icum").cast("double"), 6)
        .as("ndcg"))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("ndcg").cast("decimal(25,12)")).cast("double") /
          count(lit(1)), 6).as("mean_ndcg"))
    out
  }

  /** Embedding-space drift between labeled segments: per-label mean
    * vector (centroid), then pairwise centroid cosine and L2 distance —
    * the "did this source / day / model version move in embedding
    * space" readout, and the class-separation report for a labeled
    * eval set.
    *
    * Scale shape: ONE wide aggregate over the corpus (dim decimal
    * component sums + a count per label, map-side combinable) collapses
    * everything to |labels| rows; the pairwise stage is a broadcast
    * self-join over those rows. Nothing downstream of the first
    * aggregate ever sees the corpus. All sums are exact decimals
    * (order-independent, engine-portable) and the centroids are never
    * materialized, let alone rounded — cosine and L2 are computed on
    * the raw sums — so the one double division + √ at the end is
    * bit-mirrored by the oracle.
    */
  def centroidDrift(embs: DataFrame, labelCol: String, vecCol: String,
                    dim: Int): DataFrame =
    centroidDriftFromSums(centroidSums(embs, labelCol, vecCol, dim), dim)

  /** The corpus-side half of [[centroidDrift]]: per-label count + exact
    * decimal component sums in ONE wide, map-side-combinable aggregate.
    * Split out because the same aggregate rides a complete-mode
    * streaming aggregation unchanged (|labels| rows of state, the same
    * state-vs-tail split as the HLL/CMS sketches) — the final state IS
    * this relation, and [[centroidDriftFromSums]] is the batch tail.
    *
    * DECIMAL(12,6) recovers the 6-dp value EXACTLY from its double, so
    * the sums are exact and order-free. DECIMAL(18,6) bounds:
    * |sums| < 10¹², |sum·n| < 10¹² — fine for any corpus whose
    * per-label L1 mass stays under 10¹².
    */
  def centroidSums(embs: DataFrame, labelCol: String, vecCol: String,
                   dim: Int): DataFrame = {
    // a non-numeric label would cast('long') to NULL for EVERY row and
    // silently collapse all segments into one merged centroid; compare
    // DataType objects — simpleString spells these tinyint/smallint/
    // bigint, so a name list is easy to get wrong (round-7 advice)
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(embs.schema(labelCol).dataType) ||
      embs.schema(labelCol).dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType],
      s"centroidSums label column '$labelCol' must be integral, got " +
        embs.schema(labelCol).dataType.simpleString)
    val e = embs
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).cast("long").as("label"),
        transform(col(vecCol), x => round(x.cast("double"), 6)).as("v"))
    val sums = (0 until dim).map(j =>
      sum(element_at(col("v"), j + 1).cast("decimal(12,6)"))
        .cast("decimal(18,6)").as(s"s$j"))
    e.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sums: _*)
  }

  /** The pairwise tail of [[centroidDrift]] over an already-built sums
    * relation `(label, n, s0..s<dim-1>)`. Everything stays on the sums:
    * cosine(mean_a, mean_b) = cosine(sum_a, sum_b) by scale invariance,
    * and ‖mean_a − mean_b‖ cross-multiplies to
    * √Σ(sa·n_b − sb·n_a)² / (n_a·n_b) — centroids are never rounded
    * (a first draft rounded them to 6 dp and the two engines disagreed
    * on midpoint ties, amplified by cancellation in the dot product).
    */
  def centroidDriftFromSums(g: DataFrame, dim: Int): DataFrame = {
    // pairwise stage on the |labels|×dim TALL view of the (tiny) sums
    // relation, with true decimal SUM aggregates: a 64-term column
    // expression chain (first draft) hits Spark's decimal-addition
    // type widening (precision 39 > 38) and silently drops scale —
    // aggregates keep (38,12) exactly. Only label rows explode here;
    // the corpus aggregate above stays wide and map-side combinable.
    val tall = g.select(col("label"), col("n"),
      posexplode(array((0 until dim).map(j => col(s"s$j")): _*))
        .as(Seq("i", "s")))
    val a = tall.select(col("label").as("la"), col("n").as("na"),
      col("i"), col("s").as("ai"))
    val b = tall.select(col("label").as("lb"), col("n").as("nb"),
      col("i"), col("s").as("bi"))
    val nd = (col("ai") * col("nb").cast("decimal(10,0)") -
      col("bi") * col("na").cast("decimal(10,0)")).cast("decimal(18,6)")
    a.join(broadcast(b), Seq("i")) // |labels|²×dim rows — bounded model state
      .filter(col("la") < col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(min(col("na")).as("n_a"), min(col("nb")).as("n_b"),
        sum(col("ai") * col("bi")).as("dot"),
        sum(col("ai") * col("ai")).as("na2"),
        sum(col("bi") * col("bi")).as("nb2"),
        sum(nd * nd).as("d2"))
      .select(col("la").as("label_a"), col("lb").as("label_b"),
        col("n_a"), col("n_b"),
        round(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))), 6)
          .as("cosine"),
        round(sqrt(col("d2").cast("double")) /
          (col("n_a") * col("n_b")).cast("double"), 6).as("l2_dist"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) test between the `valueCol`
    * distributions of the `isA` and `isB` rows — the nonparametric
    * location-shift drift test: unlike KS it weighs EVERY rank, so a
    * small but systematic shift that never produces a large ECDF gap
    * still registers.
    *
    * Rank bookkeeping is the doubled-integer form shared with
    * [[aucBinary]]: for a tie group with `cb` rows strictly below,
    * `t` members and `a` of them in sample A,
    * `2·Σ ranksᴬ = a·(2·cb + t + 1)` — exact DECIMAL(38,0), no
    * half-integer ever materializes. The cumulative-below counts come
    * from [[withCumBelow]]'s range-partition machinery (never a global
    * window over the corpus). Normal approximation with the standard
    * tie correction:
    * `σ² = n₁n₂/12 · ((N+1) − Σ(t³−t)/(N(N−1)))`; no continuity
    * correction (mirrors cleanly and matters only at tiny N, where a
    * normal approximation is wrong anyway).
    *
    * Returns one row `(n_a, n_b, u_a, effect, z)`: `u_a` is A's U
    * statistic, `effect = U_A/(n₁n₂)` the common-language effect size
    * (= P(A > B) + ½P(A = B), an AUC), both NULL-guarded when either
    * sample is empty, `z` additionally when σ = 0 (all values tied).
    */
  def mannWhitneyU(df: DataFrame, valueCol: Column, isA: Column,
                   isB: Column, nParts: Int = 32): DataFrame = {
    val g = df.select(valueCol.as("v"),
        when(isA, 1L).otherwise(0L).as("a"),
        when(isB, 1L).otherwise(0L).as("b"))
      .na.drop(Seq("v"))
      .filter(col("a") + col("b") > 0)
      .groupBy(col("v"))
      .agg(sum(col("a")).as("a"), sum(col("b")).as("b"))
    val (cum, pinned) = withCumBelow(g, "v", Seq("a", "b"), nParts)
    val dec = "decimal(38,0)"
    val t = (col("a") + col("b")).cast(dec)
    val agg = cum.agg(
        // cast before the product — a·(2·cb+t+1) can reach ~n²
        sum(col("a").cast(dec) *
            (lit(2) * (col("cum_a") + col("cum_b")) + col("a") + col("b") +
              lit(1)).cast(dec)).as("r2a"),
        sum(col("a").cast(dec)).as("n1"),
        sum(col("b").cast(dec)).as("n2"),
        sum(t * t * t - t).as("ties"))
    // 2·U_A = 2·R_A − n₁(n₁+1), exact; one double division at the end
    val u2 = col("r2a") - col("n1") * (col("n1") + lit(1))
    val nn = col("n1") + col("n2")
    val prod = col("n1") * col("n2")
    val sigma2 = prod.cast("double") / lit(12.0) *
      ((nn + lit(1)).cast("double") -
        col("ties").cast("double") /
          (nn.cast("double") * (nn - lit(1)).cast("double")))
    val out = agg.select(
      col("n1").cast("long").as("n_a"),
      col("n2").cast("long").as("n_b"),
      when(col("n1") > 0 && col("n2") > 0,
        round(u2.cast("double") / lit(2.0), 6)).as("u_a"),
      when(col("n1") > 0 && col("n2") > 0,
        round(u2.cast("double") / (lit(2.0) * prod.cast("double")), 6))
        .as("effect"),
      when(col("n1") > 0 && col("n2") > 0 && nn > 1 &&
          col("ties") < nn * nn * nn - nn,
        round((u2 - prod).cast("double") / (lit(2.0) * sqrt(sigma2)), 6))
        .as("z"))
    pinAndRelease(out, pinned)
  }

  /** Pearson chi-square test of independence between two categorical
    * columns, plus Cramér's V — the categorical drift/association
    * readout (is the event mix independent of the weekday?).
    *
    * Scale shape: ONE map-side-combinable groupBy on the observed
    * (row, col) cells is the only corpus shuffle; marginals reduce
    * from the cell table and the full r×c grid (zero cells INCLUDE
    * their expected-count contribution) is the tiny cross join of the
    * two marginal relations. Each cell's term is the exact-integer
    * form `(o·N − n_r·n_c)² / (N · n_r · n_c)`: numerator and
    * denominator stay exact DECIMAL(38,0) (bounded by ~N², so the
    * decimal holds to N ≈ 10¹⁹ rows), the SQUARE and the division
    * happen in double (squaring the decimal would be N⁴ — an ANSI
    * overflow past ~3·10⁹ rows), then 6-dp-rounded and summed in
    * DECIMAL(25,12) (the
    * [[meanNdcgBinary]] convention) — an ORDER-INDEPENDENT exact sum,
    * so the total replays identically in the oracle with no fold-order
    * pinning and no per-group collect.
    *
    * Returns one row `(n, n_rows, n_cols, dof, chi2, cramers_v)`;
    * NULL statistics when the table is degenerate (dof = 0).
    */
  def chiSquareIndependence(df: DataFrame, rowCat: Column,
                            colCat: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.select(rowCat.as("r"), colCat.as("c"))
      .na.drop(Seq("r", "c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("o"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rm = cells.groupBy(col("r")).agg(sum(col("o")).as("nr"))
    val cm = cells.groupBy(col("c")).agg(sum(col("o")).as("nc"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("r")).as("kr"), countDistinct(col("c")).as("kc"))
    val grid = rm.crossJoin(cm) // categories² rows — bounded model state
      .join(cells, Seq("r", "c"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("c"), col("n"), col("kr"), col("kc"),
        (coalesce(col("o"), lit(0L)).cast(dec) * col("n").cast(dec) -
          col("nr").cast(dec) * col("nc").cast(dec)).as("num"),
        (col("n").cast(dec) * col("nr").cast(dec) * col("nc").cast(dec))
          .as("den"))
      .withColumn("term",
        round(col("num").cast("double") * col("num").cast("double") /
          col("den").cast("double"), 6).cast("decimal(25,12)"))
    val out = grid
      .groupBy(col("n"), col("kr"), col("kc"))
      .agg(sum(col("term")).as("chi2raw"))
      .select(col("n"), col("kr").as("n_rows"), col("kc").as("n_cols"),
        ((col("kr") - 1) * (col("kc") - 1)).as("dof"), col("chi2raw"))
      .select(col("n"), col("n_rows"), col("n_cols"), col("dof"),
        when(col("dof") > 0,
          round(col("chi2raw").cast("double"), 6)).as("chi2"),
        when(col("dof") > 0,
          round(sqrt(col("chi2raw").cast("double") /
            (col("n").cast("double") *
              (least(col("n_rows"), col("n_cols")) - 1).cast("double"))),
            6)).as("cramers_v"))
    pinAndRelease(out, cells)
  }

  /** Mann-Kendall trend test + Theil-Sen slope over an already-reduced
    * (t, x) series — the monotone-trend readout for a daily metric
    * (is ingest volume drifting up?). `t` must be an integer time
    * index (e.g. days since epoch), `x` the metric.
    *
    * The input must be BOUNDED (one row per calendar day — the
    * [[SparkEntry.cusumTail]] contract): the pair join is O(d²) on
    * the day count, never the event log. The binding constraint is
    * tighter than the join, though — the EXACT Theil-Sen percentile
    * buffers every pairwise slope in one aggregation buffer, so the
    * practical ceiling is ~10⁴ days (~5·10⁷ slopes, a few hundred MB
    * on one executor); a century of daily data (~7·10⁸ pairs) needs
    * `approx_percentile` there instead, at the cost of oracle-exact
    * parity. `S = Σ_{i<j} sign(x_j − x_i)` is exact
    * integer; the variance carries the standard tie correction
    * `(n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18`; z uses the ±1 continuity
    * correction (the textbook form). The Theil-Sen slope is the exact
    * interpolated median of all pairwise slopes — robust to outlier
    * days where OLS is not.
    *
    * Returns one row `(n_obs, s_stat, z, theil_sen)`; z NULL when the
    * variance is 0 (all values tied), everything NULL when n < 2.
    */
  def mannKendallTrend(series: DataFrame, tCol: String,
                       xCol: String): DataFrame = {
    val s1 = series.select(col(tCol).cast("long").as("t1"),
      col(xCol).cast("double").as("x1"))
    val s2 = series.select(col(tCol).cast("long").as("t2"),
      col(xCol).cast("double").as("x2"))
    val pairs = s1.join(s2, col("t1") < col("t2"))
      .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s"),
        expr("percentile((x2 - x1) / (t2 - t1), 0.5)").as("slope"))
    // tie groups on x for the variance correction; n from the series
    val ties = series.groupBy(col(xCol).cast("double").as("x"))
      .agg(count(lit(1)).as("tc"))
      .agg(sum(col("tc") * (col("tc") - 1) * (lit(2) * col("tc") + 5))
          .as("tsum"),
        sum(col("tc")).as("n"))
    val varNum = col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) -
      col("tsum")
    pairs.crossJoin(broadcast(ties))
      .select(col("n").as("n_obs"), col("s").as("s_stat"),
        when(col("n") >= 2 && varNum > 0,
          round(when(col("s") > 0, (col("s") - lit(1)).cast("double"))
              .when(col("s") < 0, (col("s") + lit(1)).cast("double"))
              .otherwise(lit(0.0)) /
            sqrt(varNum.cast("double") / lit(18.0)), 6)).as("z"),
        when(col("n") >= 2, round(col("slope"), 6)).as("theil_sen"))
  }

  /** Per-class precision/recall/F1 of a multiclass prediction against
    * its label — the classifier-quality report a pipeline runs before
    * trusting a language-ID or quality model to filter a corpus.
    *
    * ONE map-side-combinable groupBy on the (label, prediction) cells
    * is the only corpus pass (the [[chiSquareIndependence]] shape);
    * the label marginal, prediction marginal, and diagonal all reduce
    * from that k²-row cell table. The report assembles by FULL OUTER
    * join over the tiny class set, so a class that is only ever
    * predicted (or only ever true) still gets its row. F1 uses the single-division form `2·tp/(n_true+n_pred)`
    * (algebraically 2PR/(P+R), but one rounding point instead of
    * three); rates are NULL when their denominator is 0, not fake 0s.
    *
    * Returns one row per class:
    * `(class, n_true, n_pred, tp, prec, rec, f1)` — `prec`/`rec`
    * rather than the full words because PRECISION is a SQL type
    * keyword oracle dialects can refuse as a bare alias.
    */
  def classifierReport(df: DataFrame, actual: Column,
                       predicted: Column): DataFrame = {
    // one corpus scan down to the k²-row confusion cells; the persist
    // covers the three tiny reductions below, not repeated corpus reads
    val cells = df.select(actual.as("y"), predicted.as("p"))
      .groupBy(col("y"), col("p")).agg(count(lit(1)).as("o"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val byY = cells.groupBy(col("y").as("class"))
      .agg(sum(col("o")).as("n_true"))
    val byP = cells.groupBy(col("p").as("class"))
      .agg(sum(col("o")).as("n_pred"))
    val diag = cells.filter(col("y") === col("p"))
      .groupBy(col("y").as("class")).agg(sum(col("o")).as("tp0"))
    val out = byY.join(byP, Seq("class"), "full_outer")
      .join(diag, Seq("class"), "left")
      .select(col("class"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp0"), lit(0L)).as("tp"))
      .select(col("class"), col("n_true"), col("n_pred"), col("tp"),
        when(col("n_pred") > 0,
          round(col("tp").cast("double") / col("n_pred").cast("double"), 6))
          .as("prec"),
        when(col("n_true") > 0,
          round(col("tp").cast("double") / col("n_true").cast("double"), 6))
          .as("rec"),
        when(col("n_true") + col("n_pred") > 0,
          round(lit(2.0) * col("tp").cast("double") /
            (col("n_true") + col("n_pred")).cast("double"), 6)).as("f1"))
    pinAndRelease(out, cells)
  }

  /** Welch's unequal-variance t-test between the `valueCol`
    * distributions of the `isA` and `isB` rows, plus Cohen's d — the
    * parametric companion to [[mannWhitneyU]] (means vs ranks).
    *
    * ONE map-side-combinable aggregate computes each side's exact
    * count / sum / sum-of-squares with values 6-dp-rounded into
    * DECIMAL(18,6) (sums and squares exact, order-free); every
    * downstream mean / variance / t / dof is then a mirrored IEEE
    * double tree over those identical sums, so the oracle replays it
    * bit-for-bit — no transcendentals beyond √, no data-ordering
    * sensitivity, no second pass over the corpus.
    *
    * Returns one row `(n_a, n_b, mean_a, mean_b, t_stat, dof,
    * cohens_d)`: dof is Welch–Satterthwaite; t/dof NULL unless both
    * sides have ≥ 2 rows and the combined standard error is positive;
    * cohens_d (pooled-sd standardized difference) NULL when the pooled
    * variance is 0.
    */
  def welchTTest(df: DataFrame, valueCol: Column, isA: Column,
                 isB: Column): DataFrame = {
    val vd = round(valueCol.cast("double"), 6).cast("decimal(18,6)")
    val g = df.filter(valueCol.isNotNull)
      .select(vd.as("v"),
        when(isA, 1L).otherwise(0L).as("a"),
        when(isB, 1L).otherwise(0L).as("b"))
      .filter(col("a") + col("b") > 0)
    val agg = g.agg(
      sum(col("a")).as("n1"), sum(col("b")).as("n2"),
      sum(when(col("a") === 1, col("v"))).as("s1"),
      sum(when(col("b") === 1, col("v"))).as("s2"),
      sum(when(col("a") === 1, col("v") * col("v"))).as("q1"),
      sum(when(col("b") === 1, col("v") * col("v"))).as("q2"))
    def d(c: Column): Column = c.cast("double")
    val (n1, n2) = (d(col("n1")), d(col("n2")))
    // ANSI mode errors on ANY division by zero (doubles included), and
    // se2 appears in a when() PREDICATE below — so the n-dependent
    // divisions must null out, not trust conditional evaluation
    val m1 = when(col("n1") > 0, d(col("s1")) / n1)
    val m2 = when(col("n2") > 0, d(col("s2")) / n2)
    val v1 = when(col("n1") >= 2,
      (d(col("q1")) - d(col("s1")) * d(col("s1")) / n1) / (n1 - 1.0))
    val v2 = when(col("n2") >= 2,
      (d(col("q2")) - d(col("s2")) * d(col("s2")) / n2) / (n2 - 1.0))
    val se2 = v1 / n1 + v2 / n2
    val dof = se2 * se2 /
      ((v1 / n1) * (v1 / n1) / (n1 - 1.0) + (v2 / n2) * (v2 / n2) / (n2 - 1.0))
    val sp2 = ((n1 - 1.0) * v1 + (n2 - 1.0) * v2) / (n1 + n2 - 2.0)
    agg.select(
      col("n1").as("n_a"), col("n2").as("n_b"),
      when(col("n1") > 0, round(m1, 6)).as("mean_a"),
      when(col("n2") > 0, round(m2, 6)).as("mean_b"),
      when(col("n1") >= 2 && col("n2") >= 2 && se2 > 0,
        round((m1 - m2) / sqrt(se2), 6)).as("t_stat"),
      when(col("n1") >= 2 && col("n2") >= 2 && se2 > 0,
        round(dof, 6)).as("dof"),
      when(col("n1") >= 2 && col("n2") >= 2 && sp2 > 0,
        round((m1 - m2) / sqrt(sp2), 6)).as("cohens_d"))
  }

  /** One-way ANOVA F over the `valueCol` split by `groupCol` — the
    * k-sample generalization of [[welchTTest]] ("did the metric move
    * across ANY segment", one readout instead of k² pairwise tests).
    *
    * Scale shape: one map-side-combinable groupBy reduces the corpus
    * to k rows of exact DECIMAL(18,6) count/sum/sum-of-squares; the
    * within/between sum-of-squares terms are per-GROUP doubles,
    * 6-dp-rounded and summed in DECIMAL(25,12) (order-independent
    * across the k groups — the engine's cross-group float
    * convention), and F is one mirrored double expression at the end.
    *
    * Returns one row `(n, k, ss_between, ss_within, f_stat)`; f_stat
    * NULL when k < 2, n ≤ k, or SSW is 0 (F undefined / infinite).
    */
  def oneWayAnova(df: DataFrame, valueCol: Column,
                  groupCol: Column): DataFrame = {
    val vd = round(valueCol.cast("double"), 6).cast("decimal(18,6)")
    val per = df.filter(valueCol.isNotNull && groupCol.isNotNull)
      .groupBy(groupCol.as("g"))
      .agg(count(lit(1)).as("ng"), sum(vd).as("sg"),
        sum(vd * vd).as("qg"))
    def d(c: Column): Column = c.cast("double")
    val terms = per.select(col("ng"), col("sg"),
      round(d(col("qg")) - d(col("sg")) * d(col("sg")) / d(col("ng")), 6)
        .cast("decimal(25,12)").as("w_term"),
      round(d(col("sg")) * d(col("sg")) / d(col("ng")), 6)
        .cast("decimal(25,12)").as("b_term"))
    val agg = terms.agg(sum(col("ng")).as("n"), count(lit(1)).as("k"),
      sum(col("sg")).as("s"), sum(col("w_term")).as("ssw"),
      sum(col("b_term")).as("bsum"))
    val ssb = d(col("bsum")) - d(col("s")) * d(col("s")) / d(col("n"))
    val ssw = d(col("ssw"))
    val f = (ssb / (d(col("k")) - 1.0)) / (ssw / (d(col("n")) - d(col("k"))))
    agg.select(col("n"), col("k"),
      round(ssb, 6).as("ss_between"), round(ssw, 6).as("ss_within"),
      when(col("k") >= 2 && col("n") > col("k") && ssw > 0,
        round(f, 6)).as("f_stat"))
  }

  /** Poisson(1) inverse-CDF thresholds scaled into the 2³² md5-coin
    * space, k = 0..7: a replicate weight is `#{k : coin ≥ T_k}` —
    * pure BIGINT comparisons against these literals, no floats in the
    * resampling path. Truncating at 8 drops P ≈ 1e-5 of the mass,
    * identically in engine and oracle.
    */
  val poissonCoinThresholds: Seq[Long] = Seq(
    1580030168L, 3160060337L, 3950075421L, 4213413783L,
    4279248373L, 4292415291L, 4294609777L, 4294923276L)

  /** Poisson bootstrap confidence interval for the mean of `valueCol`
    * — THE bootstrap that works at 100 TB: instead of materializing B
    * resamples (B shuffles of the corpus), every row draws B
    * independent Poisson(1) weights in one projection (Poisson(1) is
    * the B→∞ limit of each row's multiplicity in a with-replacement
    * resample), so the whole procedure is ONE scan + ONE
    * map-side-combinable groupBy down to B replicate rows.
    *
    * Determinism/parity: weights come from the shared md5-coin
    * ([[Corpus.md5Coin]]) compared against exact BIGINT CDF
    * thresholds ([[poissonCoinThresholds]]) — integer-only; replicate
    * sums are exact decimals; the B means are 6-dp-rounded before the
    * bounded percentile/sd tail, so both engines rank identical
    * values.
    *
    * Returns one row `(n, n_reps, mean, boot_se, lo95, hi95)`:
    * `n_reps` counts replicates with nonzero total weight (only a
    * near-empty input loses any), `boot_se` is the sample sd of the
    * replicate means, `lo95`/`hi95` the 2.5/97.5 interpolated
    * percentiles. NULL stats on degenerate inputs (n = 0 or < 2 live
    * replicates).
    */
  def bootstrapMeanCI(df: DataFrame, valueCol: Column, idCol: Column,
                      reps: Int = 64): DataFrame = {
    // The upper bound is the EXACTNESS bound, not a taste limit: the
    // sd tail sums reps squared replicate means into DECIMAL(38,12)
    // (capacity 10^26); each m^2 can reach 10^24 at the admitted
    // |v| < 10^12 domain extreme, so only reps <= 64 keeps the
    // accumulator provably overflow-free (64 * 10^24 < 10^26). Larger
    // reps would fail under ANSI exactly when it matters.
    require(reps >= 2 && reps <= 64, s"reps must be in [2, 64]: $reps")
    val vd = round(valueCol.cast("double"), 6).cast("decimal(18,6)")
    val base = df.filter(valueCol.isNotNull)
      .select(idCol.cast("string").as("id"), vd.as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val full = base.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val coin = Corpus.md5Coin(
      concat(col("id"), lit(":"), col("r").cast("string")))
    val w = poissonCoinThresholds
      .map(t => when(coin >= t, 1L).otherwise(0L)).reduce(_ + _)
    val perRep = base
      .select(col("id"), col("v"),
        explode(sequence(lit(0), lit(reps - 1))).as("r"))
      .select(col("v"), col("r"), w.as("w"))
      .groupBy(col("r"))
      .agg(sum(col("w") * col("v")).as("swv"), sum(col("w")).as("sw"))
    // 6-dp-rounded replicate means, re-encoded DECIMAL(18,6) — the
    // same domain the valueCol encode accepts (|v| < 10¹²), so no
    // input this operator admits can overflow the cast; the sd's
    // m² sum is DECIMAL(38,12), exact through the default 64 reps at
    // the extreme of that domain (64·10²⁴ < 10²⁶)
    val reps6 = perRep.select(when(col("sw") > 0,
      round(col("swv").cast("double") / col("sw").cast("double"), 6)).as("m"))
    val md = col("m").cast("decimal(18,6)")
    val tail = reps6.agg(
      count(col("m")).as("n_reps"),
      sum(md).as("sm"), sum(md * md).as("qm"),
      round(expr("percentile(m, 0.025)"), 6).as("lo95"),
      round(expr("percentile(m, 0.975)"), 6).as("hi95"))
    def d(c: Column): Column = c.cast("double")
    val nr = d(col("n_reps"))
    val varM = when(col("n_reps") >= 2,
      (d(col("qm")) - d(col("sm")) * d(col("sm")) / nr) / (nr - 1.0))
    val out = tail.crossJoin(broadcast(full)).select(
      col("n"),
      col("n_reps"),
      when(col("n") > 0, round(d(col("sv")) / d(col("n")), 6)).as("mean"),
      when(varM > 0, round(sqrt(varM), 6))
        .when(col("n_reps") >= 2, lit(0.0)).as("boot_se"),
      when(col("n_reps") >= 2, col("lo95")).as("lo95"),
      when(col("n_reps") >= 2, col("hi95")).as("hi95"))
    pinAndRelease(out, base)
  }

  /** Kaplan-Meier survival curve over per-subject event spans — the
    * time-to-churn readout ("how long does a user stay active?") with
    * RIGHT-CENSORING done correctly: a subject still active at the
    * observation horizon must not count as a death, or the curve
    * systematically understates survival. Lifetime = last-seen −
    * first-seen day; a subject whose last day IS the global horizon is
    * censored, everyone else "died" at their lifetime.
    *
    * Scale shape: ONE groupBy reduces the event log to per-subject
    * (first, last) spans; a second reduces spans to the ≤ #days-sized
    * distinct-duration relation. Everything after — the reverse-
    * cumulative risk set and the running product — runs on that
    * bounded relation (the global window sits above an Aggregate, the
    * [[graft.plans.GlobalWindowGuard]] contract).
    *
    * Parity: each step factor `(n_risk − d) / n_risk` is 6-dp-rounded,
    * and the survival product folds IN DURATION ORDER with per-step
    * 6-dp rounding (IEEE multiply is exactly rounded, so an identical
    * factor sequence replays bit-for-bit in any engine — the oracle
    * mirrors the fold with a recursive CTE). A closed-form
    * `exp(Σ ln f)` would be shorter but leans on transcendental libm
    * parity; the step fold does not.
    *
    * Returns one row per distinct lifetime `t`:
    * `(t_days, n_risk, n_deaths, survival)` — survival = S(t), the
    * probability of a lifetime strictly exceeding `t`.
    */
  def kaplanMeier(df: DataFrame, tsCol: Column, idCol: Column): DataFrame = {
    val day = datediff(to_date(tsCol), lit("1970-01-01").cast("date"))
    // persisted: BOTH the horizon scalar and the duration reduction
    // consume the span relation — without the pin the event-log scan
    // and per-subject shuffle run twice
    val life = df.filter(tsCol.isNotNull && idCol.isNotNull)
      .select(idCol.as("id"), day.as("d"))
      .groupBy(col("id"))
      .agg(min(col("d")).as("f"), max(col("d")).as("l"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val horizon = life.agg(max(col("l")).as("m"))
    val durations = life.crossJoin(broadcast(horizon))
      .select((col("l") - col("f")).cast("long").as("t"),
        when(col("l") < col("m"), 1L).otherwise(0L).as("death"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_at"), sum(col("death")).as("d"))
    val atRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = durations
      .withColumn("n_risk", sum(col("n_at")).over(atRisk))
      .withColumn("factor",
        round((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double"), 6))
    // bounded-relation fold: pack the sorted curve into ONE array row,
    // then S at step i = per-step-rounded product over the i-prefix
    val packed = curve.agg(sort_array(collect_list(
      struct(col("t"), col("n_risk"), col("d"), col("factor")))).as("a"))
    val out = packed.select(col("a"), posexplode(col("a")).as(Seq("i", "e")))
      .select(col("e.t").as("t_days"), col("e.n_risk").as("n_risk"),
        col("e.d").as("n_deaths"),
        aggregate(slice(col("a"), lit(1), col("i") + 1), lit(1.0d),
          (acc, x) => round(acc * x.getField("factor"), 6)).as("survival"))
    pinAndRelease(out, life)
  }

  /** Two-arm log-rank test over per-subject event spans — the
    * "did cohort A churn faster than cohort B" significance readout
    * that pairs with [[kaplanMeier]]'s curve. Spans, lifetimes, and
    * right-censoring are exactly the KM conventions (lifetime =
    * last−first day; a subject whose last day IS the global horizon is
    * censored); `isA` must be constant per subject (enforced by
    * reducing with max over the subject's rows).
    *
    * At each distinct lifetime with ≥ 1 death, with `n1/n` at risk in
    * arm A / overall and `d1/d` arm-A / total deaths:
    * `E1 += d·n1/n`, `V += d·(n1/n)·(1−n1/n)·(n−d)/(n−1)`, and
    * `χ² = (O1−E1)²/V` (1 dof). Parity discipline: each per-time E/V
    * term is one chain of double ops mirrored by the oracle, 6-dp
    * rounded, and summed as DECIMAL(25,12) (order-independent exact —
    * the [[chiSquareIndependence]] convention); O1 is an exact long.
    *
    * Scale shape: ONE groupBy reduces the event log to per-subject
    * spans; everything after runs on the ≤ #days × 2 arm-duration grid
    * (dense via crossJoin of the bounded time axis with the 2-row arm
    * relation; per-arm reverse-cumulative risk sets are arm-partitioned
    * windows over that bounded grid).
    *
    * Returns one row
    * `(n_a, n_b, n_times, o_a, e_a, var_a, chi2)`; χ² NULL when V = 0.
    */
  def logRank(df: DataFrame, tsCol: Column, idCol: Column,
              isA: Column): DataFrame = {
    val day = datediff(to_date(tsCol), lit("1970-01-01").cast("date"))
    val life = df.filter(tsCol.isNotNull && idCol.isNotNull)
      .select(idCol.as("id"), day.as("d"), when(isA, 1L).otherwise(0L).as("a"))
      .groupBy(col("id"))
      .agg(min(col("d")).as("f"), max(col("d")).as("l"), max(col("a")).as("arm"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val horizon = life.agg(max(col("l")).as("m"))
    val armSizes = life.groupBy(col("arm")).agg(count(lit(1)).as("n_subj"))
    val dur = life.crossJoin(broadcast(horizon))
      .select(col("arm"), (col("l") - col("f")).cast("long").as("t"),
        when(col("l") < col("m"), 1L).otherwise(0L).as("death"))
      .groupBy(col("arm"), col("t"))
      .agg(count(lit(1)).as("n_at"), sum(col("death")).as("d"))
    // dense (time × arm) grid: an arm with no subjects at a time still
    // carries its reverse-cumulative risk mass there
    val times = dur.select(col("t")).distinct()
    val arms = dur.select(col("arm")).distinct()
    val grid = times.crossJoin(arms)
      .join(dur, Seq("arm", "t"), "left")
      .select(col("arm"), col("t"),
        coalesce(col("n_at"), lit(0L)).as("n_at"),
        coalesce(col("d"), lit(0L)).as("d"))
    val atRisk = Window.partitionBy(col("arm")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risked = grid.withColumn("n_risk", sum(col("n_at")).over(atRisk))
    // one row per death time: pivot the 2 arms via conditional sums
    val byTime = risked.groupBy(col("t")).agg(
        sum(when(col("arm") === 1, col("n_risk")).otherwise(0L)).as("n1"),
        sum(col("n_risk")).as("n"),
        sum(when(col("arm") === 1, col("d")).otherwise(0L)).as("d1"),
        sum(col("d")).as("dd"))
      .filter(col("dd") > 0)
    val share = col("n1").cast("double") / col("n").cast("double")
    val terms = byTime.select(col("t"), col("d1"),
      round(col("dd").cast("double") * share, 6).as("e1"),
      when(col("n") > 1,
        round(col("dd").cast("double") * share * (lit(1.0) - share) *
          (col("n") - col("dd")).cast("double") /
          (col("n") - lit(1)).cast("double"), 6)).otherwise(lit(0.0)).as("v"))
    val agg = terms.agg(count(lit(1)).as("n_times"),
      sum(col("d1")).as("o_a"),
      sum(col("e1").cast("decimal(25,12)")).as("e_raw"),
      sum(col("v").cast("decimal(25,12)")).as("v_raw"))
    val out = agg.crossJoin(broadcast(
        armSizes.groupBy().agg(
          sum(when(col("arm") === 1, col("n_subj")).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 0, col("n_subj")).otherwise(0L)).as("n_b"))))
      .select(col("n_a"), col("n_b"), col("n_times"), col("o_a"),
        round(col("e_raw").cast("double"), 6).as("e_a"),
        round(col("v_raw").cast("double"), 6).as("var_a"),
        when(col("v_raw") > 0,
          round((col("o_a").cast("double") - col("e_raw").cast("double")) *
            (col("o_a").cast("double") - col("e_raw").cast("double")) /
            col("v_raw").cast("double"), 6)).as("chi2"))
    pinAndRelease(out, life)
  }

  /** Cohen's kappa between two categorical raters — the
    * inter-annotator-agreement readout a labeling pipeline runs before
    * trusting auto-labels: observed agreement corrected for the
    * agreement two independent raters with these marginals would reach
    * by chance. `κ = (p_o − p_e) / (1 − p_e)` with
    * `p_o = Σ_k o_kk / n`, `p_e = Σ_k n_{A=k}·n_{B=k} / n²`.
    *
    * Scale shape: ONE map-side-combinable groupBy on the (a, b) label
    * cells is the only corpus shuffle; marginals reduce from the
    * bounded k² cell table and join on the label. Exactness: agreement
    * and marginal products stay exact integers/DECIMAL(38,0); the two
    * divisions and the κ combination are the only doubles, mirrored
    * step-for-step by the oracle.
    *
    * Returns one row `(n, n_labels, agree, p_o, p_e, kappa)`;
    * κ NULL when p_e = 1 (both raters constant — κ undefined).
    */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.select(raterA.as("a"), raterB.as("b"))
      .na.drop(Seq("a", "b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val am = cells.groupBy(col("a")).agg(sum(col("o")).as("na"))
    val bm = cells.groupBy(col("b")).agg(sum(col("o")).as("nb"))
    val tot = cells.agg(sum(col("o")).as("n"),
      sum(when(col("a") === col("b"), col("o")).otherwise(0L)).as("agree"))
    val labels = am.select(col("a").as("k"), col("na"))
      .join(bm.select(col("b").as("k"), col("nb")), Seq("k"), "full")
      .select(coalesce(col("na"), lit(0L)).cast(dec).as("na"),
        coalesce(col("nb"), lit(0L)).cast(dec).as("nb"))
    val pe = labels.agg(sum(col("na") * col("nb")).as("pe_num"),
      count(lit(1)).as("n_labels"))
    val out = tot.crossJoin(broadcast(pe))
      .select(col("n"), col("n_labels"), col("agree"),
        round(col("agree").cast("double") / col("n").cast("double"), 6)
          .as("p_o"),
        round(col("pe_num").cast("double") /
          (col("n").cast(dec) * col("n").cast(dec)).cast("double"), 6)
          .as("p_e"))
      .withColumn("kappa",
        when(col("p_e") < 1.0,
          round((col("p_o") - col("p_e")) / (lit(1.0) - col("p_e")), 6)))
    pinAndRelease(out, cells)
  }

  /** Benjamini-Hochberg step-up FDR correction over a BOUNDED per-test
    * relation `(keys..., p)` — the multiple-testing gate a pipeline
    * runs over per-segment test results before acting on "significant"
    * cells. Ranks tests by ascending p (ties broken by the key columns,
    * so the rank is deterministic), finds the largest rank i with
    * `p_(i) ≤ i·α/m`, and rejects tests 1..i.
    *
    * The input must already be aggregate-reduced (one row per test —
    * the [[mannKendallTrend]] boundedness contract): the rank window
    * is a single-partition sort over m rows, fine for m up to ~10⁶
    * tests and REQUIRED by BH itself (the procedure is a global order
    * statistic). All comparisons are double arithmetic mirrored by the
    * oracle (`i·α/m` with exact-integer i, m).
    *
    * Returns one row per test:
    * `(keys..., p_value, rank, m, bh_thresh, rejected)`.
    */
  def bhFdr(tests: DataFrame, keyCols: Seq[String], pCol: Column,
            alpha: Double): DataFrame = {
    val m = tests.groupBy().agg(count(lit(1)).as("m"))
    val ranked = tests.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(
        Window.orderBy(pCol.asc +: keyCols.map(col(_).asc): _*)))
      .withColumn("bh_thresh",
        round(col("rank").cast("double") * lit(alpha) /
          col("m").cast("double"), 6))
      .withColumn("pass", when(pCol <= col("bh_thresh"), col("rank")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val kmax = ranked.agg(coalesce(max(col("pass")), lit(0)).as("kmax"))
    val out = ranked.crossJoin(broadcast(kmax))
      .select(keyCols.map(col) ++ Seq(pCol.as("p_value"), col("rank"),
        col("m"), col("bh_thresh"),
        (col("rank") <= col("kmax")).as("rejected")): _*)
    pinAndRelease(out, ranked)
  }

  /** Jensen-Shannon divergence between the `valueCol` distributions of
    * rows where `isA` and `isB`, over the same clamped integer bins as
    * [[psiDrift]] — the symmetric, bounded-by-ln 2 drift readout that
    * complements PSI (unbounded, asymmetric-smoothing) and KS
    * (CDF-based): `JSD = ½Σ p_A·ln(p_A/m) + ½Σ p_B·ln(p_B/m)` with
    * `m = (p_A+p_B)/2`; empty-bin terms are exactly 0, so no smoothing
    * is needed.
    *
    * Scale shape: rides [[psiBinCounts]] — one map-side-combinable
    * groupBy on ≤ #bins rows is the only corpus shuffle. Per-bin terms
    * are double chains mirrored by the oracle, 6-dp rounded, summed as
    * DECIMAL(25,12); `jsd_bits = jsd/ln 2` re-rounds at the end.
    *
    * Returns one row per bin (counts, shares, 6-dp term) plus the
    * totals repeated on each row ([[psiDrift]]'s output convention).
    */
  def jsDivergence(df: DataFrame, valueCol: Column, isA: Column, isB: Column,
                   loBin: Int = -5, hiBin: Int = 5): DataFrame =
    jsdFromBinCounts(psiBinCounts(df, valueCol, isA, isB, loBin, hiBin),
      loBin, hiBin)

  /** The JSD tail over a `(bin, ca, cb)` relation (batch or the
    * materialized final state of the streaming aggregate) — the
    * [[psiFromBinCounts]] split, so the batch and streaming drift
    * queries share one tail and cannot diverge.
    */
  def jsdFromBinCounts(bins: DataFrame, loBin: Int, hiBin: Int): DataFrame = {
    val axis = bins.sparkSession.range(loBin, hiBin + 1).toDF("bin")
    val filled = axis.join(bins, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = filled.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val half = (p: Column, mm: Column) =>
      when(p > 0, lit(0.5) * p * log(p / mm)).otherwise(lit(0.0))
    // empty-cohort guard: with na or nb = 0 (e.g. a streaming trigger
    // before any post-split rows), 0/0 = NaN and Spark's NaN > 0 is
    // TRUE, so `term` would go NaN and the decimal cast would silently
    // NULL only the jsd — while the DuckDB oracle errors-or-NULLs
    // differently on NaN→DECIMAL. Mirror cvmStatistic's contract
    // instead: NULL shares, NULL terms, NULL jsd until both cohorts
    // are non-empty (psiFromBinCounts needs no guard — +1 smoothing
    // makes 0/0 impossible there). The oracle carries the same CASE.
    val bothCohorts = col("na") > 0 && col("nb") > 0
    val terms = filled.crossJoin(broadcast(tot))
      .withColumn("pa", when(bothCohorts,
        col("ca").cast("double") / col("na").cast("double")))
      .withColumn("pb", when(bothCohorts,
        col("cb").cast("double") / col("nb").cast("double")))
      .withColumn("mid", (col("pa") + col("pb")) / lit(2.0))
      .withColumn("term", when(col("pa").isNotNull,
        round(half(col("pa"), col("mid")) + half(col("pb"), col("mid")), 6)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val jsd = terms.agg(
      round(sum(col("term").cast("decimal(25,12)")).cast("double"), 6).as("jsd"))
    val out = terms.crossJoin(broadcast(jsd))
      .select(col("bin"), col("ca"), col("cb"),
        round(col("pa"), 6).as("p_a"), round(col("pb"), 6).as("p_b"),
        col("term"), col("jsd"),
        round(col("jsd") / log(lit(2.0)), 6).as("jsd_bits"))
    pinAndRelease(out, terms)
  }

  /** Two-sample Cramér–von Mises statistic between the `valueCol`
    * distributions of the `isA` and `isB` cohorts — the whole-CDF
    * companion to [[ksStatistic]] (KS reads only the single worst
    * point; CvM integrates the squared ECDF gap over the pooled
    * sample, so diffuse drift that never produces one big gap still
    * registers): `T = Σ_v c_v·(ca_v·nb − cb_v·na)² / (na·nb·(na+nb)²)`
    * with `c_v` the pooled count at distinct value v and `ca/cb` the
    * inclusive cumulative cohort counts — algebraically
    * `(nm/N)·∫(F_n−G_m)² dH_N` with every term an exact integer.
    *
    * Scale shape: identical to [[ksStatistic]] — one groupBy to the
    * distinct-value relation, [[withCumBelow]]'s range-partitioned
    * prefix sums (no global window), one scalar reduce. Exactness: the
    * numerator sums `c·d²` as DECIMAL(38,0); that stays within
    * capacity while `(na+nb)·(na·nb)² < 10³⁸`, i.e. cohorts up to
    * ~5×10⁷ rows each — ENFORCED with a raise_error, not a comment;
    * beyond it, pre-bin through [[psiBinCounts]] first. The one
    * division is double, mirrored by the oracle.
    *
    * Returns one row `(n_a, n_b, n_distinct, cvm_t)`; T NULL when a
    * cohort is empty.
    */
  def cvmStatistic(df: DataFrame, valueCol: Column, isA: Column, isB: Column,
                   nParts: Int = 32): DataFrame = {
    val g = df.select(valueCol.as("v"),
        when(isA, 1L).otherwise(0L).as("a"),
        when(isB, 1L).otherwise(0L).as("b"))
      .na.drop(Seq("v"))
      .filter(col("a") + col("b") > 0)
      .groupBy(col("v"))
      .agg(sum(col("a")).as("a"), sum(col("b")).as("b"))
    val (cumRaw, pinned) = withCumBelow(g, "v", Seq("a", "b"), nParts)
    val cum = cumRaw
      .select(col("v"), col("a"), col("b"),
        (col("cum_a") + col("a")).as("ca"),
        (col("cum_b") + col("b")).as("cb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dec = "decimal(38,0)"
    val tot = cum.agg(max(col("ca")).as("na"), max(col("cb")).as("nb"),
      count(lit(1)).as("n_distinct"))
    val d = (col("ca").cast(dec) * col("nb") - col("cb").cast(dec) * col("na"))
    // global agg (not groupBy the scalars) so empty input still yields
    // one all-NULL row — the ksStatistic convention
    val s = cum.crossJoin(broadcast(tot))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        max(col("n_distinct")).as("n_distinct"),
        sum((col("a") + col("b")).cast(dec) * (d * d).cast(dec)).as("s"))
    val h = (col("na") + col("nb")).cast("double")
    // the guard lives INSIDE the emitted column so column pruning
    // cannot optimize it away, and tests the DOCUMENTED capacity bound
    // directly — a single worst-case term is c·d² ≤ h·(na·nb)², so
    // h·(na·nb)² < 10³⁸ keeps every term AND the sum inside
    // DECIMAL(38,0) (a pooled-row-count proxy like h > 1e8 admits
    // skew-split cohorts whose terms overflow to NULL and silently
    // shrink the sum under non-ANSI)
    val cap = h * (col("na").cast("double") * col("nb").cast("double")) *
      (col("na").cast("double") * col("nb").cast("double"))
    val out = s.select(
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      col("n_distinct"),
      when(cap > 9e37, raise_error(lit(
          "cvmStatistic: (na+nb)*(na*nb)^2 exceeds the DECIMAL(38,0) " +
            "exactness bound - pre-bin via psiBinCounts")).cast("double"))
        .when(col("na") > 0 && col("nb") > 0,
          round(col("s").cast("double") /
            (col("na").cast("double") * col("nb").cast("double") * h * h), 6))
        .as("cvm_t"))
    pinAndRelease(out, cum, pinned)
  }

  /** Kendall's τ-b rank correlation over a BOUNDED aggregate-reduced
    * relation — the concordance companion to [[spearmanRho]]-style rank
    * stats when ties are heavy (τ-b corrects both margins). The input
    * must already be one row per unit (the [[bhFdr]] /
    * [[mannKendallTrend]] boundedness contract): pairs are enumerated
    * cell-against-cell, so the join is |distinct (x,y) cells|², NOT
    * |rows|² — identical (x, y) rows collapse into weighted cells
    * first, which is also what makes the enumeration exact under ties.
    *
    * With cell counts c_i at points (x_i, y_i): concordant/discordant
    * pair weights are c_i·c_j over cell pairs with
    * (x_i−x_j)(y_i−y_j) > 0 / < 0; tie corrections n1 = Σ_x t_x(t_x−1)/2,
    * n2 = Σ_y t_y(t_y−1)/2, n0 = n(n−1)/2;
    * `τ_b = (C−D)/√((n0−n1)(n0−n2))`. Everything is exact
    * integer/DECIMAL arithmetic until the one final sqrt-division.
    *
    * Returns one row
    * `(n, n_cells, concordant, discordant, ties_x, ties_y, tau_b)`;
    * τ NULL when either margin is constant.
    */
  def kendallTauB(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.select(xCol.as("x"), yCol.as("y"))
      .na.drop(Seq("x", "y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val l = cells.select(col("x").as("x1"), col("y").as("y1"), col("c").as("c1"))
    val r = cells.select(col("x").as("x2"), col("y").as("y2"), col("c").as("c2"))
    // each unordered cell pair once: strict struct order on the cell key
    val pairs = l.join(r,
        struct(col("x1"), col("y1")) < struct(col("x2"), col("y2")))
      .select((col("c1").cast(dec) * col("c2")).as("w"),
        ((col("x1") < col("x2")) === (col("y1") < col("y2"))).as("conc"),
        (col("x1") === col("x2")).as("tx"), (col("y1") === col("y2")).as("ty"))
    val cd = pairs.agg(
      sum(when(!col("tx") && !col("ty") && col("conc"), col("w"))
        .otherwise(lit(0L).cast(dec))).as("cc"),
      sum(when(!col("tx") && !col("ty") && !col("conc"), col("w"))
        .otherwise(lit(0L).cast(dec))).as("dd"))
    val tx = cells.groupBy(col("x")).agg(sum(col("c")).as("t"))
      .agg(sum((col("t").cast(dec) * (col("t") - 1)) / 2).as("n1"))
    val ty = cells.groupBy(col("y")).agg(sum(col("c")).as("t"))
      .agg(sum((col("t").cast(dec) * (col("t") - 1)) / 2).as("n2"))
    val nn = cells.agg(sum(col("c")).as("n"), count(lit(1)).as("n_cells"))
    val out = nn.crossJoin(broadcast(cd)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .select(col("n"), col("n_cells"),
        coalesce(col("cc"), lit(0).cast(dec)).cast("long").as("concordant"),
        coalesce(col("dd"), lit(0).cast(dec)).cast("long").as("discordant"),
        // coalesce like concordant/discordant above: on empty input the
        // tie sums are NULL but the oracle COALESCEs to 0 — the
        // degenerate-row contract must match across all four counters
        coalesce(col("n1"), lit(0).cast(dec)).cast("long").as("ties_x"),
        coalesce(col("n2"), lit(0).cast(dec)).cast("long").as("ties_y"),
        ((col("n").cast(dec) * (col("n") - 1)) / 2).as("n0"))
      .select(col("n"), col("n_cells"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        when(col("n0") > col("ties_x") && col("n0") > col("ties_y"),
          round((col("concordant") - col("discordant")).cast("double") /
            sqrt((col("n0") - col("ties_x")).cast("double") *
              (col("n0") - col("ties_y")).cast("double")), 6)).as("tau_b"))
    pinAndRelease(out, cells)
  }
}
