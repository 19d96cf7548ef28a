package graft

import graft.functions.ShingleKernels

/** Machine-generated DuckDB oracle SQL for the hash-based dedup / ANN /
  * multimodal queries — the ones whose semantics depend on exact 64-bit
  * integer mixing (FNV-1a, splitmix64, rotl) or exact IEEE-754 float
  * behavior. DuckDB has no native 64-bit *unsigned* arithmetic, so the
  * hash pipelines are emulated in HUGEINT (int128) with explicit
  * `% 2^64` masking; signedness conversions are explicit CASEs.
  *
  * Every fractional literal is CAST to DOUBLE: bare decimal literals in
  * DuckDB are DECIMAL, and DECIMAL intermediates round differently than
  * the double/float arithmetic the Spark side performs.
  *
  * Corpus assumptions (verified against the driver testdata, all SFs;
  * the Spark kernels in [[graft.functions.ShingleKernels]] iterate
  * UTF-16 units and use `Character.isWhitespace`/`toLowerCase`, while
  * DuckDB's `ord`/`substr` are code-point based and its RE2 `\s` is
  * ASCII-only):
  *  - text is BMP-only (no astral chars → UTF-16 unit == code point);
  *  - whitespace is ASCII (0x20 only in the corpus);
  *  - case mapping is ASCII (per-char `toLowerCase` == `lower()`);
  *  - `text` is never NULL (a NULL doc would get a NULL signature on
  *    the Spark side but a COALESCE'd all-MaxLong one in the oracle).
  */
object OracleGen {

  /** Assert the corpus assumptions above against the actual testdata.
    * Returns human-readable violation strings (empty = assumptions hold).
    * One bounded single-row aggregate over `documents` — cheap at any SF
    * next to the queries themselves. Run by [[graft.Verify]] before the
    * dump so a future testdata-generator change fails loudly instead of
    * silently reporting corpus drift as engine bugs; pinned in
    * OracleAssumptionsSpec too.
    */
  def guardViolations(spark: org.apache.spark.sql.SparkSession, sfDir: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val row = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("n_null"),
      // anything beyond printable ASCII + \t\n\r: astral chars, Unicode
      // whitespace, non-ASCII case mappings, control chars — every class
      // the UTF-16/code-point and `\s`/isWhitespace mismatches hide in
      sum(when(col("text").rlike("[^\\x20-\\x7e\\t\\n\\r]"), 1L).otherwise(0L)).as("n_non_ascii"))
      .collect()(0)
    if (row.getLong(0) == 0L) Seq("documents table is empty")
    else {
      val out = Seq.newBuilder[String]
      if (row.getLong(1) != 0L) out += s"${row.getLong(1)} docs with NULL text"
      if (row.getLong(2) != 0L) out += s"${row.getLong(2)} docs with non-printable-ASCII chars"
      out.result()
    }
  }

  private val M64 = BigInt(1) << 64
  private val Pow63 = BigInt(1) << 63
  private val FnvOffset = BigInt("14695981039346656037") // 0xcbf29ce484222325
  private val FnvPrime = BigInt(1099511628211L)          // 0x100000001b3

  /** unsigned decimal rendering of a signed long's 64-bit pattern */
  private def u64(x: Long): BigInt = BigInt(java.lang.Long.toUnsignedString(x))

  // ------------------------------------------------------------------
  // FNV-1a 64 in HUGEINT SQL
  // ------------------------------------------------------------------

  /** One FNV-1a step `h = (h ^ c) * prime (mod 2^64)` where `c` is a
    * UTF-16 unit (< 2^16): the xor touches only the low 16 bits, so it
    * is expressed as split-recombine around a BIGINT xor.
    */
  private def fnvStep(acc: String, c: String): String =
    s"((($acc) // 65536 * 65536 + xor(CAST(($acc) % 65536 AS BIGINT), CAST(($c) AS BIGINT))) * $FnvPrime) % $M64::HUGEINT"

  /** FNV-1a 64 of the n-char shingle at 1-based position `i` of `textcol`,
    * emitted as ONE `list_reduce` over the shingle's char codes so the SQL
    * is constant-size in `n`. (The previous textual foldLeft embedded the
    * accumulator ~3× per step → ~3^n SQL growth; at n=15 that was a
    * 6.2 MB oracle string that DuckDB parsed for minutes and which blew
    * the driver's round-5 correctness-gate budget.)
    */
  private def fnvShingle(textcol: String, i: String, n: Int): String = {
    val st = fnvStep("acc", "c")
    s"list_reduce(list_prepend($FnvOffset::HUGEINT, " +
      s"list_transform(range(0, $n), k -> CAST(ord(substr($textcol, CAST(($i)+k AS INT), 1)) AS HUGEINT))), " +
      s"(acc, c) -> $st)"
  }

  /** FNV-1a 64 of a whole token column via list_reduce over char codes. */
  private def fnvToken(tok: String): String = {
    val st = fnvStep("acc", "c")
    s"list_reduce(list_prepend($FnvOffset::HUGEINT, " +
      s"list_transform(range(1, length($tok)+1), i -> CAST(ord(substr($tok, CAST(i AS INT), 1)) AS HUGEINT))), " +
      s"(acc, c) -> $st)"
  }

  // ------------------------------------------------------------------
  // MinHash mixes (mirror of ShingleKernels.minHashes)
  // ------------------------------------------------------------------

  /** `signed(rotl(h, r_i) ^ salt_i)` for mix i, staged as three
    * expressions meant for CONSECUTIVE projection CTEs (rot → xor →
    * signed) so every sub-term is computed once per row as a column.
    * A single nested expression re-embeds the rotation ~6× and DuckDB
    * re-evaluates each textual reference — measured ~20 s of the
    * round-5 minhash-oracle runtime at sf0.01 came from exactly that.
    * The xor is done in two 32-bit BIGINT halves (DuckDB has no
    * unsigned 64-bit xor).
    */
  private def rotSql(h: String, i: Int): String = {
    val r = (i * 23 + 17) % 63 + 1
    s"(($h) % ${BigInt(1) << (64 - r)}::HUGEINT * ${BigInt(1) << r}::HUGEINT + ($h) // ${BigInt(1) << (64 - r)}::HUGEINT)"
  }
  private def xorSaltSql(rot: String, i: Int): String = {
    val salt = u64(ShingleKernels.salt(i))
    val hi = salt >> 32
    val lo = salt & 0xFFFFFFFFL
    s"(CAST(xor(CAST($rot // 4294967296 AS BIGINT), $hi) AS HUGEINT) * 4294967296 " +
      s"+ CAST(xor(CAST($rot % 4294967296 AS BIGINT), $lo) AS HUGEINT))"
  }
  private def signedSql(x: String): String =
    s"CAST(CASE WHEN $x >= $Pow63::HUGEINT THEN $x - $M64::HUGEINT ELSE $x END AS BIGINT)"

  /** Shared CTE chain for the MinHash-LSH pipeline, ending in
    * `pairs(id_a, id_b)` — mirrors [[graft.operators.Dedup.minHashCandidates]]:
    * normalize → distinct 5-gram FNV hashes (`dh`) → k signed minhash
    * mixes (`sigs`, empty docs = MaxLong) → per-band tuple buckets →
    * bucket cap → in-bucket pairs.
    */
  private def minhashCtes(k: Int, bands: Int, rpb: Int, maxBucket: Int, shingleLen: Int): String = {
    val rots = (0 until k).map(i => s"${rotSql("h", i)} AS r$i").mkString(",\n    ")
    val xors = (0 until k).map(i => s"${xorSaltSql(s"r$i", i)} AS x$i").mkString(",\n    ")
    val mhAggs = (0 until k).map(i => s"MIN(${signedSql(s"x$i")}) AS mh$i").mkString(",\n    ")
    val banded = (0 until bands).map { b =>
      s"SELECT doc_id, $b AS band, ${(0 until rpb).map(j => s"mh${b * rpb + j} AS k$j").mkString(", ")} FROM sigs"
    }.mkString("\n  UNION ALL ")
    val coal = (0 until k).map(i => s"COALESCE(g.mh$i, ${Long.MaxValue}) AS mh$i").mkString(", ")
    val keyEq = (0 until rpb).map(j => s"a.k$j = b.k$j").mkString(" AND ")
    // MATERIALIZED everywhere a CTE is referenced more than once (banded
    // reads sigs `bands` times; the recursive dedup_clusters closure
    // re-reads pairs per round) — DuckDB otherwise inlines and re-runs
    // the whole upstream pipeline per reference.
    s"""WITH norm AS MATERIALIZED (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM documents),
dh AS MATERIALIZED (SELECT DISTINCT doc_id, ${fnvShingle("t", "i", shingleLen)} AS h
       FROM norm, LATERAL unnest(range(1, greatest(length(t) - ${shingleLen - 1}, 0) + 1)) AS u(i)),
rots AS (SELECT doc_id, $rots FROM dh),
xors AS (SELECT doc_id, $xors FROM rots),
gsigs AS (SELECT doc_id, $mhAggs FROM xors GROUP BY doc_id),
sigs AS MATERIALIZED (SELECT n.doc_id, $coal FROM norm n LEFT JOIN gsigs g ON n.doc_id = g.doc_id),
banded AS ($banded),
capped AS MATERIALIZED (SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, ${(0 until rpb).map("k" + _).mkString(", ")}) AS bn FROM banded)
  WHERE bn <= $maxBucket),
pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM capped a JOIN capped b
            ON a.band = b.band AND $keyEq AND a.doc_id < b.doc_id)"""
  }

  /** Oracle for `dedup_minhash_lsh` (k=16, bands=4, rpb=4, cap=1000, 5-grams). */
  def dedupMinhashLsh: String = {
    val k = 16
    val eq = (0 until k).map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""${minhashCtes(k, 4, 4, 1000, 5)}
SELECT p.id_a, p.id_b, CAST($eq AS DOUBLE) / $k AS jaccard_est
FROM pairs p JOIN sigs sa ON sa.doc_id = p.id_a JOIN sigs sb ON sb.doc_id = p.id_b"""
  }

  /** The split-name CASE over an id expression — the single SQL
    * replica of [[graft.operators.Corpus.splitColumn]], shared by the
    * `corpus_split` and `corpus_split_leakage` oracles so the coin
    * literal and threshold scaling cannot drift between them.
    */
  def splitCaseSql(bounds: Seq[(String, Long)], idExpr: String): String = {
    val coin = s"CAST('0x' || substr(md5(CAST($idExpr AS VARCHAR)), 1, 8) AS BIGINT)"
    val cases = bounds.init.map { case (n, hi) => s"WHEN $coin < $hi THEN '$n'" }.mkString(" ")
    s"CASE $cases ELSE '${bounds.last._1}' END"
  }

  /** Oracle for `corpus_split_leakage`: the `dedup_minhash_lsh` pair
    * relation with both endpoints' split names (the same exact-long
    * md5-coin boundaries as the `corpus_split` oracle), restricted to
    * pairs that straddle splits.
    */
  def corpusSplitLeakage(bounds: Seq[(String, Long)]): String = {
    val k = 16
    val eq = (0 until k).map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""${minhashCtes(k, 4, 4, 1000, 5)}
SELECT p.id_a, p.id_b, CAST($eq AS DOUBLE) / $k AS jaccard_est,
  ${splitCaseSql(bounds, "p.id_a")} AS split_a, ${splitCaseSql(bounds, "p.id_b")} AS split_b
FROM pairs p JOIN sigs sa ON sa.doc_id = p.id_a JOIN sigs sb ON sb.doc_id = p.id_b
WHERE ${splitCaseSql(bounds, "p.id_a")} <> ${splitCaseSql(bounds, "p.id_b")}"""
  }

  /** Oracle for `dedup_clusters`: MinHash-LSH candidate pairs (same
    * parameters as `dedup_minhash_lsh`), resolved to connected
    * components by a recursive transitive closure (the oracle-side
    * equivalent of [[graft.operators.Cluster.connectedComponents]]'s
    * converged label propagation — both yield min-node-id labels);
    * unpaired documents represent themselves.
    */
  /** The recursive transitive-closure CTE suffix over the `pairs`
    * relation (shared by [[dedupClusters]] and [[dedupSourceStats]]):
    * min-node-id component labels, the oracle-side equivalent of
    * [[graft.operators.Cluster.connectedComponents]].
    */
  private val closureCtes: String =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION SELECT id_b AS src, id_a AS dst FROM pairs),
      |cc AS (
      |  SELECT src AS id, src AS comp FROM edges
      |  UNION
      |  SELECT e.dst AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.src),
      |lbl AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id)""".stripMargin

  def dedupClusters: String =
    s"""${minhashCtes(16, 4, 4, 1000, 5).replaceFirst("^WITH ", "WITH RECURSIVE ")},
$closureCtes
SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS canonical_id,
  COALESCE(l.comp, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id"""

  /** Oracle for `dedup_source_stats`: the cluster closure rolled up to
    * the per-source duplication readout (keep = canonical member).
    */
  def dedupSourceStats: String =
    s"""${minhashCtes(16, 4, 4, 1000, 5).replaceFirst("^WITH ", "WITH RECURSIVE ")},
$closureCtes
SELECT d.source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN COALESCE(l.comp, d.doc_id) = d.doc_id THEN 1 ELSE 0 END)
    AS BIGINT) AS n_kept,
  round(1.0 - CAST(SUM(CASE WHEN COALESCE(l.comp, d.doc_id) = d.doc_id
      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_rate
FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id
GROUP BY 1"""

  /** Oracle for `dedup_incremental` — [[graft.operators.Dedup.minHashAdmit]]
    * with existing = doc_id < `split`, incoming = the rest: the full
    * all-pairs CTE restricted to pairs whose LARGER id is incoming is
    * exactly the admit join (every pair has id_a < id_b, so id_b ≥ split
    * ⟺ the probe side was an incoming doc).
    */
  def dedupIncremental(split: Long = 250): String =
    s"""${minhashCtes(16, 4, 4, 1000, 5)}
SELECT d.doc_id, NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id_b = d.doc_id) AS keep
FROM documents d WHERE d.doc_id >= $split"""

  /** Oracle for `dedup_verify_pipeline`: MinHash-LSH candidates, then
    * exact shingle-hash-set Jaccard over candidate pairs only
    * (threshold 0.5; an empty-vs-empty pair scores 1.0, matching
    * [[graft.functions.TextFunctions.jaccard]]).
    */
  def dedupVerifyPipeline: String =
    s"""${minhashCtes(16, 4, 4, 1000, 5)},
pids AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs)),
psh AS (SELECT dh.doc_id, dh.h FROM dh JOIN pids ON dh.doc_id = pids.id),
sz AS (SELECT doc_id, COUNT(*) AS n FROM psh GROUP BY doc_id),
ints AS (SELECT p.id_a, p.id_b, COUNT(*) AS i
         FROM pairs p JOIN psh sa ON sa.doc_id = p.id_a
                      JOIN psh sb ON sb.doc_id = p.id_b AND sb.h = sa.h
         GROUP BY p.id_a, p.id_b),
jac AS (SELECT p.id_a, p.id_b, COALESCE(i.i, 0) AS i,
    COALESCE(za.n, 0) + COALESCE(zb.n, 0) - COALESCE(i.i, 0) AS u
  FROM pairs p
  LEFT JOIN ints i ON i.id_a = p.id_a AND i.id_b = p.id_b
  LEFT JOIN sz za ON za.doc_id = p.id_a
  LEFT JOIN sz zb ON zb.doc_id = p.id_b)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
    CASE WHEN u = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) END AS jaccard
  FROM jac) WHERE jaccard >= CAST(0.5 AS DOUBLE)"""

  /** Oracle for `dedup_containment`: MinHash-LSH candidates (same
    * parameters as `dedup_minhash_lsh`), then exact overlap coefficient
    * `|A∩B| / min(|A|,|B|)` over candidate pairs only (threshold 0.8;
    * empty-vs-empty scores 1.0, mirroring
    * [[graft.functions.TextFunctions.overlapCoefficient]]).
    */
  def dedupContainment(threshold: Double = 0.8): String =
    s"""${minhashCtes(16, 4, 4, 1000, 5)},
pids AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs)),
psh AS (SELECT dh.doc_id, dh.h FROM dh JOIN pids ON dh.doc_id = pids.id),
sz AS (SELECT doc_id, COUNT(*) AS n FROM psh GROUP BY doc_id),
ints AS (SELECT p.id_a, p.id_b, COUNT(*) AS i
         FROM pairs p JOIN psh sa ON sa.doc_id = p.id_a
                      JOIN psh sb ON sb.doc_id = p.id_b AND sb.h = sa.h
         GROUP BY p.id_a, p.id_b),
cont AS (SELECT p.id_a, p.id_b, COALESCE(i.i, 0) AS i,
    least(COALESCE(za.n, 0), COALESCE(zb.n, 0)) AS m
  FROM pairs p
  LEFT JOIN ints i ON i.id_a = p.id_a AND i.id_b = p.id_b
  LEFT JOIN sz za ON za.doc_id = p.id_a
  LEFT JOIN sz zb ON zb.doc_id = p.id_b)
SELECT id_a, id_b, containment FROM (
  SELECT id_a, id_b,
    CASE WHEN m = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(i AS DOUBLE) / CAST(m AS DOUBLE) END AS containment
  FROM cont) WHERE containment >= CAST($threshold AS DOUBLE)"""

  /** Oracle for `dedup_lsh_eval` — the MinHash-LSH candidate set
    * ([[minhashCtes]], same parameters as `dedup_minhash_lsh`) scored
    * against the EXACT Jaccard-≥0.5 ground truth (the same
    * string-shingle inverted-index definition as the
    * `dedup_setsim_exact` oracle, rebuilt over the shared `norm` CTE):
    * precision = hits/candidates, recall = hits/truth, as exact-int
    * ratios divided once and rounded. The "measure, don't guess"
    * readout for the probabilistic dedup path.
    */
  def dedupLshEval(threshold: Double = 0.5): String =
    s"""${minhashCtes(16, 4, 4, 1000, 5)},
tsh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS s
        FROM norm, LATERAL unnest(range(1, greatest(length(t) - 4, 0) + 1)) AS u2(i)),
tsz AS (SELECT doc_id, COUNT(*) AS n FROM tsh GROUP BY doc_id),
tov AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS o
        FROM tsh a JOIN tsh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
truth AS (SELECT ia, ib FROM (
    SELECT ia, ib, CAST(o AS DOUBLE) / (sa.n + sb.n - o) AS j
    FROM tov JOIN tsz sa ON sa.doc_id = ia JOIN tsz sb ON sb.doc_id = ib)
  WHERE j >= CAST($threshold AS DOUBLE)),
fo AS (SELECT p.id_a AS ca, t.ia AS ta
       FROM pairs p FULL OUTER JOIN truth t ON p.id_a = t.ia AND p.id_b = t.ib),
agg AS (SELECT
    CAST(SUM(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
    CAST(SUM(CASE WHEN ta IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
    CAST(SUM(CASE WHEN ca IS NOT NULL AND ta IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM fo)
SELECT n_candidates, n_true, n_hit,
  CASE WHEN n_candidates > 0 THEN
    round(CAST(n_hit AS DOUBLE) / CAST(n_candidates AS DOUBLE), 6) END AS "precision",
  CASE WHEN n_true > 0 THEN
    round(CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE), 6) END AS recall
FROM agg"""

  /** Oracle for `dedup_simhash` (bands=4, maxHamming=16): whitespace
    * tokens (duplicates kept) → FNV-1a per lowercased token → 64
    * per-bit ±1 vote sums → signature → 16-bit band chunks → in-chunk
    * pairs with bit_count hamming. Docs with no tokens get signature 0,
    * matching the kernel.
    */
  def dedupSimhash: String = {
    val sums = (0 until 64).map(j =>
      s"SUM(CASE WHEN (h // ${BigInt(1) << j}::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(",\n    ")
    val sigExpr = (0 until 64).map(j =>
      s"(CASE WHEN v.s$j > 0 THEN ${BigInt(1) << j}::HUGEINT ELSE 0::HUGEINT END)").mkString(" + ")
    val banded = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, (usig // ${BigInt(1) << (b * 16)}::HUGEINT) % 65536 AS chunk, ssig FROM ss"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents)
  WHERE tok <> ''),
th AS (SELECT doc_id, ${fnvToken("tok")} AS h FROM toks),
vs AS (SELECT doc_id, $sums FROM th GROUP BY doc_id),
sigs AS (SELECT d.doc_id, $sigExpr AS usig
  FROM documents d LEFT JOIN vs v ON v.doc_id = d.doc_id),
ss AS (SELECT doc_id, usig,
    CAST(CASE WHEN usig >= $Pow63::HUGEINT THEN usig - $M64::HUGEINT ELSE usig END AS BIGINT) AS ssig
  FROM sigs),
banded AS ($banded)
SELECT id_a, id_b, hamming FROM (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(bit_count(xor(a.ssig, b.ssig)) AS BIGINT) AS hamming
  FROM banded a JOIN banded b ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
WHERE hamming <= 16"""
  }

  // ------------------------------------------------------------------
  // Hyperplane LSH (mirror of VectorFunctions.hyperplaneBucket)
  // ------------------------------------------------------------------

  private def hyperplaneComp(seed: Long, b: Int, j: Int): Double = {
    var z = seed + b.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 0L) 1.0 else -1.0
  }

  /** Bucket int expr over a DOUBLE-list column `vcol`: bit b =
    * sign(v · comps_b), comps inlined as DOUBLE[] literals.
    */
  private def bucketSql(vcol: String, seed: Long, bits: Int, dim: Int): String =
    (0 until bits).map { b =>
      val arr = (0 until dim).map(j => if (hyperplaneComp(seed, b, j) > 0) "1.0" else "-1.0")
        .mkString("CAST([", ",", "] AS DOUBLE[])")
      s"(CASE WHEN list_dot_product($vcol, $arr) >= 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val cosSql =
    (a: String, an: String, b: String, bn: String) =>
      s"CASE WHEN $an * $bn = 0 THEN CAST(0.0 AS DOUBLE) ELSE list_dot_product($a, $b) / ($an * $bn) END"

  /** Oracle for `dedup_embedding` (dim=64, bits=10, seed=42, threshold 0.1). */
  def dedupEmbedding: String = {
    val bucket = bucketSql("v", 42L, 10, 64)
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
b AS (SELECT vec_id, v, $bucket AS bucket, sqrt(list_dot_product(v, v)) AS nrm FROM e),
prs AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
    round(CAST(${cosSql("a.v", "a.nrm", "c.v", "c.nrm")} AS DOUBLE), 6) AS cosine
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
SELECT DISTINCT id_a, id_b, cosine FROM prs WHERE cosine >= CAST(0.1 AS DOUBLE)"""
  }

  /** Oracle for `knn_lsh` (queries vec_id < 5): mirrors the multi-probe
    * [[graft.operators.Similarity.lshTopK]] — one hyperplane table per
    * seed, and within a table a candidate matches a query iff their
    * buckets differ in at most `probeHamming` bits (the Spark side
    * probes every XOR mask of weight ≤ h, which is exactly the
    * Hamming-ball condition); UNION = the Spark union+distinct.
    */
  def knnLsh(bits: Int = 8, seeds: Seq[Long] = Seq(42L, 43L, 44L, 45L),
             probeHamming: Int = 2, k: Int = 3, dim: Int = 64): String = {
    def branch(cte: String) =
      s"""SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
    ${cosSql("q.v", "q.nrm", "c.v", "c.nrm")} AS cos
  FROM $cte q JOIN $cte c ON bit_count(xor(q.bucket, c.bucket)) <= $probeHamming
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id"""
    val seedCtes = seeds.zipWithIndex.map { case (seed, i) =>
      s"s${i + 1} AS (SELECT vec_id, v, nrm, ${bucketSql("v", seed, bits, dim)} AS bucket FROM n)"
    }.mkString(",\n")
    val branches = seeds.indices.map(i => branch(s"s${i + 1}")).mkString("\n  UNION\n  ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
$seedCtes,
cand AS (
  $branches),
r AS (SELECT query_id, candidate_id, round(CAST(cos AS DOUBLE), 6) AS cosine,
    row_number() OVER (PARTITION BY query_id
      ORDER BY round(CAST(cos AS DOUBLE), 6) DESC, candidate_id) AS "rank"
  FROM cand)
SELECT query_id, candidate_id, cosine, "rank" FROM r WHERE "rank" <= $k"""
  }

  /** Oracle for `knn_ivf` (nCells=16 hash-strided centroids, nProbe
    * probed cells, k=3, queries vec_id < 5). Centroids are the 16
    * vectors with the smallest (signed FNV-1a of the id string, id) —
    * the same decorrelated deterministic sample
    * [[graft.operators.Similarity.ivfTopK]] fits. Assignment/probing
    * rank by 6-dp-rounded centroid cosine DESC then cell_id ASC —
    * exactly the struct-argmax ordering in `ivfTopK`.
    */
  def knnIvf(nProbe: Int = 6): String = {
    val h = fnvToken("CAST(vec_id AS VARCHAR)")
    val signedH =
      s"CAST(CASE WHEN $h >= $Pow63::HUGEINT THEN $h - $M64::HUGEINT ELSE $h END AS BIGINT)"
    s"""WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
cents AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM n ORDER BY $signedH, vec_id LIMIT 16),
sims AS (SELECT n.vec_id, c.cell_id,
    round(CAST(${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} AS DOUBLE), 6) AS sim
  FROM n CROSS JOIN cents c),
assigned AS (SELECT vec_id AS candidate_id, cell_id FROM (
    SELECT vec_id, cell_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
    FROM sims) WHERE rn = 1),
probed AS (SELECT vec_id AS query_id, cell_id FROM (
    SELECT vec_id, cell_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
    FROM sims WHERE vec_id < 5) WHERE rn <= $nProbe),
scored AS (SELECT p.query_id, a.candidate_id,
    ${cosSql("qn.v", "qn.nrm", "cn2.v", "cn2.nrm")} AS cos
  FROM probed p JOIN assigned a ON a.cell_id = p.cell_id AND a.candidate_id <> p.query_id
  JOIN n qn ON qn.vec_id = p.query_id
  JOIN n cn2 ON cn2.vec_id = a.candidate_id),
r AS (SELECT query_id, candidate_id, round(CAST(cos AS DOUBLE), 6) AS cosine,
    row_number() OVER (PARTITION BY query_id
      ORDER BY round(CAST(cos AS DOUBLE), 6) DESC, candidate_id) AS "rank"
  FROM scored)
SELECT query_id, candidate_id, cosine, "rank" FROM r WHERE "rank" <= 3"""
  }

  /** Oracle for `knn_ivfpq` — the [[knnIvf]] coarse quantizer composed
    * with the [[knnPq]] ADC scorer, mirroring
    * [[graft.operators.Similarity.ivfPqTopK]]: cell assignment/probing
    * on RAW doubles (IVF convention), PQ codes/LUTs on 6-dp-rounded
    * vectors (PQ convention), candidates scored only within the query's
    * probed cells.
    */
  def knnIvfPq(nCells: Int = 16, nProbe: Int = 8, m: Int = 8,
               subK: Int = 16, k: Int = 3, dim: Int = 64,
               refine: Int = 96): String = {
    val sub = dim / m
    val h = fnvToken("CAST(vec_id AS VARCHAR)")
    val signedH =
      s"CAST(CASE WHEN $h >= $Pow63::HUGEINT THEN $h - $M64::HUGEINT ELSE $h END AS BIGINT)"
    val diff = s"list_transform(range(1, $sub + 1), " +
      s"i -> er.v[CAST(c.j * $sub + i AS INT)] - c.cv[CAST(i AS INT)])"
    s"""WITH eraw AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM eraw),
icents AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM n
  ORDER BY $signedH, vec_id LIMIT $nCells),
sims AS (SELECT n.vec_id, c.cell_id,
    round(CAST(${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} AS DOUBLE), 6) AS sim
  FROM n CROSS JOIN icents c),
assigned AS (SELECT vec_id AS candidate_id, cell_id FROM (
    SELECT vec_id, cell_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
    FROM sims) WHERE rn = 1),
probed AS (SELECT vec_id AS query_id, cell_id FROM (
    SELECT vec_id, cell_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
    FROM sims WHERE vec_id < 5) WHERE rn <= $nProbe),
er AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
    list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS v FROM embeddings),
tr AS (SELECT (row_number() OVER (ORDER BY $signedH, vec_id)) - 1 AS t, v
  FROM er ORDER BY $signedH, vec_id LIMIT $subK),
cents AS (SELECT tr.t, u.j,
    tr.v[CAST(u.j * $sub + 1 AS INT):CAST(u.j * $sub + $sub AS INT)] AS cv
  FROM tr, LATERAL unnest(range(0, $m)) AS u(j)),
dists AS (SELECT er.vec_id, c.j, c.t,
    round(list_dot_product($diff, $diff), 6) AS dd
  FROM er CROSS JOIN cents c),
codes AS (SELECT vec_id, j, t AS code FROM (
    SELECT vec_id, j, t,
      row_number() OVER (PARTITION BY vec_id, j ORDER BY dd, t) AS rn
    FROM dists) WHERE rn = 1),
luts AS (SELECT q.vec_id AS query_id, c.j, c.t,
    round(list_dot_product(
      q.v[CAST(c.j * $sub + 1 AS INT):CAST(c.j * $sub + $sub AS INT)], c.cv), 6) AS ip
  FROM er q CROSS JOIN cents c WHERE q.vec_id < 5),
scored AS (SELECT p.query_id, a.candidate_id, round(SUM(l.ip), 6) AS approx_ip
  FROM probed p
  JOIN assigned a ON a.cell_id = p.cell_id AND a.candidate_id <> p.query_id
  JOIN codes cd ON cd.vec_id = a.candidate_id
  JOIN luts l ON l.query_id = p.query_id AND l.j = cd.j AND l.t = cd.code
  GROUP BY p.query_id, a.candidate_id)""" + (
      if (refine > 0) pqRefineTail(refine, k)
      else s"""
SELECT query_id, candidate_id, approx_ip, "rank" FROM (
  SELECT query_id, candidate_id, approx_ip,
    row_number() OVER (PARTITION BY query_id
      ORDER BY approx_ip DESC, candidate_id) AS "rank"
  FROM scored) WHERE "rank" <= $k""")
  }

  /** Re-rank tail shared by the PQ oracles — mirrors
    * [[graft.operators.Similarity]]'s `refineExact`: shortlist the top
    * `refine` per query by (approx_ip DESC, candidate ASC), exact
    * cosine over RAW doubles on the shortlist only, final top-k by
    * (6-dp cosine DESC, candidate ASC). Assumes a CTE `scored`
    * (query_id, candidate_id, approx_ip) is in scope.
    */
  private def pqRefineTail(refine: Int, k: Int): String =
    s""",
short AS (SELECT query_id, candidate_id FROM (
    SELECT query_id, candidate_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY approx_ip DESC, candidate_id) AS rn
    FROM scored) WHERE rn <= $refine),
rr AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM rr),
ex AS (SELECT s.query_id, s.candidate_id,
    round(CAST(${cosSql("q.v", "q.nrm", "c.v", "c.nrm")} AS DOUBLE), 6) AS cosine
  FROM short s JOIN nn q ON q.vec_id = s.query_id
  JOIN nn c ON c.vec_id = s.candidate_id)
SELECT query_id, candidate_id, cosine, "rank" FROM (
  SELECT query_id, candidate_id, cosine,
    row_number() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, candidate_id) AS "rank"
  FROM ex) WHERE "rank" <= $k"""

  /** Oracle for `knn_pq` — mirrors [[graft.operators.Similarity.pqTopK]]
    * (m=8 subspaces × 8 dims, subK=16 hash-strided training vectors,
    * k=3, queries vec_id < 5): 6-dp-rounded components, per-subspace
    * argmin of 6-dp-rounded L2² (ties to the lowest centroid index),
    * LUT inner products rounded to 6 dp so the m-term ADC sum is
    * order-immune, final score re-rounded; `refine` > 0 appends the
    * exact re-rank tail.
    */
  def knnPq(m: Int = 8, subK: Int = 16, k: Int = 3, dim: Int = 64,
            refine: Int = 96): String = {
    val sub = dim / m
    val h = fnvToken("CAST(vec_id AS VARCHAR)")
    val signedH =
      s"CAST(CASE WHEN $h >= $Pow63::HUGEINT THEN $h - $M64::HUGEINT ELSE $h END AS BIGINT)"
    val diff = s"list_transform(range(1, $sub + 1), " +
      s"i -> e.v[CAST(c.j * $sub + i AS INT)] - c.cv[CAST(i AS INT)])"
    s"""WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
    list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS v
  FROM embeddings),
tr AS (SELECT (row_number() OVER (ORDER BY $signedH, vec_id)) - 1 AS t, v
  FROM e ORDER BY $signedH, vec_id LIMIT $subK),
cents AS (SELECT tr.t, u.j,
    tr.v[CAST(u.j * $sub + 1 AS INT):CAST(u.j * $sub + $sub AS INT)] AS cv
  FROM tr, LATERAL unnest(range(0, $m)) AS u(j)),
dists AS (SELECT e.vec_id, c.j, c.t,
    round(list_dot_product($diff, $diff), 6) AS dd
  FROM e CROSS JOIN cents c),
codes AS (SELECT vec_id, j, t AS code FROM (
    SELECT vec_id, j, t,
      row_number() OVER (PARTITION BY vec_id, j ORDER BY dd, t) AS rn
    FROM dists) WHERE rn = 1),
luts AS (SELECT q.vec_id AS query_id, c.j, c.t,
    round(list_dot_product(
      q.v[CAST(c.j * $sub + 1 AS INT):CAST(c.j * $sub + $sub AS INT)], c.cv), 6) AS ip
  FROM e q CROSS JOIN cents c WHERE q.vec_id < 5),
scored AS (SELECT l.query_id, cd.vec_id AS candidate_id,
    round(SUM(l.ip), 6) AS approx_ip
  FROM codes cd JOIN luts l ON l.j = cd.j AND l.t = cd.code
    AND l.query_id <> cd.vec_id
  GROUP BY l.query_id, cd.vec_id)""" + (
      if (refine > 0) pqRefineTail(refine, k)
      else s"""
SELECT query_id, candidate_id, approx_ip, "rank" FROM (
  SELECT query_id, candidate_id, approx_ip,
    row_number() OVER (PARTITION BY query_id
      ORDER BY approx_ip DESC, candidate_id) AS "rank"
  FROM scored) WHERE "rank" <= $k""")
  }

  /** Oracle for `embed_pq_distortion` — replays
    * [[graft.operators.Similarity.pqDistortion]]: the same hash-strided
    * sub-centroid codebooks and 6-dp argmin encoding as [[knnPq]], then
    * per-subspace count / exact-decimal mean / max of each vector's
    * chosen-centroid L2².
    */
  def embedPqDistortion(m: Int = 8, subK: Int = 16, dim: Int = 64): String = {
    val sub = dim / m
    val h = fnvToken("CAST(vec_id AS VARCHAR)")
    val signedH =
      s"CAST(CASE WHEN $h >= $Pow63::HUGEINT THEN $h - $M64::HUGEINT ELSE $h END AS BIGINT)"
    val diff = s"list_transform(range(1, $sub + 1), " +
      s"i -> e.v[CAST(c.j * $sub + i AS INT)] - c.cv[CAST(i AS INT)])"
    s"""WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
    list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS v
  FROM embeddings),
tr AS (SELECT (row_number() OVER (ORDER BY $signedH, vec_id)) - 1 AS t, v
  FROM e ORDER BY $signedH, vec_id LIMIT $subK),
cents AS (SELECT tr.t, u.j,
    tr.v[CAST(u.j * $sub + 1 AS INT):CAST(u.j * $sub + $sub AS INT)] AS cv
  FROM tr, LATERAL unnest(range(0, $m)) AS u(j)),
dists AS (SELECT e.vec_id, c.j, c.t,
    round(list_dot_product($diff, $diff), 6) AS dd
  FROM e CROSS JOIN cents c),
best AS (SELECT vec_id, j, dd FROM (
    SELECT vec_id, j, dd,
      row_number() OVER (PARTITION BY vec_id, j ORDER BY dd, t) AS rn
  FROM dists) WHERE rn = 1)
SELECT CAST(j AS BIGINT) AS subspace, CAST(COUNT(*) AS BIGINT) AS n,
  round(CAST(SUM(CAST(dd AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mse,
  round(MAX(dd), 6) AS max_err
FROM best GROUP BY j"""
  }

  /** Oracle for `embed_kmeans` — mirrors
    * [[graft.operators.KMeans.sphericalKMeans]] (k=8, 2 Lloyd
    * iterations, 64 dims): 6-dp-rounded components, hash-strided init
    * labeled 0..k−1 in pick order, argmax of 6-dp cosine with
    * lowest-cell tie-break, per-cell means via exact DECIMAL(25,12)
    * sums (order-independent; 6-dp doubles cannot hit a scale-12
    * rounding tie, so HALF_UP and HALF_EVEN engines agree) cast to
    * double and re-rounded to 6 dp.
    */
  def embedKmeans(k: Int = 8, iters: Int = 2, dim: Int = 64,
                  limitSql: String = ""): String = {
    val kLimit = if (limitSql.nonEmpty) limitSql else k.toString
    val h = fnvToken("CAST(vec_id AS VARCHAR)")
    val signedH =
      s"CAST(CASE WHEN $h >= $Pow63::HUGEINT THEN $h - $M64::HUGEINT ELSE $h END AS BIGINT)"
    // one assignment round against centroid CTE `cents` (cell, cv)
    def simCte(name: String, cents: String) =
      s"""$name AS (SELECT n.vec_id, c.cell,
    round(CAST(${cosSql("n.v", "n.nrm", "c.cv", "c.cn")} AS DOUBLE), 6) AS sim
  FROM n0 n CROSS JOIN (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM $cents) c)"""
    def assignCte(name: String, sim: String) =
      s"""$name AS (SELECT vec_id, cell, sim FROM (
    SELECT vec_id, cell, sim,
      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
    FROM $sim) WHERE rn = 1)"""
    def meansCte(name: String, assign: String) =
      s"""${name}m AS (SELECT a.cell, u.i AS i,
    round(CAST(SUM(CAST(e.v[CAST(u.i AS INT)] AS DECIMAL(25,12))) AS DOUBLE)
      / COUNT(*), 6) AS m
  FROM $assign a JOIN e ON e.vec_id = a.vec_id,
    LATERAL unnest(range(1, ${dim + 1})) AS u(i)
  GROUP BY a.cell, u.i),
$name AS (SELECT cell, list(m ORDER BY i) AS cv FROM ${name}m GROUP BY cell)"""
    val iterCtes = (1 to iters).map { t =>
      val prev = if (t == 1) "c0" else s"c${t - 1}"
      Seq(simCte(s"s$t", prev), assignCte(s"a$t", s"s$t"), meansCte(s"c$t", s"a$t"))
        .mkString(",\n")
    }.mkString(",\n")
    s"""WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
    list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS v
  FROM embeddings),
n0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
c0 AS (SELECT (row_number() OVER (ORDER BY $signedH, vec_id)) - 1 AS cell, v AS cv
  FROM e ORDER BY $signedH, vec_id LIMIT $kLimit),
$iterCtes,
${simCte("sf", s"c$iters")}
SELECT vec_id, CAST(cell AS BIGINT) AS cell_id, sim AS cosine FROM (
  SELECT vec_id, cell, sim,
    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
  FROM sf) WHERE rn = 1"""
  }

  /** Oracle for `embed_outliers` — the k-means assignment
    * ([[embedKmeans]], nested as a CTE) with a per-cell mean-cosine
    * threshold: keep ⟺ cosine ≥ round₆(cell mean) − margin. Exact
    * decimal sums keep the mean order-independent; the margin is an
    * `e0` double literal so both engines compare identically.
    */
  def embedOutliers(k: Int = 8, iters: Int = 2, dim: Int = 64,
                    margin: Double = 0.05): String =
    s"""WITH base AS (
${embedKmeans(k, iters, dim)}
),
st AS (SELECT cell_id,
    round(CAST(SUM(CAST(cosine AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*), 6)
      AS cell_avg
  FROM base GROUP BY cell_id)
SELECT b.vec_id, b.cell_id, b.cosine, st.cell_avg,
  b.cosine >= st.cell_avg - ${margin}e0 AS keep
FROM base b JOIN st USING (cell_id)"""

  /** Oracle for `text_winnow` — replays
    * [[graft.functions.ShingleKernels.winnowFingerprints]]: positional
    * shingle FNV hashes, per-window rightmost-minimum selection
    * (unsigned HUGEINT order, position DESC tie-break), distinct
    * selected hashes per doc converted to signed and sorted. Docs with
    * no shingle surface with an empty list.
    */
  /** Shared CTE chain ending in `fp(doc_id, sh)` — one row per doc per
    * distinct selected (signed) winnowing fingerprint.
    */
  private def winnowCtes(n: Int, w: Int): String = {
    val signed =
      s"CAST(CASE WHEN h >= $Pow63::HUGEINT THEN h - $M64::HUGEINT ELSE h END AS BIGINT)"
    s"""WITH norm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
  FROM documents),
ph AS (SELECT doc_id, CAST(i AS BIGINT) AS i, ${fnvShingle("t", "i", n)} AS h
       FROM norm, LATERAL unnest(range(1, greatest(length(t) - ${n - 1}, 0) + 1)) AS u(i)),
cnt AS (SELECT doc_id, COUNT(*) AS c FROM ph GROUP BY doc_id),
sel AS (SELECT doc_id, i0, h FROM (
    SELECT p.doc_id, w0.i0, p.h,
      row_number() OVER (PARTITION BY p.doc_id, w0.i0
        ORDER BY p.h ASC, p.i DESC) AS rn
    FROM cnt c2
    CROSS JOIN LATERAL unnest(range(1, c2.c - least($w, c2.c) + 2)) AS w0(i0)
    JOIN ph p ON p.doc_id = c2.doc_id
      AND p.i >= w0.i0 AND p.i < w0.i0 + least($w, c2.c)
  ) WHERE rn = 1),
fp AS (SELECT DISTINCT doc_id, $signed AS sh FROM sel)"""
  }

  /** Oracle for `text_cdc_chunks` — replays
    * [[graft.functions.ShingleKernels.cdcChunkSpans]]: positional FNV
    * window hashes over the normalized text, a cut before every
    * interior position with `h % modulus == 0`, spans from consecutive
    * cuts via LEAD (head and no-cut docs from a grouped left join),
    * chunk content fingerprinted with md5 over the same normalized
    * substring.
    */
  def textCdcChunks(n: Int = 8, modulus: Int = 64): String =
    s"""WITH norm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
  FROM documents),
lens AS (SELECT doc_id, t, length(t) AS L FROM norm WHERE length(t) > 0),
ph AS (SELECT doc_id, CAST(i AS BIGINT) AS i, ${fnvShingle("t", "i", n)} AS h
       FROM norm, LATERAL unnest(range(1, greatest(length(t) - ${n - 1}, 0) + 1)) AS u(i)),
cuts AS (SELECT doc_id, i FROM ph WHERE h % $modulus = 0 AND i > 1),
spans AS (
  SELECT c.doc_id, c.i AS strt,
    COALESCE(LEAD(c.i) OVER (PARTITION BY c.doc_id ORDER BY c.i), l.L + 1) - c.i AS len
  FROM cuts c JOIN lens l USING (doc_id)
  UNION ALL
  SELECT l.doc_id, 1 AS strt, COALESCE(MIN(c.i), l.L + 1) - 1 AS len
  FROM lens l LEFT JOIN cuts c ON c.doc_id = l.doc_id GROUP BY l.doc_id, l.L)
SELECT s.doc_id,
  CAST(row_number() OVER (PARTITION BY s.doc_id ORDER BY s.strt) AS BIGINT) AS chunk_idx,
  CAST(s.strt AS BIGINT) AS start, CAST(s.len AS BIGINT) AS length,
  md5(substr(l.t, CAST(s.strt AS INT), CAST(s.len AS INT))) AS chunk_md5
FROM spans s JOIN lens l USING (doc_id) WHERE s.len > 0"""

  /** Oracle for `text_chunk_dedup` — the [[textCdcChunks]] relation
    * reduced to the block-store savings report (copies per distinct
    * chunk id, duplicated/total chars, ratio).
    */
  def textChunkDedup(n: Int = 8, modulus: Int = 64): String =
    s"""WITH chunks AS (
${textCdcChunks(n, modulus)}
),
g AS (SELECT chunk_md5, length, COUNT(*) AS copies FROM chunks GROUP BY 1, 2),
a AS (SELECT CAST(SUM(copies) AS BIGINT) AS n_chunks,
    CAST(COUNT(*) AS BIGINT) AS n_distinct,
    CAST(SUM(length * (copies - 1)) AS BIGINT) AS dup_chars,
    CAST(SUM(length * copies) AS BIGINT) AS total_chars FROM g)
SELECT n_chunks, n_distinct, dup_chars, total_chars,
  CASE WHEN total_chars > 0 THEN
    round(CAST(dup_chars AS DOUBLE) / CAST(total_chars AS DOUBLE), 6)
  END AS dedup_ratio
FROM a"""

  def textWinnow(n: Int = 5, w: Int = 4): String =
    s"""${winnowCtes(n, w)},
agg AS (SELECT doc_id, list_sort(list(sh)) AS fingerprints FROM fp GROUP BY doc_id)
SELECT d.doc_id,
  COALESCE(array_to_string(a.fingerprints, ','), '') AS fingerprints,
  CAST(COALESCE(len(a.fingerprints), 0) AS BIGINT) AS n_fp
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id"""

  /** Oracle for `dedup_winnow` — candidate pairs sharing ≥ minShared
    * winnowing fingerprints, degenerate fingerprints (> maxDocsPerFp
    * docs) dropped before pairing, mirroring
    * [[graft.operators.Dedup.winnowCandidates]].
    */
  def dedupWinnow(n: Int = 5, w: Int = 4,
                  minShared: Int = 3, maxDocsPerFp: Int = 100): String =
    s"""${winnowCtes(n, w)},
fcnt AS (SELECT sh, COUNT(*) AS c FROM fp GROUP BY sh),
keep AS (SELECT fp.doc_id, fp.sh FROM fp JOIN fcnt ON fcnt.sh = fp.sh
         WHERE fcnt.c <= $maxDocsPerFp)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM keep a JOIN keep b ON a.sh = b.sh AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= $minShared"""

  /** Oracle for `embed_pca` — replays [[graft.operators.Pca]]'s power
    * iteration exactly: 6-dp components, per-row contribution
    * `round(v[i]·round(v·pvₜ,6),6)` cast to exact decimal, summed,
    * rounded, then the direction renormalized with `list_dot_product`
    * (the same sequential fold as the Scala norm) and re-rounded.
    */
  /** Power-iteration CTE chain `${pfx}p0 … ${pfx}p$iters` over a source
    * CTE `src(vec_id, v)` — shared by [[embedPca]] and the deflated
    * second component in [[embedPca2]].
    */
  private def pcaIterCtes(src: String, pfx: String, iters: Int, dim: Int): String = {
    val v0 = {
      val c = graft.functions.VectorKernels.round6(1.0 / math.sqrt(dim.toDouble))
      Seq.fill(dim)(c).mkString("[", ", ", "]")
    }
    val iterCtes = (1 to iters).map { t =>
      s"""${pfx}t${t}m AS (SELECT u.i AS i,
    round(CAST(SUM(CAST(round($src.v[CAST(u.i AS INT)] *
        round(list_dot_product($src.v, p.pv), 6), 6) AS DECIMAL(25,12))) AS DOUBLE), 6) AS m
  FROM $src CROSS JOIN ${pfx}p${t - 1} p, LATERAL unnest(range(1, ${dim + 1})) AS u(i)
  GROUP BY u.i),
${pfx}t${t}v AS (SELECT list(m ORDER BY i) AS mv FROM ${pfx}t${t}m),
${pfx}p$t AS (SELECT list_transform(mv,
    x -> round(x / sqrt(list_dot_product(mv, mv)), 6)) AS pv FROM ${pfx}t${t}v)"""
    }.mkString(",\n")
    s"${pfx}p0 AS (SELECT $v0 AS pv),\n$iterCtes"
  }

  private def pcaSourceCte: String =
    s"""e AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS vec_id,
    list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS v
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)"""

  def embedPca(iters: Int = 3, dim: Int = 64): String =
    s"""WITH $pcaSourceCte,
${pcaIterCtes("e", "", iters, dim)}
SELECT e.vec_id, round(list_dot_product(e.v, p.pv), 6) AS pc1
FROM e CROSS JOIN p$iters p"""

  /** Oracle for `embed_pca2` — [[embedPca]]'s first direction, then
    * Hotelling deflation (x ← x − (x·pc1)·pc1 with 6-dp rounding at the
    * projection, each product, and each difference — mirroring
    * [[graft.operators.Pca]]'s `deflated`), then the same power
    * iteration over the deflated vectors for direction 2. pc2 scores
    * the DEFLATED vector, exactly as the Scala side does.
    */
  def embedPca2(iters: Int = 3, dim: Int = 64): String =
    s"""WITH $pcaSourceCte,
${pcaIterCtes("e", "", iters, dim)},
d1 AS (SELECT e.vec_id, e.v, round(list_dot_product(e.v, p.pv), 6) AS pj
  FROM e CROSS JOIN p$iters p),
e2 AS MATERIALIZED (SELECT d1.vec_id, list_transform(range(1, ${dim + 1}),
    i -> round(d1.v[CAST(i AS INT)] - round(d1.pj * p.pv[CAST(i AS INT)], 6), 6)) AS v
  FROM d1 CROSS JOIN p$iters p),
${pcaIterCtes("e2", "q", iters, dim)}
SELECT e.vec_id, round(list_dot_product(e.v, pa.pv), 6) AS pc1,
  round(list_dot_product(e2.v, pb.pv), 6) AS pc2
FROM e JOIN e2 ON e2.vec_id = e.vec_id
CROSS JOIN p$iters pa CROSS JOIN qp$iters pb"""

  /** Oracle for `dedup_semantic` (SemDeDup): the [[embedKmeans]]
    * assignment feeds a within-cell pair join over 6-dp-rounded
    * vectors; a vector is dropped iff a lower-id cell-mate clears the
    * rounded-cosine threshold.
    */
  def dedupSemantic(threshold: Double = 0.7): String =
    // the Spark side's k ADAPTS to the input (Dedup.chooseK: max(8,
    // ceil(N/64)), one count) — the oracle must replay the same k, not
    // a hardcoded 8, or the two silently diverge past N = 512
    s"""WITH km AS (SELECT vec_id, cell_id FROM (${embedKmeans(limitSql =
      "GREATEST(8, ((SELECT COUNT(*) FROM embeddings) + 63) // 64)")})),
ev AS (SELECT CAST(vec_id AS BIGINT) AS id,
    list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS v
  FROM embeddings),
m AS (SELECT km.vec_id AS id, km.cell_id, ev.v,
    sqrt(list_dot_product(ev.v, ev.v)) AS nrm
  FROM km JOIN ev ON ev.id = km.vec_id),
drp AS (SELECT DISTINCT b.id AS id
  FROM m a JOIN m b ON a.cell_id = b.cell_id AND a.id < b.id
  WHERE round(CAST(${cosSql("a.v", "a.nrm", "b.v", "b.nrm")} AS DOUBLE), 6)
    >= CAST($threshold AS DOUBLE))
SELECT m.id AS vec_id, m.cell_id, (drp.id IS NULL) AS keep
FROM m LEFT JOIN drp ON drp.id = m.id"""

  // ------------------------------------------------------------------
  // Multimodal stub codec (mirror of Multimodal.StubCodec)
  // ------------------------------------------------------------------

  /** Oracle for `mm_phash_pairs`: replays the 16-slot frame signature
    * (at dim = 16 each slot is ONE md5 byte, so the mid-scale
    * threshold `feature >= 0.5f` is exactly `byte >= 128` — integer
    * compare, no float emulation needed) and finds the distance-≤1
    * pairs by brute-force all-pairs xor/bit_count — the oracle needn't
    * replay the Spark side's multi-probe join, only its semantics
    * (recall there is 1.0 by construction).
    */
  def mmPhashPairs: String = {
    def hexv(pos: Int) = s"(strpos('0123456789abcdef', substr(hx, $pos, 1)) - 1)"
    val bytes = (0 until 16).map(k =>
      s"CAST(16 * ${hexv(2 * k + 1)} + ${hexv(2 * k + 2)} AS INT)")
      .mkString("[", ", ", "]")
    val sig = (0 until 16).map { s =>
      s"(CASE WHEN bl[((($s - frame_idx) % 16 + 16) % 16) + 1] >= 128 " +
        s"THEN CAST(${1L << s} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
bytes AS (SELECT doc_id, $bytes AS bl FROM h),
meta AS (SELECT doc_id, bl, CAST(1 + (bl[4] % 16) AS BIGINT) AS n_frames
  FROM bytes),
frames AS (SELECT doc_id, bl,
    CAST(u.i * GREATEST(CAST(n_frames AS INT) // LEAST(CAST(n_frames AS INT), 4), 1) AS BIGINT) AS frame_idx
  FROM meta, LATERAL unnest(range(0, LEAST(CAST(n_frames AS INT), 4))) AS u(i)),
sigs AS (SELECT doc_id, frame_idx, $sig AS sig FROM frames),
p AS (SELECT bit_count(xor(a.sig, b.sig)) AS dist
  FROM sigs a JOIN sigs b
    ON (a.doc_id, a.frame_idx) < (b.doc_id, b.frame_idx)
   AND bit_count(xor(a.sig, b.sig)) <= 1)
SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_pairs
FROM p GROUP BY dist"""
  }

  /** Oracle for `mm_frame_features`. The blob is unhex(md5(text)) — 16
    * bytes extracted here from the md5 hex digits. Float32 arithmetic
    * (`b/255.0f` accumulation in [[graft.operators.Multimodal.StubCodec]])
    * is emulated exactly: a 256-entry DOUBLE lut holds the exact values
    * of `(b/255.0f).toDouble`, and each slot's two-term float add is
    * `CAST(exact double sum AS REAL)` — bit-identical to JVM float
    * addition (both round the exact sum to nearest-even float32).
    */
  def mmFrameFeatures: String = {
    val lut = (0 to 255).map(b => s"CAST(${(b / 255.0f).toDouble} AS DOUBLE)")
      .mkString("[", ",", "]")
    def hexv(pos: Int) = s"(strpos('0123456789abcdef', substr(hx, $pos, 1)) - 1)"
    val bytes = (0 until 16).map(k => s"CAST(16 * ${hexv(2 * k + 1)} + ${hexv(2 * k + 2)} AS INT)")
      .mkString("[", ", ", "]")
    // slot s of frame f: contributions from byte indices (s-f) mod 8 and +8
    val slotSum = (0 until 8).map { s =>
      val i1 = s"((($s - frame_idx) % 8 + 8) % 8)"
      s"CAST(CAST(fl[$i1 + 1] + fl[$i1 + 9] AS REAL) AS DOUBLE)"
    }.mkString(" + ")
    s"""WITH lut AS (SELECT $lut AS l),
h AS (SELECT doc_id, md5(text) AS hx FROM documents),
bytes AS (SELECT doc_id, $bytes AS bl FROM h),
fb AS (SELECT doc_id, bl, list_transform(bl, b -> l[b + 1]) AS fl FROM bytes CROSS JOIN lut),
meta AS (SELECT doc_id, fl,
    CASE bl[1] % 4 WHEN 0 THEN 'img' WHEN 1 THEN 'audio' WHEN 2 THEN 'video' ELSE 'other' END AS format,
    CAST(1 + (bl[4] % 16) AS BIGINT) AS n_frames
  FROM fb),
frames AS (SELECT doc_id, fl, format, n_frames,
    CAST(u.i * GREATEST(CAST(n_frames AS INT) // LEAST(CAST(n_frames AS INT), 4), 1) AS BIGINT) AS frame_idx
  FROM meta, LATERAL unnest(range(0, LEAST(CAST(n_frames AS INT), 4))) AS u(i))
SELECT doc_id, frame_idx, round($slotSum, 6) AS feat_sum, format, n_frames
FROM frames"""
  }

  /** Oracle for `graph_kcore` — replays
    * [[graft.operators.Graph.kCore]] over the co-activity edges with
    * the peeling unrolled a fixed `rounds` times: the Spark side
    * THROWS unless the fixpoint is reached within its `maxIters`, and
    * a converged fixpoint is stable under further rounds, so the
    * fixed-round replay is exact whenever the gate is green at all.
    */
  def graphKCore(k: Int = 3, rounds: Int = 8, minCo: Int = 3): String = {
    val peel = (1 to rounds).map { i =>
      s"""d$i AS (SELECT e.src AS node, COUNT(*) AS deg
  FROM e JOIN a${i - 1} x ON x.node = e.src
  JOIN a${i - 1} y ON y.node = e.dst GROUP BY 1),
a$i AS (SELECT node FROM d$i WHERE deg >= $k)"""
    }.mkString(",\n")
    s"""WITH u AS (SELECT DISTINCT date_trunc('hour', ts) AS h, event_type AS et, user_id
  FROM events),
ed AS (SELECT a.user_id AS a, b.user_id AS b
  FROM u a JOIN u b ON a.h = b.h AND a.et = b.et AND a.user_id < b.user_id
  GROUP BY 1, 2 HAVING count(*) >= $minCo),
e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed UNION ALL SELECT b, a FROM ed),
a0 AS (SELECT DISTINCT src AS node FROM e),
$peel,
df AS (SELECT e.src AS node, COUNT(*) AS deg
  FROM e JOIN a$rounds x ON x.node = e.src
  JOIN a$rounds y ON y.node = e.dst GROUP BY 1)
SELECT node, CAST(deg AS BIGINT) AS core_deg FROM df"""
  }

  /** Oracle for `mm_frame_dedup` — replays
    * [[graft.operators.Multimodal.StubCodec.frameFingerprint]]: the
    * canonical `s:b,b,...,;` per-slot byte-list string (integers, never
    * floats) md5'd per sampled frame, then grouped across blobs with
    * the lexicographic (doc_id, frame_idx) canonical pick.
    */
  def mmFrameDedup: String = {
    def hexv(pos: Int) = s"(strpos('0123456789abcdef', substr(hx, $pos, 1)) - 1)"
    val bytes = (0 until 16).map(k => s"CAST(16 * ${hexv(2 * k + 1)} + ${hexv(2 * k + 2)} AS INT)")
      .mkString("[", ", ", "]")
    // 16-byte blobs: slot s of frame f draws exactly bytes i1 and i1+8,
    // i1 = ((s - f) mod 8), in ascending index order
    val canon = (0 until 8).map { s =>
      val i1 = s"((($s - frame_idx) % 8 + 8) % 8)"
      s"'$s:', CAST(bl[$i1 + 1] AS VARCHAR), ',', CAST(bl[$i1 + 9] AS VARCHAR), ',;'"
    }.mkString(", ")
    s"""WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
bytes AS (SELECT doc_id, $bytes AS bl FROM h),
meta AS (SELECT doc_id, bl, CAST(1 + (bl[4] % 16) AS INT) AS n_frames FROM bytes),
frames AS (SELECT doc_id, bl,
    CAST(u.i * GREATEST(n_frames // LEAST(n_frames, 4), 1) AS BIGINT) AS frame_idx
  FROM meta, LATERAL unnest(range(0, LEAST(n_frames, 4))) AS u(i)),
fpt AS (SELECT doc_id, frame_idx, md5(concat($canon)) AS fp FROM frames),
g AS (SELECT fp, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_doc
  FROM fpt GROUP BY fp),
g2 AS (SELECT f.fp, MIN(f.frame_idx) AS canonical_frame
  FROM fpt f JOIN g ON g.fp = f.fp AND f.doc_id = g.canonical_doc
  GROUP BY f.fp)
SELECT f.doc_id, f.frame_idx, f.fp, g.canonical_doc, g2.canonical_frame,
  g.n_copies,
  (f.doc_id = g.canonical_doc AND f.frame_idx = g2.canonical_frame) AS keep
FROM fpt f JOIN g ON g.fp = f.fp JOIN g2 ON g2.fp = f.fp"""
  }

  /** Oracle for `graph_pagerank` — [[graft.operators.Graph.pageRank]]
    * over [[graft.operators.Graph.purchaseGraph]], the recurrence
    * UNROLLED one CTE per iteration (the same finite-prefix trick as
    * [[embedPca]]: no recursive aggregation, linear SQL size in
    * `iters`). All arithmetic forced to DOUBLE (`e0` literals) so both
    * engines run the identical IEEE expression tree.
    */
  def graphPageRank(iters: Int = 5, damping: Double = 0.85): String = {
    val d = s"${damping}e0"
    val ranks = (1 to iters).map { i =>
      s"""r$i AS (SELECT nd.node,
  (1.0e0 - $d) / n.n + $d * COALESCE(c.s, 0.0e0) AS rank
  FROM nodes nd CROSS JOIN n
  LEFT JOIN (SELECT e.dst AS node, SUM(r.rank / d.deg) AS s
      FROM r${i - 1} r JOIN e ON e.src = r.node
      JOIN deg d ON d.src = r.node GROUP BY e.dst) c
    ON c.node = nd.node)"""
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT
    'c' || CAST(o_custkey AS VARCHAR) AS c,
    's' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
e AS MATERIALIZED (SELECT c AS src, s AS dst FROM pairs
  UNION ALL SELECT s, c FROM pairs),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
nodes AS MATERIALIZED (SELECT src AS node FROM deg),
n AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, 1.0e0 / n.n AS rank FROM nodes CROSS JOIN n),
$ranks
SELECT r.node, round(r.rank * n.n, 6) AS rank_norm
FROM r$iters r CROSS JOIN n"""
  }

  /** Oracle for `graph_hits` — [[graft.operators.Graph.hits]] over the
    * DIRECTED customer→supplier purchase edges, the recurrence unrolled
    * one CTE pair per iteration (same finite-prefix trick as
    * [[graphPageRank]]). Per-node sums and the per-side normalizer
    * accumulate the 6-dp scores as DECIMAL(25,12) — exact and
    * order-independent, as the Spark side's scaled-long sums
    * ([[graft.operators.ExactSum]]) — so only the final double division
    * is floating point in either engine.
    */
  def graphHits(iters: Int = 3): String = {
    val steps = (1 to iters).map { t =>
      s"""a${t}r AS (SELECT e.dst AS node, SUM(CAST(h.score AS DECIMAL(25,12))) AS r
  FROM e JOIN h${t - 1} h ON h.node = e.src GROUP BY e.dst),
a${t}t AS (SELECT SUM(r) AS tot FROM a${t}r),
a$t AS (SELECT node, round(CAST(r AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS score
  FROM a${t}r CROSS JOIN a${t}t),
h${t}r AS (SELECT e.src AS node, SUM(CAST(a.score AS DECIMAL(25,12))) AS r
  FROM e JOIN a$t a ON a.node = e.dst GROUP BY e.src),
h${t}t AS (SELECT SUM(r) AS tot FROM h${t}r),
h$t AS (SELECT node, round(CAST(r AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS score
  FROM h${t}r CROSS JOIN h${t}t)"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT
    'c' || CAST(o_custkey AS VARCHAR) AS src,
    's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS score FROM e),
$steps
SELECT node, 'hub' AS kind, score FROM h$iters
UNION ALL SELECT node, 'auth' AS kind, score FROM a$iters"""
  }
}
