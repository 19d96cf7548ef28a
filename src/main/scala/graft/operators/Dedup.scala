package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Corpus deduplication operators for training-data pipelines, each
  * designed around its 100 TB shuffle shape:
  *
  *  - exact: one hash-groupBy on an 8-byte fingerprint (minimum shuffle);
  *  - MinHash+LSH: shingle → k minhashes → band buckets → self-join
  *    *within buckets only* (candidate pairs, not O(n²));
  *  - SimHash: 64-bit signature, bucket by band for Hamming-near dups;
  *  - embedding near-dup: hyperplane-LSH buckets → in-bucket cosine.
  *
  * Everything is built-in expressions (hash/xxhash64/explode/groupBy) —
  * no UDFs — so signatures compute inside whole-stage codegen and the
  * only shuffles are the groupBys/joins listed above.
  */
object Dedup {

  /** Exact dedup: keep one representative (min of `idCol`) per distinct
    * normalized text. Representative choice is deterministic. The
    * groupBy key is the md5 fingerprint, not the text itself, so the
    * shuffle moves 32-byte keys rather than whole documents.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(contentFingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Sub-document exact dedup: split every document into fixed-size
    * token blocks, keep each distinct block's FIRST corpus occurrence
    * (min (doc, offset)), and reassemble the surviving text per
    * document — the block-granular approximation of exact-substring
    * training-data dedup (boilerplate headers/footers repeated across
    * pages vanish from every copy but the first).
    *
    * Shuffle shape at 100 TB: block fingerprints are md5 (32-byte keys,
    * not text) and the keep-first window partitions BY FINGERPRINT, so
    * each window group is one block's duplicate set (bounded by dup
    * multiplicity, never corpus-sized); reassembly groups by document
    * (bounded by blocks-per-doc). Block slicing itself is a pure
    * projection — `sequence`/`slice`/`array_join` inside codegen, no
    * explode-then-regroup round trip for the common path.
    */
  def blockDedup(docs: DataFrame, blockSize: Int,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        transform(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)), lit(blockSize)),
          s => struct(s.cast("long").as("bstart"),
            array_join(slice(col("__toks"), s + 1, lit(blockSize)), " ").as("btext")))
          .as("__blocks"))
      .select(col(idCol), explode(col("__blocks")).as("b"))
      .select(col(idCol), col("b.bstart").as("bstart"), col("b.btext").as("btext"),
        md5(col("b.btext")).as("fp"))
    val keepFirst = Window.partitionBy(col("fp"))
      .orderBy(col(idCol), col("bstart"))
    val flagged = blocks.withColumn("__rn", row_number().over(keepFirst))
    flagged
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__rn") === 1,
              struct(col("bstart"), col("btext"))))),
            b => b.getField("btext")),
          " ").as("text_dedup"))
  }

  /** Deterministic per-salt 64-bit constant (splitmix64 of the index),
    * computed driver-side.
    */
  private def saltConst(i: Int): Long = {
    var z = i.toLong + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** k independent bijective mixes of one base hash: rotate-left by a
    * per-i amount, then xor a per-i constant. No long multiplication —
    * Spark 4 runs ANSI mode where integer overflow throws — and only
    * one expensive string-hash pass is needed upstream.
    */
  private def mixed(h: Column, i: Int): Column = {
    val r = (i * 23 + 17) % 63 + 1
    shiftleft(h, r).bitwiseOR(shiftrightunsigned(h, 64 - r))
      .bitwiseXOR(lit(saltConst(i)))
  }

  /** MinHash signature from a materialized `array<bigint>` of shingle
    * hashes: mh_i = min over shingles of mix_i(hash). The shingle set is
    * string-hashed ONCE (xxhash64); the k "hash functions" are cheap
    * integer permutations of that base hash — the standard one-pass
    * minhash trick.
    *
    * IMPORTANT: pass a *column reference* to an already-projected hash
    * column, not the expression itself — otherwise the (expensive)
    * shingling/hashing subtree is duplicated into all k fields.
    */
  def minHashSignature(shingleHashes: Column, k: Int): Column =
    struct((0 until k).map { i =>
      coalesce(
        array_min(transform(shingleHashes, h => mixed(h, i))),
        lit(Long.MaxValue)).as(s"mh$i")
    }: _*)

  /** MinHash + LSH near-dup candidate pairs: documents sharing at least
    * one LSH band. `bands × rowsPerBand = k`. Returns (id_a, id_b,
    * jaccard_est) with id_a < id_b, jaccard_est = fraction of equal
    * minhashes.
    *
    * Plan shape: shingle+sign (no shuffle) → explode bands (×bands) →
    * shuffle on band hash (the ONLY big shuffle) → in-bucket pairs →
    * distinct. Bucket sizes are bounded in practice; a skewed bucket
    * (e.g. empty-doc signature) is capped by `maxBucket`.
    */
  def minHashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        shingleLen: Int = 5, bands: Int = 4, rowsPerBand: Int = 4,
                        maxBucket: Int = 1000): DataFrame =
    // native one-pass kernel: normalize + shingle + hash + k minhashes
    // in a single codegen'd call per row (see ShingleKernels)
    minHashCandidatesFromHashes(
      docs.select(col(idCol).as("id"),
        graft.functions.native.char_shingle_hashes(col(textCol), shingleLen).as("hs")),
      bands, rowsPerBand, maxBucket)

  /** [[minHashCandidates]] over an ALREADY-SHINGLED `(id, hs:
    * array<bigint>)` relation — the sharing point when several
    * pipelines (LSH candidates, exact ground truth, containment) need
    * the same shingle sets: persist the hashed relation once and feed
    * each consumer, instead of re-scanning and re-shingling the corpus
    * per pipeline.
    */
  def minHashCandidatesFromHashes(hashed: DataFrame,
                                  bands: Int = 4, rowsPerBand: Int = 4,
                                  maxBucket: Int = 1000): DataFrame = {
    val k = bands * rowsPerBand
    val signed = hashed
      .select(col("id"), graft.functions.native.minhashes(col("hs"), k).as("__mh"))
      .select(col("id"),
        struct((0 until k).map(i => element_at(col("__mh"), i + 1).as(s"mh$i")): _*).as("sig"))
    // the band key is the exact minhash tuple (not a hash of it): the
    // 32-byte tuple key widens the exchange vs a 4-byte int hash — the
    // accepted cost for zero false-positive bucket collisions and a
    // bucketing the oracle can reproduce exactly
    val banded = signed.select(
      col("id"), col("sig"),
      posexplode(array((0 until bands).map { b =>
        struct((0 until rowsPerBand).map(j =>
          col(s"sig.mh${b * rowsPerBand + j}").as(s"k$j")): _*)
      }: _*)).as(Seq("band", "bucket")))
    // cap pathological buckets so a degenerate key can't go quadratic —
    // bucket sizes via a map-side-combinable aggregate + survivor join
    // (a count-over-window here would sort-shuffle the whole banded
    // relation and buffer each hot bucket in one partition)
    val capped = banded.join(
      banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") <= maxBucket)
        .select(col("band"), col("bucket")),
      Seq("band", "bucket"))
    val a = capped.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = capped.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        ((0 until k).map(i =>
          when(col(s"sig_a.mh$i") === col(s"sig_b.mh$i"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / k).as("jaccard_est"))
      .distinct()
  }

  /** Incremental near-dup ADMISSION — dedup an incoming batch against
    * an existing corpus without re-pairing existing×existing: pairs
    * form only on buckets the incoming side touches, and an incoming
    * doc is admitted iff no candidate partner precedes it (any existing
    * doc, or an incoming doc with a smaller id — first-wins within the
    * batch). The production shape of continuous ingestion dedup, where
    * the existing side's banded signatures are a stored index
    * maintained across ingests rather than recomputed.
    *
    * Scale shape: one band-keyed shuffle exactly like
    * [[minHashCandidates]], but the pair join's probe side is the
    * INCOMING buckets only — join output scales with the batch, not
    * corpus²; existing signatures stream through the exchange without
    * ever joining each other. Bucket caps apply to the union (a stored
    * index would cap its buckets the same way).
    */
  def minHashAdmit(existing: DataFrame, incoming: DataFrame,
                   textCol: String, idCol: String,
                   shingleLen: Int = 5, bands: Int = 4, rowsPerBand: Int = 4,
                   maxBucket: Int = 1000): DataFrame = {
    val k = bands * rowsPerBand
    def sigs(docs: DataFrame, isNew: Boolean) = docs
      .select(col(idCol).as("id"),
        graft.functions.native.minhashes(
          graft.functions.native.char_shingle_hashes(col(textCol), shingleLen), k).as("__mh"))
      .select(col("id"), lit(isNew).as("__new"),
        struct((0 until k).map(i => element_at(col("__mh"), i + 1).as(s"mh$i")): _*).as("sig"))
    val signed = sigs(existing, isNew = false).unionByName(sigs(incoming, isNew = true))
    val banded = signed.select(
      col("id"), col("__new"),
      posexplode(array((0 until bands).map { b =>
        struct((0 until rowsPerBand).map(j =>
          col(s"sig.mh${b * rowsPerBand + j}").as(s"k$j")): _*)
      }: _*)).as(Seq("band", "bucket")))
    val capped = banded.join(
      banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") <= maxBucket)
        .select(col("band"), col("bucket")),
      Seq("band", "bucket"))
    // admission rule: an incoming doc drops when it shares a bucket
    // with ANY existing doc (regardless of id order — the corpus was
    // there first) or with a LOWER-id incoming doc (one canonical
    // survivor per incoming dup set). A plain id_a < id_b filter would
    // silently ADMIT a duplicate of an existing doc with a larger id.
    val dupIncoming = capped.select(col("band"), col("bucket"),
        col("id").as("id_a"), col("__new").as("__new_a"))
      .join(capped.filter(col("__new")).select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter((!col("__new_a") && col("id_a") =!= col("id_b")) ||
        (col("__new_a") && col("id_a") < col("id_b")))
      .select(col("id_b").as("id")).distinct()
    incoming.select(col(idCol).cast("long").as("doc_id"))
      .join(dupIncoming.withColumn("__dup", lit(true)),
        col("doc_id") === col("id"), "left")
      .select(col("doc_id"), col("__dup").isNull.as("keep"))
  }

  /** SimHash 64-bit signature from a materialized token-hash array:
    * bit j of the signature = sign of Σ_tokens (±1 depending on bit j
    * of xxhash64(token)). 64 fold sums via `aggregate` — no explode,
    * no shuffle. Pass a *column reference* (see [[minHashSignature]]).
    */
  def simHash64FromHashes(hashes: Column): Column = {
    val bits: Seq[Column] = (0 until 64).map { j =>
      val s = aggregate(hashes, lit(0),
        (acc, h) => acc + when(h.bitwiseAND(lit(1L << j)) =!= 0L, 1).otherwise(-1))
      when(s > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce((x, y) => x.bitwiseOR(y))
  }

  /** SimHash 64-bit signature of a text column (tokenize → hash →
    * [[simHash64FromHashes]]).
    */
  def simHash64(textCol: Column): Column =
    simHash64FromHashes(transform(tokens(lower(textCol)), t => xxhash64(t)))

  /** SimHash near-dup candidates: split the 64-bit signature into
    * `bands` chunks; docs sharing any chunk are candidates (guarantees
    * catching Hamming distance < bands). Returns pairs with their
    * Hamming distance ≤ `maxHamming`.
    */
  def simHashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    val chunk = 64 / bands
    // native one-pass kernel: tokenize + hash + 64 bit-sums per row
    val signed = docs.select(col(idCol).as("id"),
      graft.functions.native.simhash64(
        graft.functions.native.token_hashes(col(textCol))).as("sig"))
    val banded = signed.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map { b =>
        shiftrightunsigned(col("sig"), b * chunk)
          .bitwiseAND(lit((1L << chunk) - 1))
      }: _*)).as(Seq("band", "chunk")))
    val a = banded.select(col("band"), col("chunk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** N-gram Jaccard near-dup pairs within LSH candidate buckets — the
    * exact-verify stage after [[minHashCandidates]]: re-checks candidate
    * pairs against true shingle-set Jaccard. Shingle sets are
    * represented by their native 64-bit hash arrays (one kernel pass
    * per doc; `array_intersect` on 8-byte longs instead of shingle
    * strings — same set semantics modulo negligible hash collisions).
    */
  def jaccardVerify(candidates: DataFrame, docs: DataFrame,
                    textCol: String, idCol: String,
                    shingleLen: Int = 5, threshold: Double = 0.7): DataFrame = {
    // cache the candidate pairs (the LSH band-join subtree would
    // otherwise re-run for each use below — lazy, evictable persist
    // rather than an eager checkpoint, so building the plan stays
    // side-effect-free), then shingle only documents that appear in
    // some pair: after LSH pruning that set is a small fraction of the
    // corpus, so the (expensive) shingle kernel runs over candidates,
    // not 100 TB
    val cands = candidates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inPairs = cands.select(col("id_a").as("__jid"))
      .union(cands.select(col("id_b"))).distinct()
    val sh = docs.select(col(idCol).as("__jid"),
      col(textCol))
      .join(inPairs, Seq("__jid"), "left_semi")
      .select(col("__jid"),
        graft.functions.native.char_shingle_hashes(col(textCol), shingleLen).as("__sh"))
    val out = cands
      .join(sh.withColumnRenamed("__jid", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("__jid", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // pin the (dup-set-bounded) verified pairs, release the candidate
    // pin — repeated verify calls must not accumulate cached subtrees
    Eval.pinAndRelease(out, cands)
  }

  /** Embedding-cosine near-dup pairs: hyperplane-LSH bucket join, then
    * exact cosine within buckets. At 100 TB the bucket count is tuned so
    * the in-bucket cross product stays small; multi-probe = union over
    * several seeds.
    */
  def embeddingNearDup(embs: DataFrame, vecCol: String, idCol: String,
                       dim: Int, bits: Int = 12, threshold: Double = 0.95): DataFrame = {
    val bucketed = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.hyperplaneBucket(col(vecCol), dim, bits).as("bucket"))
    val a = bucketed.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      // 6-dp rounding BEFORE the threshold filter: deterministic,
      // engine-portable boundary behavior
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** Winnowing-fingerprint near-dup candidates: docs sharing at least
    * `minShared` selected fingerprints ([[graft.functions.native
    * .winnow_fingerprints]]) — the copy-detection complement of
    * MinHash-LSH: winnowing GUARANTEES a shared fingerprint for any
    * verbatim overlap ≥ n+w−1 chars, so candidate recall on verbatim
    * reuse (boilerplate, quoting, mirrored pages) is exact rather than
    * probabilistic.
    *
    * Scale shape: one codegen'd kernel pass selects ~2/(w+1) of the
    * shingles per doc; pairs form by a self-equi-join keyed on the
    * FINGERPRINT (like the LSH band join — never all-pairs), with
    * degenerate fingerprints (> `maxDocsPerFp` docs — ubiquitous
    * boilerplate) dropped before pairing, bounding any one join key's
    * fan-out.
    */
  def winnowCandidates(docs: DataFrame, textCol: String, idCol: String,
                       n: Int = 15, w: Int = 10,
                       minShared: Int = 2, maxDocsPerFp: Int = 100): DataFrame = {
    val fps = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(graft.functions.native.winnow_fingerprints(col(textCol), n, w)).as("sh"))
    // Per-fingerprint doc counts via a map-side-combinable aggregate,
    // then join the survivors back — a count-over-window here would
    // sort-shuffle the whole exploded relation and buffer every hot
    // fingerprint's rows in one partition, exactly the boilerplate
    // fan-out `maxDocsPerFp` exists to bound.
    val keepFp = fps.groupBy(col("sh")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") <= maxDocsPerFp)
      .select(col("sh"))
    val capped = fps.join(keepFp, "sh")
    capped.select(col("doc_id").as("id_a"), col("sh"))
      .join(capped.select(col("doc_id").as("id_b"), col("sh")), "sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Containment verify over candidate pairs: exact OVERLAP COEFFICIENT
    * `|A∩B| / min(|A|,|B|)` on the full distinct-shingle sets —
    * the asymmetric-dup detector Jaccard misses (a short document
    * embedded verbatim in a much longer one scores ~1.0 here but low
    * on Jaccard, because the union is dominated by the long side).
    * Empty-vs-empty scores 1.0, mirroring
    * [[graft.functions.TextFunctions.jaccard]]'s union convention.
    *
    * Same scale shape as [[jaccardVerify]]: candidates persisted once,
    * the shingle kernel gated by a left-semi join to documents that
    * appear in some pair.
    */
  def containmentVerify(candidates: DataFrame, docs: DataFrame,
                        textCol: String, idCol: String,
                        shingleLen: Int = 5, threshold: Double = 0.8): DataFrame = {
    val cands = candidates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inPairs = cands.select(col("id_a").as("__jid"))
      .union(cands.select(col("id_b"))).distinct()
    val sh = docs.select(col(idCol).as("__jid"), col(textCol))
      .join(inPairs, Seq("__jid"), "left_semi")
      .select(col("__jid"),
        graft.functions.native.char_shingle_hashes(col(textCol), shingleLen).as("__sh"))
    val out = cands
      .join(sh.withColumnRenamed("__jid", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("__jid", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        overlapCoefficient(col("sh_a"), col("sh_b")).as("containment"))
      .filter(col("containment") >= threshold)
    Eval.pinAndRelease(out, cands) // same hygiene as jaccardVerify
  }

  /** Exact set-similarity self-join via MULTI-WITNESS prefix filtering
    * (prefix filter: Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07;
    * the k-witness extension: Wang et al. SIGMOD'12 "Can we beat the
    * prefix filtering?"): every pair with shingle-set Jaccard ≥
    * `threshold` — EXACT recall, no MinHash-style probabilistic gap —
    * without ever forming the all-pairs product.
    *
    * Shingles are densely re-encoded as vocabulary ids assigned in
    * (corpus document frequency asc, shingle asc) order
    * ([[Corpus.globalIds]] over the vocab — bounded, never
    * corpus-sized), so `sort_array` alone yields the rarest-first
    * order and all joins/intersections run on longs, not strings.
    *
    * Witness theorem: if |a∩b| ≥ α then the (n−α+k)-prefixes share ≥ k
    * elements; with per-doc prefix length `min(n, n − ⌈t·n⌉ + c)` a
    * valid pair must share ≥ min(c, α_pair) prefix ids, where
    * α_pair = ⌈t/(1+t)·(nₐ+n_b)⌉ is the overlap jaccard ≥ t forces.
    * Candidates therefore come from an equi-join on prefix ids
    * REDUCED TO A COUNT (map-side-combinable groupBy — no arrays, no
    * DISTINCT over wide rows), length-filtered (n_b ∈ [t·nₐ, nₐ/t]),
    * and thresholded on the witness count. On a small-vocabulary
    * corpus (where the classic c=1 prefix filter degenerates to
    * near-all-pairs — two random ~300-shingle docs over a 2k vocab
    * share ~40 shingles by chance) c=64 cuts candidates from ~11M to
    * within ~30% of the true result set, because chance co-occurrence
    * of 64 of the rarest shingles is vanishing; on a Zipfian corpus
    * the longer prefix costs a modestly larger index join, which the
    * counting aggregate absorbs. The verify stage attaches the full
    * int arrays ONLY to surviving pairs and checks the exact raw
    * ratio i/(nₐ+n_b−i) ≥ t (two exact ints divided —
    * engine-portable); the 6-dp rounding is output formatting.
    *
    * Shuffles at 100 TB: vocab-sized df groupBy + id assignment, one
    * regroup by doc, one prefix-id equi-join feeding a partial-agg
    * count, one bounded verify join — never O(n²), and the only wide
    * shuffle (full arrays) moves candidate pairs alone. Docs with an
    * empty shingle set (shorter than `shingleLen`) have no prefix and
    * are excluded from pairing.
    */
  def prefixFilterPairs(docs: DataFrame, textCol: String, idCol: String,
                        shingleLen: Int = 5, threshold: Double = 0.5,
                        witnesses: Int = 64, nParts: Int = 32): DataFrame =
    prefixPairsFromTok(
      docs
        .select(col(idCol).cast("long").as("id"), normalizeWs(col(textCol)).as("__norm"))
        .select(col("id"), explode(charShinglesOf(col("__norm"), shingleLen)).as("t")),
      threshold, witnesses, nParts)

  /** [[prefixFilterPairs]] over an ALREADY-SHINGLED `(id, hs:
    * array<bigint>)` relation (distinct shingle HASHES, e.g.
    * [[graft.functions.native.char_shingle_hashes]]) — same exact
    * prefix-filter algorithm with the 64-bit hash standing in for the
    * shingle string. The output pair set and jaccard values are
    * IDENTICAL to the string form (the result is invariant to the
    * vocabulary bijection; the dictionary order merely permutes
    * candidate generation) modulo negligible 64-bit hash collisions —
    * the same trade [[jaccardVerify]] documents. Lets one persisted
    * shingle relation feed both the LSH candidate pipeline and this
    * exact ground truth (`dedup_lsh_eval`).
    */
  def prefixFilterPairsFromHashes(hashed: DataFrame, threshold: Double = 0.5,
                                  witnesses: Int = 64, nParts: Int = 32): DataFrame =
    prefixPairsFromTok(hashed.select(col("id"), explode(col("hs")).as("t")),
      threshold, witnesses, nParts)

  /** Shared tail of the prefix-filter join: `tok` is one row per (doc
    * id, distinct shingle), shingle typed string OR long.
    */
  private def prefixPairsFromTok(tok: DataFrame, threshold: Double,
                                 witnesses: Int, nParts: Int): DataFrame = {
    require(witnesses >= 1, "witnesses must be >= 1")
    // All bounds below run in INTEGER arithmetic on the rational
    // t = p/q (q = 1e6 grid): double `ceil` of a product can round up
    // past an exact integer boundary for thresholds where t or t/(1+t)
    // is non-representable, overshooting the bound and silently
    // dropping boundary-valid pairs (round-6 advice). Identities used:
    //   nb >= ceil(na*t)            <=>  nb*q >= na*p        (nb integer)
    //   w  >= ceil((na+nb)*t/(1+t)) <=>  w*(p+q) >= (na+nb)*p
    //   ceil(n*t) = (n*p + q-1) div q                        (exact)
    val q = 1000000L
    val pRaw = math.round(threshold * q)
    require(math.abs(threshold * q - pRaw) < 1e-6,
      s"threshold must lie on the 1e-6 grid, got $threshold")
    val g = java.math.BigInteger.valueOf(pRaw)
      .gcd(java.math.BigInteger.valueOf(q)).longValueExact()
    val (tp, tq) = (pRaw / g, q / g)
    // shingle sets are distinct per doc, so count(*) = document frequency
    val dfreq = tok.groupBy(col("t")).agg(count(lit(1)).as("__df"))
    val (dictIds, dictPin) = Corpus.globalIdsPinned(dfreq, Seq("__df", "t"), nParts)
    val dict = dictIds.select(col("t"), col("global_id").as("tid"))
    val ordered = tok.join(dict, "t")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("tid"))).as("toks"))
      .withColumn("n", size(col("toks")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ceilNt = expr(
      s"(n * CAST($tp AS BIGINT) + CAST(${tq - 1} AS BIGINT)) div CAST($tq AS BIGINT)")
    val lim = least(col("n").cast("long"), col("n") - ceilNt + witnesses).cast("int")
    val prefix = ordered.select(col("id"), col("n"),
      explode(slice(col("toks"), lit(1), lim)).as("tid"))
    val cands = prefix.select(col("tid"), col("id").as("id_a"), col("n").as("na"))
      .join(prefix.select(col("tid"), col("id").as("id_b"), col("n").as("nb")), "tid")
      .filter(col("id_a") < col("id_b") &&
        col("nb").cast("long") * tq >= col("na").cast("long") * tp &&
        col("na").cast("long") * tq >= col("nb").cast("long") * tp)
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("__w"))
      .filter(col("__w") >= witnesses.toLong ||
        col("__w") * (tp + tq) >= (col("na") + col("nb")).cast("long") * tp)
    val out = cands
      .join(ordered.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(ordered.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("__i", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(col("__i") * tq >=
        (col("na") + col("nb")).cast("long").minus(col("__i")) * tp)
      .select(col("id_a"), col("id_b"),
        round(col("__i").cast("double") / (col("na") + col("nb") - col("__i")), 6)
          .as("jaccard"))
    // pin the (dup-set-bounded) pair result, release the corpus-sized
    // ordered-token and dictionary pins — repeated invocations (bench
    // passes, lsh_eval's double use) must not accumulate full-corpus
    // cached relations
    Eval.pinAndRelease(out, ordered, dictPin)
  }

  /** Adaptive cluster count for [[semanticDedup]]:
    * k = max(kMin, ⌈n / targetCellSize⌉), clamped to Int range.
    */
  def chooseK(n: Long, targetCellSize: Int, kMin: Int): Int =
    math.min(
      math.max(kMin.toLong, (n + targetCellSize - 1) / targetCellSize),
      Int.MaxValue.toLong).toInt

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    * embeddings, then WITHIN each cluster drop every vector that has a
    * lower-id neighbor above the cosine threshold — one representative
    * survives per tight semantic group, without any cross-cluster
    * comparison. Output: one row per vector with its cluster and the
    * keep/drop verdict.
    *
    * Scale shape: the clustering bounds the quadratic step — pairs are
    * formed by a self-equi-join on `cell_id` (shuffle keyed by cell,
    * never corpus × corpus). With k ≤ 0 (the default) k GROWS WITH THE
    * INPUT — k = max(kMin, ⌈N / targetCellSize⌉), one bounded count()
    * — so expected cell size stays ~targetCellSize and the in-cell
    * O(Σ|cell|²) pairing cannot re-become quadratic as the corpus
    * scales (round-6 advice: a constant k means cells grow linearly
    * with N). Pass an explicit k > 0 to pin the paper's fixed-k shape.
    * The drop rule is an EXISTS against the pair set — no transitive
    * closure, so no iteration.
    */
  def semanticDedup(embs: DataFrame, vecCol: String, idCol: String,
                    k: Int = 0, iters: Int = 2,
                    threshold: Double = 0.7,
                    targetCellSize: Int = 64, kMin: Int = 8): DataFrame = {
    require(targetCellSize >= 1 && kMin >= 1, "cell size and kMin must be >= 1")
    // assignment WITH vectors (round-13): the slim-label form re-scanned
    // and re-rounded the source and shuffle-joined it back by id — two
    // exchanges and a scan that existed only to recover the vectors the
    // fit already held. members is also partitioned by cell_id ONCE and
    // persisted, so (a) the within-cell self-join below reads both sides
    // from the same at-rest layout with no exchange, and (b) the
    // dropped-side subtree and the final readout no longer each
    // recompute the assignment join. The adaptive k comes from the row
    // count the fit's block build takes anyway.
    val (assigned, vecs) = KMeans.sphericalKMeansWithVecs(embs, vecCol, idCol,
      k = n => if (k > 0) k else chooseK(n, targetCellSize, kMin), iters = iters)
    val members =
      try Eval.pinAndRelease(
        assigned.select(col("cell_id"), col("vec_id").as("id"), col("v")).repartition(col("cell_id")))
      finally vecs.unpersist(blocking = false)
    val dropped = members.select(col("cell_id"), col("id").as("id_a"), col("v").as("v_a"))
      .join(members.select(col("cell_id"), col("id").as("id_b"), col("v").as("v_b")),
        Seq("cell_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")), 6)
        >= threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("__dup", lit(true))
    members.join(dropped, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cell_id"),
        coalesce(!col("__dup"), lit(true)).as("keep"))
  }
}
