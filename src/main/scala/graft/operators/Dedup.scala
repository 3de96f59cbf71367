package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.functions.expr.GraftFunctions

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every near-dup variant is LSH-blocked — candidates come
  * from a groupBy/join on band keys (O(n) shuffle on small keys), never an
  * all-pairs cross join. Bucket sizes are capped (`maxBucket`) so one
  * degenerate key (e.g. the empty document) cannot produce a quadratic
  * bucket on a 100 TB corpus; at that scale the capped buckets are exactly
  * the boilerplate/spam you'd drop anyway.
  *
  * Cache note: the near-dup variants persist(MEMORY_AND_DISK) their
  * multi-consumer intermediates (shingles, prefixes, band rows) so the
  * expensive kernels run once per invocation, not once per join side.
  * The returned frame is lazy and still reads those intermediates, so
  * they cannot be unpersisted inside the operator. Nor can a caller
  * safely unpersist "its own" frames: Spark's CacheManager merges
  * persists of equal plans into one entry, so two invocations over the
  * same input (say ngramJaccard and ngramContainment, which shingle it
  * identically) share their `docs` entry, and one caller's unpersist
  * drops the other's mid-job. The caller frees the intermediates with
  * `spark.catalog.clearCache()` at a barrier it owns, once its results
  * are materialized and no graft query is running on the session (or
  * writes the shingle table out once, the real 100 TB shape).
  */
object Dedup {

  /** Ensure the expensive per-document kernels (shingling, signatures)
    * run with full parallelism: a small/single-file scan arrives as one
    * partition, which would funnel the whole corpus through one task. A
    * well-partitioned input (the 100 TB case) passes through untouched —
    * no extra exchange.
    */
  private def spread(df: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // a plan with an exchange upstream is already distributed at
    // shuffle-partition width — and touching .rdd on it under AQE would
    // EXECUTE those exchanges just to count partitions; only probe the
    // partition count for shuffle-free (scan-shaped) plans, where .rdd is
    // a file-listing no-op
    val shuffled = df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Distinct | _: Window | _: Sort |
           _: RepartitionOperation => true
      case _ => false
    }
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (shuffled) df
    else if (df.rdd.getNumPartitions < target) df.repartition(col(idCol))
    else df
  }

  /** Shuffle width for the candidate-pair stages of the similarity joins.
    * The pin exists ONLY to keep per-partition candidate state out of the
    * spill regime when the session width is tiny relative to the corpus —
    * NOT to out-schedule AQE: the round-8 sf1 probe measured the pinned
    * width as a 2-5× pessimization at 50k docs on local[32] (ngram 28s
    * pinned-250 vs 5.2s session-32; minhash 13.7 vs 4.1; simhash 8.8 vs
    * 2.0), because the candidate path now shuffles 8-byte tokens (round-7
    * kernel change) and 32 AQE-managed partitions carry 50k docs without
    * spilling, while an explicit repartition disables AQE coalescing and
    * adds a full extra exchange. So the divisor targets the SPILL
    * threshold, not task granularity: one partition per 20k corpus rows
    * (~50 prefix tokens × 40 B × 20k ≈ 40 MB of candidate state), i.e.
    * the pin only fires when a partition would otherwise hold well past
    * that. Explicit `numPartitions` wins; otherwise an exact ROW COUNT
    * from the caller is authoritative, with the optimizer's byte
    * estimate only as the fallback when no count was taken — never
    * overriding a real count, since derived plans can carry inflated (or
    * Long.MaxValue) size stats. Floored at the session width (a cluster
    * sizes spark.sql.shuffle.partitions to its cores; that remains the
    * primary scale signal), capped at 4096 so a wild estimate can't
    * explode the stage.
    */
  private[graft] def adaptiveWidth(df: DataFrame, explicit: Option[Int],
      rowCount: Option[Long] = None): Int =
    explicit.getOrElse {
      val session = df.sparkSession.sessionState.conf.numShufflePartitions
      // an exact row count is authoritative when the caller measured one:
      // the optimizer byte estimate can be wildly inflated (join-product
      // stats, or Long.MaxValue when stats are unknown) and must not
      // override it — it is only the fallback signal for callers that
      // cannot afford a count
      val data = rowCount match {
        case Some(n) => math.min(4096L, n / 20000L).toInt
        case None =>
          val bytes =
            try df.queryExecution.optimizedPlan.stats.sizeInBytes
            catch { case scala.util.control.NonFatal(_) => BigInt(0) }
          (bytes / (64L << 20)).min(BigInt(4096)).toInt
      }
      math.max(session, data)
    }

  /** Exact dedup: keep the lowest id per sha2(content) group. Hash-based
    * groupBy shuffles only (hash, id) pairs, not the documents.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), sha2(col(textCol), 256).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup after text normalization (lower-case, collapse runs of
    * whitespace, trim): catches the near-trivial duplicates — casing and
    * spacing variants — that byte-exact hashing misses, at the same
    * hash-groupBy cost. The normalization every real pipeline applies
    * before content hashing.
    */
  def exactNormalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      sha2(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), 256).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Survivor set of exact dedup: all rows whose id is a keeper. */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exact(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, idCol) // broadcast-able when dup rate is high
  }

  /** Candidate pairs sharing >=1 LSH band of a MinHash signature, verified
    * by exact shingle-set Jaccard >= `threshold`. Returns (a, b, jaccard)
    * with a < b, deterministic.
    */
  def minhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucket: Int = 1000,
      numPartitions: Option[Int] = None,
      onStats: DedupStats => Unit = _ => ()): DataFrame = {
    val rows = numHashes / bands
    // sorted shingles: verification uses the linear-merge intersect kernel
    val docs = spread(df, idCol).select(
      col(idCol).as("id"),
      H.shingles(col(textCol), shingleSize).as("sh"))
      .withColumn("sz", size(col("sh")))
      // native codegen kernel: one base hash + k multiply-adds per shingle
      .withColumn("sig", GraftFunctions.minhashSignature(col("sh"), numHashes))
      // shingling is the expensive stage and this frame feeds the band
      // index plus BOTH sides of the verify join — materialize it once
      // (the 100 TB pipeline writes this table out; in-session, persist)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // width count runs on the PERSISTED projection (materializing it into
    // cache), so a derived/expensive upstream plan is not executed an
    // extra time just to size the candidate stage
    val width = adaptiveWidth(df, numPartitions,
      rowCount = if (numPartitions.isEmpty) Some(docs.count()) else None)
    // band rows carry ONLY (id, band, key): the wide shingle arrays never
    // enter the candidate-generation shuffle
    val banded = docs.select(col("id"),
      explode(H.lshBandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    val pairs = pairsFromBuckets(banded, maxBucket, width, onStats)
    verifyJaccard(pairs, docs, threshold)
  }

  /** SimHash near-dup: 64-bit signatures, banded into `bands` bit-slices
    * (two docs within hamming < bands MUST share a band — pigeonhole), then
    * exact hamming <= maxHamming verification via one codegen'd
    * bit_count(xor). Candidate pairs are bucket-capped: a degenerate band
    * key (e.g. the shared signature slice of near-empty docs) is dropped
    * before the self-join instead of going quadratic.
    */
  def simhash(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4, maxBucket: Int = 1000,
      portableHash: Boolean = false,
      numPartitions: Option[Int] = None,
      onStats: DedupStats => Unit = _ => ()): DataFrame = {
    // portableHash: md5-derived token hashes so the whole signature (and
    // therefore the hamming-pair set) is replayable in DuckDB oracle SQL;
    // production keeps the ~3x cheaper xxh64 path (identical plan/spans)
    val docs = spread(df, idCol).select(col(idCol).as("id"),
      GraftFunctions.simhash64(T.tokens(col(textCol)), portableHash).as("sig"))
      // consumed 3x (band index + both sides of the hamming verify join):
      // persist so the tokenize+simhash kernel runs once per invocation
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // width count runs on the persisted narrow projection, not the raw
    // input — a derived upstream plan must not execute an extra time
    val width = adaptiveWidth(df, numPartitions,
      rowCount = if (numPartitions.isEmpty) Some(docs.count()) else None)
    val banded = docs.select(col("id"),
      explode(H.simhashBands(col("sig"), bands)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    val pairs = pairsFromBuckets(banded, maxBucket, width, onStats)
    pairs
      .join(docs.select(col("id").as("a"), col("sig").as("a_sig")), "a")
      .join(docs.select(col("id").as("b"), col("sig").as("b_sig")), "b")
      .withColumn("hamming", H.hamming64(col("a_sig"), col("b_sig")))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
      .orderBy("a", "b")
  }

  /** Exact n-gram Jaccard similarity join via prefix filtering (AllPairs /
    * PPJoin, Bayardo et al. WWW'07; Xiao et al. WWW'08): under a global
    * shingle order (ascending document frequency), two sets with
    * Jaccard >= t must share a shingle within their length-
    * (|d| - ceil(t*|d|) + 1) prefixes — so only prefix shingles are
    * indexed, which collapses the inverted-index join on corpora whose
    * frequent shingles would otherwise produce quadratic buckets.
    * Candidates are then verified with one exact set-Jaccard per pair.
    */
  def ngramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5,
      numPartitions: Option[Int] = None): DataFrame = {
    val session = df.sparkSession.sessionState.conf.numShufflePartitions
    val docs = spread(df, idCol).select(col(idCol).as("id"),
      H.shingles(col(textCol), shingleSize).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      // reused by the inverted index and BOTH sides of the verify join;
      // without this the shingle kernel runs 3x over the corpus
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // width count runs on the persisted shingle projection (materializing
    // it into cache) — compressed text parquet is far too small on disk
    // for a bytes-only estimate, and a derived upstream plan must not
    // execute an extra time just for the count
    val width = adaptiveWidth(df, numPartitions,
      rowCount = if (numPartitions.isEmpty) Some(docs.count()) else None)
    // the whole index/prefix/candidate path runs on 8-byte xxhash64 tokens
    // instead of shingle strings: docfreq, the prefix re-group and the
    // self-join all shuffle/compare longs. A hash collision merges two
    // shingles into one token, which can only ADD candidates (the global
    // rarity order stays total, prefixes stay a superset) — the exact
    // array verify below filters them, so exactness is preserved.
    val inv = docs.select(col("id"), col("sz"),
      explode(col("sh")).as("shs"))
      .select(col("id"), col("sz"), xxhash64(col("shs")).as("shingle"))
    val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("docfreq"))
      .filter(col("docfreq") >= 2) // singleton shingles can't produce a pair
    // per-doc prefix selected WITHIN the row (array_sort + slice) instead of
    // a row_number window: the re-group by id still shuffles, but there is
    // no per-partition sort of the whole inverted index, and the rarity
    // order is computed on each doc's own shingles only
    val prefix = inv.join(dfreq, "shingle")
      .groupBy("id").agg(any_value(col("sz")).as("sz"),
        collect_list(struct(col("docfreq"), col("shingle"))).as("byRarity"))
      .withColumn("pref", slice(array_sort(col("byRarity")), lit(1),
        (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")))
      // posexplode keeps each prefix token's POSITION in the doc's
      // global-order-sorted token list (the prefix IS its first L
      // entries), feeding the positional filter below
      .select(col("id"), col("sz"),
        posexplode(col("pref.shingle")).as(Seq("pos", "shingle")))
      // both sides of the candidate self-join read this — materialized
      // once it is built once, not twice (measured 2x end-to-end)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // data-proportional width for the candidate self-join, applied ONLY
    // when it widens past the session default: at small scale the planner's
    // own exchanges (AQE-coalesced, broadcast-eligible) beat a pinned
    // repartition (bench-measured 2x on sf0.1), while at corpus scale the
    // pinned width on the join key is what prevents the round-6 sf1 13.1x
    // width collapse — both self-join sides reuse this one exchange
    val prefixW =
      if (width > session) prefix.repartition(width, col("shingle")) else prefix
    val a = prefixW.select(col("shingle"), col("id").as("a"),
      col("sz").as("a_sz"), col("pos").as("a_pos"))
    val b = prefixW.select(col("shingle"), col("id").as("b"),
      col("sz").as("b_sz"), col("pos").as("b_pos"))
    val candidates = a.join(b, Seq("shingle"))
      .filter(col("a") < col("b"))
      // PPJoin length filter: J >= t forces t*|larger| <= |smaller|
      .filter(col("b_sz") >= col("a_sz") * threshold &&
        col("a_sz") >= col("b_sz") * threshold)
      // PPJoin positional filter: a token at (0-based) positions i/j of
      // the two sorted sets bounds the overlap by 1 + min(rest_a, rest_b);
      // J >= t needs overlap >= ceil(t/(1+t) * (|a|+|b|)). Exact: a true
      // pair's FIRST shared token has no common tokens before it, so its
      // bound is valid and >= the required overlap — pairs passing via
      // any later token are a superset, and the verify step is exact.
      // the 1e-9 slack guards the double rounding of t/(1+t): when the
      // quotient rounds UP (e.g. t=0.25), t/(1+t)*(|a|+|b|) can land just
      // above an exact integer and ceil would over-require by 1, pruning a
      // true pair with Jaccard exactly t. Slack only ADDS candidates; the
      // verify step is exact.
      .filter(lit(1) + least(col("a_sz") - col("a_pos") - 1,
          col("b_sz") - col("b_pos") - 1) >=
        ceil(lit(threshold / (1.0 + threshold)) * (col("a_sz") + col("b_sz")) - lit(1e-9)))
      .select("a", "b").distinct()
    verifyJaccard(candidates, docs, threshold)
  }

  /** Exact n-gram CONTAINMENT join — the ASYMMETRIC near-dup face
    * Jaccard misses: C(A→B) = |A∩B| / |A| >= t finds documents mostly
    * CONTAINED in another (quote-heavy posts, boilerplate-wrapped
    * copies, doc-in-doc training leaks) even when the containing
    * document is far larger, which caps symmetric Jaccard at
    * |A|/|B| → 0. Emits DIRECTED pairs (a, b, containment): a's shingle
    * set is >= t-contained in b's.
    *
    * Scale shape, adapted from the [[ngramJaccard]] PPJoin machinery
    * under the same global rarity order: containment lower-bounds the
    * overlap by ceil(t·|A|) using |A| ALONE, so only the PROBE side
    * carries a prefix (first |A| - ceil(t·|A|) + 1 rarity-sorted
    * tokens); the index side must serve every token (no |B|-side prefix
    * exists — that asymmetry is inherent to containment, and is why the
    * length filter below is one-sided too). Candidates still collapse on
    * rare tokens (both sides drop docfreq-1 tokens, which can never
    * produce a pair), the positional filter bounds the remaining overlap
    * from the probe prefix position, and one exact sorted-intersect
    * verify per candidate makes the join lossless. Hash tokens (8-byte
    * xxhash64) keep every shuffle narrow; a collision only ADDS
    * candidates, exactness lives in the verify.
    */
  def ngramContainment(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.8,
      numPartitions: Option[Int] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold in (0,1], got $threshold")
    val session = df.sparkSession.sessionState.conf.numShufflePartitions
    val docs = spread(df, idCol).select(col(idCol).as("id"),
      H.shingles(col(textCol), shingleSize).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val width = adaptiveWidth(df, numPartitions,
      rowCount = if (numPartitions.isEmpty) Some(docs.count()) else None)
    val inv = docs.select(col("id"), col("sz"), explode(col("sh")).as("shs"))
      .select(col("id"), col("sz"), xxhash64(col("shs")).as("shingle"))
    // docfreq-1 tokens can never co-occur in two documents: dropping them
    // from BOTH sides only removes never-matching index rows, and moves
    // shared tokens EARLIER in the probe's rarity order (the prefix bound
    // over the full list stays valid over the survivor list)
    val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("docfreq"))
      .filter(col("docfreq") >= 2)
    val survivors = inv.join(dfreq, "shingle")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // probe prefix: C >= t forces overlap >= ceil(t*|A|), so a match must
    // share a token within A's first |A| - ceil(t*|A|) + 1 rarity-sorted
    // tokens (1e-9 slack: ceil of the rounded product must not
    // over-require by 1 at exact-integer thresholds)
    val prefix = survivors
      .groupBy("id").agg(any_value(col("sz")).as("sz"),
        collect_list(struct(col("docfreq"), col("shingle"))).as("byRarity"))
      .withColumn("pref", slice(array_sort(col("byRarity")), lit(1),
        (col("sz") - ceil(col("sz") * threshold - lit(1e-9)) + 1).cast("int")))
      .select(col("id").as("a"), col("sz").as("a_sz"),
        posexplode(col("pref.shingle")).as(Seq("a_pos", "shingle")))
    // index side: ALL surviving tokens — containment has no index-side
    // prefix bound, so the inverted index serves the full sets
    val full = survivors.select(col("shingle"), col("id").as("b"),
      col("sz").as("b_sz"))
    val (probeW, fullW) =
      if (width > session)
        (prefix.repartition(width, col("shingle")),
          full.repartition(width, col("shingle")))
      else (prefix, full)
    val candidates = probeW.join(fullW, Seq("shingle"))
      .filter(col("a") =!= col("b"))
      // |A∩B| <= |B|, so t*|A| <= |B| — the one-sided length filter
      .filter(col("b_sz") >= col("a_sz") * threshold - lit(1e-9))
      // positional: overlap <= 1 + tokens of A after this prefix position
      // (full-size remainder over the survivor position — an upper bound)
      .filter(lit(1) + (col("a_sz") - col("a_pos") - 1) >=
        ceil(col("a_sz") * threshold - lit(1e-9)))
      .select("a", "b").distinct()
    candidates
      .join(docs.select(col("id").as("a"), col("sh").as("a_sh"),
        col("sz").as("a_sz")), "a")
      .join(docs.select(col("id").as("b"), col("sh").as("b_sh")), "b")
      .withColumn("inter",
        GraftFunctions.sortedIntersectSize(col("a_sh"), col("b_sh")).cast("double"))
      .withColumn("containment", col("inter") / col("a_sz"))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), round(col("containment"), 4).as("containment"))
      .orderBy("a", "b")
  }

  /** Shared verification: join candidate (a,b) id pairs back to their
    * sorted shingle arrays once, compute exact Jaccard with the
    * linear-merge intersect kernel.
    */
  private def verifyJaccard(pairs: DataFrame, docs: DataFrame, threshold: Double): DataFrame =
    pairs
      .join(docs.select(col("id").as("a"), col("sh").as("a_sh"), col("sz").as("a_sz")), "a")
      .join(docs.select(col("id").as("b"), col("sh").as("b_sh"), col("sz").as("b_sz")), "b")
      .withColumn("inter", GraftFunctions.sortedIntersectSize(col("a_sh"), col("b_sh")).cast("double"))
      .withColumn("jaccard", col("inter") / (col("a_sz") + col("b_sz") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("a", "b")

  /** Embedding near-dup via multi-table random-hyperplane LSH — the same
    * OR-amplified (L, k) scheme as `SimilaritySearch.lshTopK`: L = `nTables`
    * independent tables of k = `bitsPerTable` sign-bits each; a pair is a
    * candidate if it collides in ANY table. Per-pair recall at angle θ is
    * 1-(1-(1-θ/π)^k)^L — k bounds bucket size, L recovers recall (a single
    * AND-only signature would miss most true near-dups). Buckets above
    * `maxBucket` (degenerate keys, e.g. the all-zero region) are dropped
    * before the self-join, and candidates are cosine-verified exactly.
    * Returns (a, b, cosine) with a < b, deterministic.
    */
  def embeddingNearDup(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.8, nTables: Int = 32, bitsPerTable: Int = 3,
      seed: Long = 42L, maxBucket: Int = 1000,
      autoBits: Boolean = true,
      numPartitions: Option[Int] = None,
      onStats: DedupStats => Unit = _ => ()): DataFrame = {
    // multi-consumer narrow projection: corpus count (auto-k + width),
    // band build, and both verify-join sides read it — persist once
    val docs = spread(df, idCol)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val width = adaptiveWidth(df, numPartitions,
      rowCount = if (numPartitions.isEmpty) Some(docs.count()) else None)
    // k (bits/table) must scale with the corpus: expected bucket size is
    // n/2^k per table, so a fixed k silently pushes EVERY bucket past
    // maxBucket as n grows — at 20k vectors with k=3 (8 buckets/table)
    // the operator returned 0 pairs with no signal (round-6 verdict).
    // k = ceil(log2(n/(maxBucket/4))) targets an expected bucket of
    // maxBucket/4 — headroom for the lumpy buckets of real (correlated)
    // embeddings, where expected == cap would still drop ~half the mass.
    // Recall stays high because OR-amplification over nTables compensates
    // (p_collide = 1-(1-(1-θ/π)^k)^L ≈ 0.999 at θ=0.2π, k=6, L=32).
    val k =
      if (!autoBits) bitsPerTable
      else {
        val n = docs.count().toDouble // free: persisted by the width count
        math.max(bitsPerTable,
          math.ceil(math.log(math.max(4.0 * n / maxBucket, 1.0)) / math.log(2.0)).toInt)
      }
    val tables = array((0 until nTables).map { t =>
      struct(lit(t).as("band"),
        GraftFunctions.hyperplaneSignature(col("v"),
          graft.functions.RandomPlanes.planes(dim, k, seed + t)).as("key"))
    }: _*)
    val banded = docs.select(col("id"), explode(tables).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    // candidate pairs ARE deduped before verification: a pair colliding in
    // m of the L tables would otherwise be verified m times. The distinct
    // runs on narrow (a, b) long pairs — a cheap shuffle — and the verify
    // join back to the vectors is an ordinary shuffle hash join on id, so
    // nothing corpus-sized is ever broadcast: the vector table can exceed
    // driver memory / the 8 GB broadcast hard limit and the plan is
    // unchanged. (Catalyst still auto-broadcasts a side that fits under
    // autoBroadcastJoinThreshold, so small corpora keep the map-side join.)
    val pairs = pairsFromBuckets(banded, maxBucket, width, onStats)
    pairs
      .join(docs.select(col("id").as("a"), col("v").as("a_v")), "a")
      .join(docs.select(col("id").as("b"), col("v").as("b_v")), "b")
      .withColumn("cosine", GraftFunctions.cosine(col("a_v"), col("b_v")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))
      .orderBy("a", "b")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al.,
    * arXiv:2303.09540): cluster embeddings with k-means (the clustering
    * bounds the pairwise comparisons, exactly like the paper), then
    * WITHIN each cluster drop every vector that has a lower-id neighbor
    * with cosine >= `threshold`; survivors are everything not dropped.
    *
    * Scale design: training runs on a seeded sample (IvfIndex.train, the
    * 100 TB path), assignment is one centroid-literal codegen scan, and
    * the only join is the within-cluster self-join — O(sum of cluster²),
    * the cost model SemDeDup chooses k to control (k ≈ n/target-cluster-
    * size). Clusters above `maxCluster` are dropped from pairing (the
    * degenerate-center guard, same rationale as the LSH bucket caps).
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double, seed: Long = 42L,
      sampleFraction: Double = 1.0, maxCluster: Int = 100000,
      pairBlocks: Int = 16): DataFrame = {
    require(pairBlocks > 0, s"pairBlocks must be positive, got $pairBlocks")
    // materialize the narrow (id, vector) projection ONCE: train scans it
    // per Lloyd iteration and assignment scans it again — without this,
    // an expensive upstream (e.g. featurization) recomputes 4-5x
    val vecs = df.select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = IvfIndex.train(vecs, "id", "v", nClusters,
      seed = seed, sampleFraction = sampleFraction)
    val assigned = IvfIndex.index(vecs, "id", "v", centroids)
      .select(col("id"), col("cell"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val smallCells = assigned.groupBy("cell").agg(count(lit(1)).as("csz"))
      .filter(col("csz").between(2, maxCluster)).select("cell")
    val paired = assigned.join(smallCells, Seq("cell"), "left_semi")
    // BLOCKED within-cell self-join: a join keyed on cell alone runs each
    // cell's O(csz²) cosine pass in ONE task — at the 100k cap that is
    // 5e9 evaluations single-threaded (and nClusters=1, the spec/oracle
    // face, funnels the whole corpus). Each row gets a hash block in
    // [0, B); the left side fans out to every block >= its own, the join
    // keys on (cell, right-block), so each unordered pair meets exactly
    // once — in the task of (cell, max(block_a, block_b)) — and a cell's
    // work spreads over B tasks for a ×(B+1)/2 fan-out of narrow rows.
    val withBlk = paired.withColumn("blk",
      pmod(xxhash64(col("id")), lit(pairBlocks)).cast("int"))
    val lhs = withBlk.select(col("cell"), col("id").as("a"),
        col("v").as("a_v"), col("blk").as("ba"))
      .withColumn("bb", explode(sequence(col("ba"), lit(pairBlocks - 1))))
    val rhs = withBlk.select(col("cell").as("cellb"), col("id").as("b"),
      col("v").as("b_v"), col("blk").as("rb"))
    val dropped = lhs.join(rhs,
        col("cell") === col("cellb") && col("bb") === col("rb"))
      // same-block pairs meet in both orientations: keep one; cross-block
      // pairs meet once in arbitrary id order: normalize via greatest below
      .filter(col("ba") =!= col("rb") || col("a") < col("b"))
      .filter(col("a") =!= col("b"))
      .filter(GraftFunctions.cosine(col("a_v"), col("b_v")) >= threshold)
      .select(greatest(col("a"), col("b")).as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Exact-substring duplicate-span detection (the fixed-window form of
    * Lee et al. ACL'22 "Deduplicating Training Data Makes Language Models
    * Better"): a `window`-token span that occurs in >= `minDocs` distinct
    * documents is a duplicated span; per document, report how much of it
    * is covered by corpus-repeated spans. The suffix-array construction
    * of the paper is replaced by fixed-window hashing — the standard
    * distributed approximation (every duplicated substring of length >=
    * window contains a duplicated window, so coverage is recall-complete
    * at window granularity).
    *
    * Scale shape: window hashes are computed WITHIN the row (one
    * projection, no token explosion); the only shuffles carry narrow
    * (id, pos, hash) rows — one groupBy on the hash for document
    * frequency, one semi-join back.
    *
    * `portableHash = true` hashes windows with md5 over the joined
    * window text (identical in any engine — the gate's oracle face); the
    * default uses the `graft_window_hashes` rolling kernel: one xxh64
    * per TOKEN then O(1) polynomial advance per window — no per-window
    * string build (the measured floor of the concat-then-digest form) —
    * 8-byte keys, the production path. Both detect the same spans;
    * collisions can only merge two distinct windows, adding a span,
    * with probability ~n²/2⁶⁴.
    */
  def substringDupSpans(
      df: DataFrame, idCol: String, textCol: String,
      window: Int = 20, minDocs: Int = 2,
      portableHash: Boolean = false): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = spread(df, idCol)
      .select(col(idCol).as("id"), T.tokens(col(textCol)).as("ts"))
      .withColumn("n", size(col("ts")))
    // md5 path: the CASE guard is load-bearing even though the filter
    // precedes it — the optimizer may evaluate the projection against
    // pre-filter rows, and sequence(0, n - window) DESCENDS for short
    // docs, handing slice() an invalid start of 0; the conditional's
    // lazy branch evaluation keeps the lambda off those rows. The
    // kernel path handles n < window internally (empty array).
    val hashed =
      if (portableHash) expr(
        s"""CASE WHEN n >= $window THEN
           |  transform(sequence(0, n - $window),
           |    i -> md5(concat_ws(' ', slice(ts, i + 1, $window))))
           |ELSE cast(array() as array<string>) END""".stripMargin)
      else GraftFunctions.windowHashes(col("ts"), window)
    val withW = base.filter(col("n") >= window).withColumn("ws", hashed)
    val pos = withW.select(col("id"), posexplode(col("ws")).as(Seq("pos", "h")))
    val dup = pos.groupBy("h")
      .agg(count_distinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    val marked = pos.join(dup, Seq("h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup_windows"),
        min("pos").as("first_dup_pos"))
    base.select(col("id"), col("n"))
      .join(marked, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("n") >= window, col("n") - (window - 1)).otherwise(0L)
          .cast("long").as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).cast("long").as("n_dup_windows"),
        coalesce(col("first_dup_pos"), lit(-1)).cast("long").as("first_dup_pos"))
  }

  /** Exact-substring duplicate REMOVAL (the action face of
    * [[substringDupSpans]], completing Lee et al. ACL'22's pipeline:
    * detect, then CUT): the first global occurrence of every `window`-
    * token span survives — ordered by (doc id, position), so keep-first
    * is a total order, within-doc repeats included — and every later
    * occurrence's windows are merged into maximal disjoint spans
    * (adjacent/overlapping duplicated windows coalesce: a new span
    * starts only when the position gap exceeds `window`) whose tokens
    * are removed from the document.
    *
    * Returns one row per doc: (id, n_tokens, n_spans, n_removed,
    * dedup_md5) where dedup_md5 hashes the space-joined surviving
    * tokens — the removal is thereby content-checkable cross-engine
    * without shipping rebuilt documents around.
    *
    * Scale shape: same as the detection face — windows shuffle as
    * (hash, id, pos) rows for the first-occurrence ranking, spans merge
    * inside a per-doc window, and the rebuild is one narrow projection
    * (array lambdas over the already-present token array; no extra
    * shuffle).
    */
  def substringRemoveDup(
      df: DataFrame, idCol: String, textCol: String,
      window: Int = 20, portableHash: Boolean = false): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val base = spread(df, idCol)
      .select(col(idCol).as("id"), T.tokens(col(textCol)).as("ts"))
      .withColumn("n", size(col("ts")))
    val hashed =
      if (portableHash) expr(
        s"""CASE WHEN n >= $window THEN
           |  transform(sequence(0, n - $window),
           |    i -> md5(concat_ws(' ', slice(ts, i + 1, $window))))
           |ELSE cast(array() as array<string>) END""".stripMargin)
      else GraftFunctions.windowHashes(col("ts"), window)
    val pos = base.filter(col("n") >= window).withColumn("ws", hashed)
      .select(col("id"), posexplode(col("ws")).as(Seq("pos", "h")))
    import org.apache.spark.sql.expressions.Window
    // every occurrence AFTER the first in (id, pos) order is redundant
    val red = pos.withColumn("rk",
        row_number().over(Window.partitionBy("h").orderBy(col("id"), col("pos"))))
      .filter(col("rk") > 1).select("id", "pos")
    val w2 = Window.partitionBy("id").orderBy("pos")
    val spans = red
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w2) > window, 1).otherwise(0))
      .withColumn("isle", sum("brk").over(w2))
      .groupBy("id", "isle")
      .agg(min("pos").as("s"), (max("pos") + lit(window - 1)).as("e"))
    val perDoc = spans.groupBy("id").agg(
      count(lit(1)).as("n_spans"),
      sum(col("e") - col("s") + 1).as("n_removed"),
      sort_array(collect_list(struct(col("s"), col("e")))).as("sp"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("n").cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).cast("long").as("n_removed"),
        when(col("sp").isNull, md5(concat_ws(" ", col("ts"))))
          .otherwise(expr(
            """md5(concat_ws(' ',
              |  transform(
              |    filter(transform(ts, (t, i) -> named_struct('t', t, 'i', i)),
              |           x -> NOT exists(sp, r -> x.i >= r.s AND x.i <= r.e)),
              |    y -> y.t)))""".stripMargin))
          .as("dedup_md5"))
  }

  /** Exact Jaccard of two string-array columns via codegen'd set builtins. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0, 0.0).otherwise(inter / uni)
  }

  /** Candidate (a, b) id pairs from (id, band, key) rows with a
    * bucket-size cap: buckets larger than `maxBucket` (degenerate keys)
    * are dropped via a semi-join against the small bucket-size aggregate
    * before the within-bucket self-join. Pairs colliding in multiple
    * bands are deduped here — the distinct shuffles only narrow long
    * pairs, so every caller verifies each candidate exactly once.
    */
  /** Per-invocation candidate-blocking diagnostics: how many multi-member
    * buckets (bsz >= 2) the `maxBucket` cap saw and dropped. The
    * silent-no-op failure mode is `dropFraction == 1.0` with
    * `bucketsTotal > 0`: every bucket was oversized, so zero candidate
    * pairs will be produced and the empty result is indistinguishable
    * from "no duplicates".
    */
  final case class DedupStats(bucketsTotal: Long, bucketsDropped: Long) {
    def dropFraction: Double =
      if (bucketsTotal == 0L) 0.0 else bucketsDropped.toDouble / bucketsTotal
  }

  private def pairsFromBuckets(bandedRaw: DataFrame, maxBucket: Int,
      width: Int, onStats: DedupStats => Unit = _ => ()): DataFrame = {
    // consumed by the bucket-size aggregate, the semi-join and both sides
    // of the self-join — materialize the narrow (id, band, key) rows once
    // so the signature kernels upstream don't run 4x.
    // The explicit repartition does two jobs: (1) parallelism — the band
    // rows inherit the source scan's partitioning (often ONE partition for
    // a single parquet file), and without it the within-bucket self-join
    // generates every candidate pair in one task; (2) co-partitioning —
    // the bucket aggregate, the semi-join and both self-join sides then
    // reuse this one hash exchange, so the whole candidate stage runs
    // shuffle-free after a single 12-byte-row exchange. `width` is the
    // caller's data-proportional partition count (adaptiveWidth).
    val banded = bandedRaw.repartition(width, col("band"), col("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = banded.groupBy("band", "key")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") >= 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the cap must not fail SILENT: one eager aggregate over the (already
    // persisted) bucket sizes measures what the cap discards, delivered to
    // the caller's `onStats` (per-invocation, race-free — the JVM-wide
    // static it replaced could not attribute concurrent invocations).
    // A partial drop is legitimate (degenerate
    // keys ARE the spam you'd cap on a real corpus), but a 100% drop means
    // the blocking key does not discriminate at this corpus size and the
    // empty result is indistinguishable from "no duplicates" (round-6
    // verdict: 20k vectors at 8 buckets/table no-op'd an entire corpus) —
    // logged at ERROR, not thrown, because an all-identical degenerate
    // corpus capping out whole is correct behavior (see DedupSpec).
    val statRow = sizes.agg(
      count(lit(1)).as("total"),
      sum(when(col("bsz") > maxBucket, 1L).otherwise(0L)).as("dropped")).head()
    val total = statRow.getLong(0)
    val dropped = if (statRow.isNullAt(1)) 0L else statRow.getLong(1)
    val stats = DedupStats(total, dropped)
    onStats(stats)
    val logger = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")
    if (total > 0L && dropped == total)
      logger.error(s"ALL $total candidate buckets exceed maxBucket=$maxBucket " +
        "— zero candidates will be produced; the blocking key does not " +
        "discriminate at this corpus size (raise signature bits k, or " +
        "maxBucket). Pass onStats to observe per-invocation drop stats.")
    else if (stats.dropFraction > 0.5)
      logger.warn(s"$dropped of $total candidate buckets exceed " +
        s"maxBucket=$maxBucket (${math.round(stats.dropFraction * 100)}% dropped)")
    val smallBuckets = sizes.filter(col("bsz") <= maxBucket)
      .select("band", "key")
    val sized = banded.join(smallBuckets, Seq("band", "key"), "left_semi")
    val a = sized.select(col("band"), col("key"), col("id").as("a"))
    val b = sized.select(col("band"), col("key"), col("id").as("b"))
    a.join(b, Seq("band", "key")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }
}
