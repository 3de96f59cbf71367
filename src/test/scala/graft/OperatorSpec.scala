package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HashFunctions => H, TextFunctions => T, VectorFunctions => V}
import graft.operators.{Dedup, SimilaritySearch, TextAnalysis}
import graft.sources.Tables

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private lazy val docs = Tables.load(spark, TestSpark.sf, "documents")

  test("exact dedup keeps min id per identical text") {
    val df = Seq((1L, "aa bb cc"), (2L, "aa bb cc"), (3L, "xx yy zz"))
      .toDF("doc_id", "text")
    val res = Dedup.exact(df, "doc_id", "text").orderBy("keep_id").collect()
    assert(res.length == 2)
    assert(res.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (3L, 1L)))
    assert(Dedup.exactSurvivors(df, "doc_id", "text").count() == 2)
  }

  test("minhash LSH finds exactly the pairs exact Jaccard >= threshold finds") {
    // brute-force oracle: all pairs with shingle-Jaccard >= 0.8
    val sh = docs.select(col("doc_id").as("id"), H.shingles(col("text"), 3).as("sh"))
    val a = sh.select(col("id").as("a"), col("sh").as("a_sh"))
    val b = sh.select(col("id").as("b"), col("sh").as("b_sh"))
    val oracle = a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("j", Dedup.jaccard(col("a_sh"), col("b_sh")))
      .filter(col("j") >= 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH verifies candidates with exact Jaccard, so no false positives;
    // banding (16 bands x 4 rows) misses a >=0.8 pair with p < 3e-4.
    assert(lsh == oracle, s"lsh=$lsh oracle=$oracle")
  }

  test("similarity-join shuffle width pins only past the spill threshold") {
    // explicit wins
    assert(Dedup.adaptiveWidth(docs, Some(7)) == 7)
    // small input: the session width (4 in tests) is the floor
    assert(Dedup.adaptiveWidth(docs, None) ==
      spark.sessionState.conf.numShufflePartitions)
    // huge input (plan stats = 8 B x 1e9 rows for a long range):
    // 64 MB/partition from the bytes fallback -> floor(8e9 / 64 MiB)
    assert(Dedup.adaptiveWidth(spark.range(1000000000L).toDF("id"), None) == 119)
    // 50k rows stay at session width — pinning there was measured a
    // 2-5x pessimization at sf1 (AQE-managed session partitions carry
    // 20k 8-byte-token rows each without spilling)
    assert(Dedup.adaptiveWidth(docs, None, Some(50000L)) ==
      spark.sessionState.conf.numShufflePartitions)
    // one partition per 20k rows once the corpus is big enough to spill
    assert(Dedup.adaptiveWidth(docs, None, Some(5000000L)) == 250)
    assert(Dedup.adaptiveWidth(docs, None, Some(100000000L)) == 4096)
  }

  test("simhash: identical texts collide at hamming 0; hamming matches direct computation") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content about spark engines and parquet files"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhash(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("portable simhash: md5 token hash matches the DuckDB bit pattern; banding stays complete") {
    // md5Hash64 must read the first 8 digest bytes big-endian — the value
    // DuckDB's CAST(concat('0x', substring(md5(x),1,16)) AS UBIGINT)
    // produces. Pin it against a known md5: md5("abc") =
    // 900150983cd24fb0d6963f7d28e17f72.
    assert(graft.functions.expr.VectorOps.md5Hash64("abc".getBytes("UTF-8")) ==
      java.lang.Long.parseUnsignedLong("900150983cd24fb0", 16))
    // and the portable-face operator remains exact vs its own brute force
    val real = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val sigs = real.select(col("doc_id").as("id"),
      graft.functions.expr.GraftFunctions.simhash64(
        T.tokens(col("text")), portable = true).as("sig"))
    val a = sigs.select(col("id").as("a"), col("sig").as("a_sig"))
    val b = sigs.select(col("id").as("b"), col("sig").as("b_sig"))
    val oracle = a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("h", H.hamming64(col("a_sig"), col("b_sig")))
      .filter(col("h") <= 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.simhash(real, "doc_id", "text", maxHamming = 3, bands = 4,
      maxBucket = Int.MaxValue, portableHash = true)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == oracle, s"missed=${oracle -- got} extra=${got -- oracle}")
  }

  test("simhash banding finds every hamming<=k pair on real documents (uncapped)") {
    // brute-force oracle over the sf0.01 documents table: ALL pairs whose
    // 64-bit simhash signatures are within hamming 3. With 4 band slices,
    // hamming <= 3 pairs MUST share at least one identical slice
    // (pigeonhole), so uncapped banding is complete — not just on the
    // three fixed strings above but on the full real corpus.
    val real = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val sigs = real.select(col("doc_id").as("id"),
      graft.functions.expr.GraftFunctions.simhash64(T.tokens(col("text"))).as("sig"))
    val a = sigs.select(col("id").as("a"), col("sig").as("a_sig"))
    val b = sigs.select(col("id").as("b"), col("sig").as("b_sig"))
    val oracle = a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("h", H.hamming64(col("a_sig"), col("b_sig")))
      .filter(col("h") <= 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oracle.nonEmpty, "sf0.01 documents must contain hamming<=3 pairs")
    val got = Dedup.simhash(real, "doc_id", "text", maxHamming = 3, bands = 4,
      maxBucket = Int.MaxValue)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == oracle, s"missed=${oracle -- got} extra=${got -- oracle}")
  }

  test("ngram jaccard agrees with the brute-force oracle at threshold 0.5") {
    val sample = docs.filter(col("doc_id") < 100)
    val sh = sample.select(col("doc_id").as("id"), H.shingles(col("text"), 3).as("sh"))
    val a = sh.select(col("id").as("a"), col("sh").as("a_sh"))
    val b = sh.select(col("id").as("b"), col("sh").as("b_sh"))
    val oracle = a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("j", Dedup.jaccard(col("a_sh"), col("b_sh")))
      .filter(col("j") >= 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.ngramJaccard(sample, "doc_id", "text", threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == oracle)
  }

  test("ngram containment agrees with the directed brute-force oracle") {
    val sample = docs.filter(col("doc_id") < 150)
    val sh = sample.select(col("doc_id").as("id"), H.shingles(col("text"), 3).as("sh"))
      .withColumn("sz", size(col("sh"))).filter(col("sz") > 0)
    val a = sh.select(col("id").as("a"), col("sh").as("a_sh"), col("sz").as("a_sz"))
    val b = sh.select(col("id").as("b"), col("sh").as("b_sh"))
    val oracle = a.crossJoin(b).filter(col("a") =!= col("b"))
      .withColumn("inter", graft.functions.expr.GraftFunctions
        .sortedIntersectSize(col("a_sh"), col("b_sh")).cast("double"))
      .filter(col("inter") / col("a_sz") >= 0.6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.ngramContainment(sample, "doc_id", "text",
      shingleSize = 3, threshold = 0.6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == oracle, s"missed=${oracle -- got} extra=${got -- oracle}")
  }

  test("containment finds doc-in-doc pairs symmetric Jaccard structurally misses") {
    import spark.implicits._
    // A = 12 words fully inside B's 60: containment(A→B) == 1.0 but
    // J = |A|/|B| ≈ 0.17 — invisible to any useful Jaccard threshold
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, small), (2L, big),
      (3L, (100 to 140).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.ngramContainment(corpus, "doc_id", "text",
      shingleSize = 3, threshold = 0.9)
      .select("a", "b", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0)), s"got $got")
    // the directed pair is one-way: B is NOT contained in A, and Jaccard
    // at 0.5 sees nothing at all
    assert(Dedup.ngramJaccard(corpus, "doc_id", "text",
      shingleSize = 3, threshold = 0.5).isEmpty)
  }

  test("ngram jaccard keeps boundary pairs with Jaccard exactly the threshold") {
    import spark.implicits._
    // engineered so pair (1,2) has J == 0.25 exactly AND its shared tokens
    // sit last in both prefix lists (docfreq 3 vs filler docfreq 2), making
    // the positional-filter bound exactly the required overlap — the double
    // rounding of t/(1+t)=0.2000…01 used to over-require by 1 and prune it
    def junk(tag: String) = (1 to 29).map(i => s"$tag$i").mkString(" ")
    val corpus = Seq(
      (1L, "s1 s2 f1 f2"),
      (2L, "s1 s2 g1 g2 g3 g4"),
      (3L, "s1 s2"),
      (10L, "f1 " + junk("jfonex")), (11L, "f2 " + junk("jftwox")),
      (12L, "g1 " + junk("jgonex")), (13L, "g2 " + junk("jgtwox")),
      (14L, "g3 " + junk("jgthrx")), (15L, "g4 " + junk("jgfoux"))
    ).toDF("doc_id", "text")
    val sh = corpus.select(col("doc_id").as("id"), H.shingles(col("text"), 1).as("sh"))
    val a = sh.select(col("id").as("a"), col("sh").as("a_sh"))
    val b = sh.select(col("id").as("b"), col("sh").as("b_sh"))
    val oracle = a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("j", Dedup.jaccard(col("a_sh"), col("b_sh")))
      .filter(col("j") >= 0.25)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oracle.contains((1L, 2L)), "construction must make (1,2) a true pair")
    val got = Dedup.ngramJaccard(corpus, "doc_id", "text",
      shingleSize = 1, threshold = 0.25)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == oracle, s"missed=${oracle -- got} extra=${got -- oracle}")
  }

  test("embedding near-dup equals the brute-force all-pairs oracle (full recall + precision)") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val v = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    val oracle = v.select(col("id").as("a"), col("v").as("a_v"))
      .crossJoin(v.select(col("id").as("b"), col("v").as("b_v")))
      .filter(col("a") < col("b"))
      .withColumn("c", graft.functions.expr.GraftFunctions.cosine(col("a_v"), col("b_v")))
      .filter(col("c") >= 0.4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oracle.nonEmpty, "test data must contain near-dup pairs at 0.4")
    val got = Dedup.embeddingNearDup(emb, "vec_id", "embedding", 64,
      threshold = 0.4, nTables = 32, bitsPerTable = 3)
    val rows = got.collect()
    assert(rows.forall(_.getDouble(2) >= 0.4)) // precision: every pair verified
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // (L=32, k=3) ⇒ per-pair miss < 1e-4 at cosine 0.4; with fixed seed the
    // result is deterministic and complete on this dataset
    assert(pairs == oracle, s"missed=${oracle -- pairs} extra=${pairs -- oracle}")
  }

  test("semantic dedup equals global survivors at nClusters=1; clustered contains them") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val v = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    // brute-force global truth: b is dropped iff some a < b has cosine >= t
    val dropped = v.select(col("id").as("a"), col("v").as("a_v"))
      .crossJoin(v.select(col("id").as("b"), col("v").as("b_v")))
      .filter(col("a") < col("b"))
      .filter(graft.functions.expr.GraftFunctions.cosine(col("a_v"), col("b_v")) >= 0.4)
      .select("b").distinct().collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "test data must contain droppable pairs at 0.4")
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val globalSurvivors = all -- dropped
    val one = Dedup.semanticDedup(emb, "vec_id", "embedding",
      nClusters = 1, threshold = 0.4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(one == globalSurvivors, "single-cluster semantic dedup must be exact")
    // clustering only SKIPS cross-cluster comparisons: survivors can only
    // grow, and within-cluster drops must be a subset of the true drops
    val clustered = Dedup.semanticDedup(emb, "vec_id", "embedding",
      nClusters = 8, threshold = 0.4, sampleFraction = 0.5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(globalSurvivors.subsetOf(clustered))
    assert(clustered.size < all.size, "clustered dedup must still drop in-cluster dups")
    // deterministic: hash-seeded k-means + id-ordered drops
    val again = Dedup.semanticDedup(emb, "vec_id", "embedding",
      nClusters = 8, threshold = 0.4, sampleFraction = 0.5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again == clustered)
  }

  test("substring dup spans: planted shared window detected, short docs zero") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, s"alpha beta $shared gamma delta"),   // shared span at pos 2
      (2L, s"$shared epsilon zeta"),             // shared span at pos 0
      (3L, "unique words only here"),            // short: < 20 tokens
      (4L, (1 to 30).map(i => s"own$i").mkString(" "))) // long, no dups
      .toDF("doc_id", "text")
    val r = Dedup.substringDupSpans(df, "doc_id", "text", window = 20, minDocs = 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // doc 1: 24 tokens -> 5 windows; those starting inside [2, 2] cover the
    // planted span exactly (only pos 2 yields the full shared window)
    assert(r(1L) == ((5L, 1L, 2L)), s"doc1: ${r(1L)}")
    assert(r(2L) == ((3L, 1L, 0L)), s"doc2: ${r(2L)}")
    assert(r(3L) == ((0L, 0L, -1L)), s"doc3: ${r(3L)}")
    assert(r(4L) == ((11L, 0L, -1L)), s"doc4: ${r(4L)}")
  }

  test("substring dup spans: portable (md5) and fast (xxhash64) hashes detect the same spans") {
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    def run(portable: Boolean) =
      Dedup.substringDupSpans(docs, "doc_id", "text", window = 20, minDocs = 2,
        portableHash = portable)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
    val md5Spans = run(portable = true)
    val xxhSpans = run(portable = false)
    assert(md5Spans.nonEmpty && md5Spans.exists(_._2._2 > 0),
      "corpus must contain duplicated spans")
    assert(md5Spans.sameElements(xxhSpans),
      "hash choice must not change the detected span structure")
  }

  test("planted-family clustered semantic dedup equals the global survivor set") {
    // the dedup_semantic_planted gate invariant: identical copies get
    // identical centroid distances, so they always share a k-means cell —
    // at a threshold only identical copies reach, clustered == global
    val e = Tables.load(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val planted = e.unionAll(
      e.filter(pmod(col("vec_id"), lit(10)) === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    def survivors(n: Int) = Dedup.semanticDedup(planted, "vec_id", "embedding",
      nClusters = n, threshold = 0.99999, sampleFraction = 0.5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val clustered = survivors(8)
    val global = survivors(1)
    assert(clustered == global, "cluster bounding must not change the planted truth")
    // exactly the originals survive: every planted copy has a lower-id
    // identical partner, no natural pair reaches 0.99999
    val originals = e.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(clustered == originals)
  }

  test("simhash and embedding near-dup cap degenerate buckets") {
    // 1.2k identical empty-ish docs share every band key: uncapped this is
    // ~700k candidate pairs; the cap must drop the degenerate bucket whole
    val n = 1200
    val df = spark.range(n).select(col("id").as("doc_id"), lit("").as("text"))
    val pairs = Dedup.simhash(df, "doc_id", "text", maxHamming = 3, bands = 4,
      maxBucket = 1000)
    assert(pairs.count() == 0, "bucket of 1200 identical docs must be capped out")
    // with a cap above the bucket size the pairs come back
    val small = spark.range(3).select(col("id").as("doc_id"), lit("same text here").as("text"))
    assert(Dedup.simhash(small, "doc_id", "text", maxBucket = 1000).count() == 3)
  }

  test("substring removal: keep-first, span merge, and the rebuilt text, hand-computed") {
    import java.security.MessageDigest
    def md5(s: String) = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // d1 owns "a b c d"; d2 repeats it mid-doc; d3 is a within-doc loop
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),
      (3L, "p q r p q r p q r")).toDF("doc_id", "text")
    val got = Dedup.substringRemoveDup(docs, "doc_id", "text", window = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // d1: every window's first occurrence — untouched
    assert(got(0) == ((1L, 6L, 0L, 0L, md5("a b c d e f"))))
    // d2: windows (a b c)@1 and (b c d)@2 are redundant -> one merged
    // span over tokens 1..4 -> "x y" survives
    assert(got(1) == ((2L, 6L, 1L, 4L, md5("x y"))))
    // d3: the loop's windows repeat from pos 3 on -> tokens 3..8 cut,
    // the first "p q r" survives (within-doc dedup)
    assert(got(2) == ((3L, 9L, 1L, 6L, md5("p q r"))))
  }

  test("onStats reports per-invocation bucket-drop stats") {
    // two invocations with opposite cap outcomes: each callback must see
    // ITS OWN invocation's numbers — a JVM-wide static would be
    // last-writer-wins and could not attribute, which is why onStats is
    // the only drop-stats channel (the static was retired, round-8 item)
    val n = 1200
    val degenerate = spark.range(n).select(col("id").as("doc_id"), lit("").as("text"))
    var cappedStats: Option[Dedup.DedupStats] = None
    Dedup.simhash(degenerate, "doc_id", "text", maxHamming = 3, bands = 4,
      maxBucket = 1000, onStats = s => cappedStats = Some(s)).count()
    assert(cappedStats.exists(s => s.bucketsTotal > 0 &&
      s.bucketsDropped == s.bucketsTotal && s.dropFraction == 1.0),
      s"degenerate corpus must report a 100% drop, got $cappedStats")
    val small = spark.range(3).select(col("id").as("doc_id"), lit("same text here").as("text"))
    var cleanStats: Option[Dedup.DedupStats] = None
    Dedup.simhash(small, "doc_id", "text", maxBucket = 1000,
      onStats = s => cleanStats = Some(s)).count()
    assert(cleanStats.exists(s => s.bucketsTotal > 0 && s.bucketsDropped == 0L),
      s"uncapped corpus must report zero drops, got $cleanStats")
    spark.catalog.clearCache()
  }

  test("embedding near-dup auto-scales bucket bits: 20k vectors with default k find planted pairs") {
    // round-6 verdict: at 20k vectors the FIXED (L, k=3) default put every
    // vector into one of 8 buckets/table, every bucket blew maxBucket, and
    // the operator silently returned 0 pairs. With autoBits (the default)
    // k derives from the corpus count and the planted duplicates come back.
    val dim = 8
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(dim)(rnd.nextGaussian())
    val base = (0 until 19000).map(i => (i.toLong, vec()))
    // plant 1000 exact duplicates of ids 0..999 (cosine 1 => always found)
    val dups = (0 until 1000).map(i => (100000L + i, base(i)._2.clone()))
    val df = spark.createDataFrame(base ++ dups).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding")) // Array[Double] column
    // nTables=8 keeps the spec fast; k / autoBits / maxBucket are defaults
    var autoStats: Option[Dedup.DedupStats] = None
    val pairs = Dedup.embeddingNearDup(df, "vec_id", "embedding", dim,
      threshold = 0.95, nTables = 8, onStats = s => autoStats = Some(s))
    val got = pairs.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 1000).map(i => (i.toLong, 100000L + i)).toSet
    assert((planted -- got).isEmpty,
      s"missed ${(planted -- got).size} of 1000 planted exact duplicates")
    // the drop diagnostic is populated and NOT the silent-no-op signature
    assert(autoStats.exists(_.dropFraction < 1.0))
    spark.catalog.clearCache()
    // the OLD parameterization (autoBits off, k=3 => 8 buckets/table) is
    // the (near-)silent no-op: ~2500 expected per bucket, nearly all
    // capped out — recall collapses, and the drop diagnostic must say so
    var oldStats: Option[Dedup.DedupStats] = None
    val old = Dedup.embeddingNearDup(df, "vec_id", "embedding", dim,
      threshold = 0.95, nTables = 8, bitsPerTable = 3, autoBits = false,
      onStats = s => oldStats = Some(s))
    val oldGot = old.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((planted -- oldGot).size > 500,
      s"fixed k=3 at 20k vectors should miss most planted pairs, missed only ${(planted -- oldGot).size}")
    assert(oldStats.exists(_.dropFraction > 0.5),
      "the collapsed-recall run must be observable via the drop fraction")
    spark.catalog.clearCache()
  }
}

class SimilaritySearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val emb = Tables.load(spark, TestSpark.sf, "embeddings")

  test("brute force: each query's top hit is itself at cosine 1") {
    val q = emb.filter(col("vec_id") < 3)
    val res = SimilaritySearch.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
    val top1 = res.filter(col("rk") === 1).collect()
    assert(top1.length == 3)
    top1.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "top-1 must be the query vector itself")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-6)
    }
    // scores are non-increasing within each query
    val per = res.collect().groupBy(_.getLong(0))
    per.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getDouble(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-9))
    }
  }

  test("LSH ANN achieves useful recall vs brute force") {
    val q = emb.filter(col("vec_id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimilaritySearch.lshTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
      dim = 64, k = 10, nTables = 16, bitsPerTable = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall") // deterministic given fixed seed
    // self-match always survives (query's own bucket is probed)
    assert((0L until 10L).forall(i => approx.contains((i, i))))
  }

  test("SQ8: codes bounded, constant dim encodes 0, re-ranked search finds self + high recall") {
    import spark.implicits._
    val (mn, mx) = SimilaritySearch.sq8Calibrate(emb, "embedding")
    assert(mn.length == 64 && mx.length == 64)
    assert(mn.indices.forall(i => mn(i) <= mx(i)))
    val enc = SimilaritySearch.sq8Encode(emb, "vec_id", "embedding", mn, mx)
    val codes = enc.select(explode(col("codes")).as("c"))
      .agg(min("c"), max("c")).head()
    assert(codes.getInt(0) >= 0 && codes.getInt(1) <= 255,
      s"codes out of byte range: $codes")
    // a constant dimension must encode 0 (not divide by zero)
    val const = Seq((1L, Seq(2.5, 1.0)), (2L, Seq(2.5, 3.0))).toDF("id", "v")
    val (cmn, cmx) = SimilaritySearch.sq8Calibrate(const, "v")
    val cc = SimilaritySearch.sq8Encode(const, "id", "v", cmn, cmx)
      .orderBy("id").collect().map(_.getSeq[Int](1))
    assert(cc(0) == Seq(0, 0) && cc(1) == Seq(0, 255), s"got ${cc.toSeq}")
    // search: self is rank 1 at cosine 1; recall@10 vs exact stays high
    // (SQ8's point: near-exact at 1/4 the bandwidth)
    val q = emb.filter(col("vec_id") < 10)
    val res = SimilaritySearch.sq8Search(enc, emb, "vec_id", "embedding",
      q, "vec_id", "embedding", mn, mx, k = 10, refine = 4)
    val top1 = res.filter(col("rk") === 1).collect()
    assert(top1.length == 10)
    top1.foreach { r =>
      assert(r.getLong(0) == r.getLong(1) && math.abs(r.getDouble(2) - 1.0) < 1e-6)
    }
    val exact = SimilaritySearch.bruteForceTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = res.select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8+re-rank recall=$recall (expected near-exact)")
  }
}

class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
    Seq(1).toDF("x").select(c).first()

  test("unigram LM score matches a driver-side replica on real documents") {
    val docs = Tables.load(spark, TestSpark.sf, "documents").limit(200)
    val got = TextAnalysis.lmScore(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // independent replica: plain Scala over collected texts
    def toks(s: String): Seq[String] =
      s.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1))).toMap
    val tf = texts.values.flatten.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val total = tf.values.sum.toDouble
    texts.foreach { case (id, ws) =>
      if (ws.nonEmpty) {
        val (n, score) = got(id)
        assert(n == ws.size)
        // same order-controlled fold: sorted distinct words
        val expected = ws.groupBy(identity).toSeq
          .map { case (w, g) => (w, g.size.toDouble * -math.log(tf(w) / total)) }
          .sortBy(_._1).map(_._2).foldLeft(0.0)(_ + _) / ws.size
        assert(math.abs(score - expected) < 1e-4, s"doc $id: $score vs $expected")
      }
    }
    // junk full of rare tokens must score above average prose
    assert(got.nonEmpty)
  }

  test("bm25: exact hand-computed score; idf ranks rare-term docs over common-term tf") {
    // corpus of 4 docs, query {rare, common}: 'rare' df=1, 'common' df=3.
    // doc 1 has the rare term once; doc 2 repeats 'common' heavily — idf
    // must put doc 1 first despite doc 2's tf
    val df = Seq(
      (1L, "rare alpha beta gamma"),
      (2L, "common common common common"),
      (3L, "common delta epsilon zeta"),
      (4L, "common eta theta iota")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(df, "doc_id", "text",
      terms = Seq("rare", "common"), k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L), s"rank order wrong: $got")
    // hand-compute doc 1: tf=1, df=1, N=4, dl=4, avgdl=4
    // idf = ln(1 + (4-1+0.5)/(1+0.5)) = ln(1 + 7/3)
    // sat = 1*2.2 / (1 + 1.2*(0.25 + 0.75*1)) = 2.2/2.2 = 1
    val exp1 = math.rint(math.log(1.0 + 3.5 / 1.5) * 10000) / 10000
    assert(math.abs(got.head._3 - exp1) < 1e-9)
    // ranks are 1..n, dense, and k truncates
    assert(got.map(_._2) == Seq(1L, 2L, 3L, 4L))
    assert(TextAnalysis.bm25Search(df, "doc_id", "text",
      terms = Seq("common"), k = 2).count() == 2)
    // docs matching no term are absent
    assert(!TextAnalysis.bm25Search(df, "doc_id", "text",
      terms = Seq("rare"), k = 10).as[(Long, Long, Double)]
      .collect().exists(_._1 != 1L))
  }

  test("bm25 store: append ≡ full rebuild; uncommitted filesets invisible; replayed tag exactly-once") {
    val docs = Seq(
      (1L, "rare alpha beta gamma"),
      (2L, "common common common common"),
      (3L, "common delta epsilon zeta"),
      (4L, "common eta theta iota"),
      (5L, "rare common alpha"),
      (6L, "zeta eta common rare")).toDF("doc_id", "text")
    val terms = Seq("rare", "common")
    def fresh(name: String): String = {
      val d = TestSpark.scratch(name)
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      d
    }
    def res(path: String) = TextAnalysis.bm25SearchIndexed(
      spark, path, "doc_id", terms, k = 10)
      .as[(Long, Long, Double)].collect().toSeq

    val full = fresh("bm25_full")
    TextAnalysis.buildBm25Index(docs, "doc_id", "text", full, nBuckets = 8)
    val inc = fresh("bm25_inc")
    TextAnalysis.buildBm25Index(docs.filter($"doc_id" <= 3), "doc_id", "text",
      inc, nBuckets = 8)
    TextAnalysis.appendToBm25Index(docs.filter($"doc_id" > 3), "doc_id", "text",
      inc, tag = 1L)
    val before = res(inc)
    assert(before == res(full),
      "post-append search must equal the one-shot full build")
    // a second build over an existing store refuses (append is the API)
    intercept[IllegalArgumentException](
      TextAnalysis.buildBm25Index(docs, "doc_id", "text", full))
    // CRASH CONTRACT: a writer that wrote its postings AND stats
    // filesets but died before the manifest publish leaves the served
    // version bit-identical — the old two-overwrite layout served new
    // stats over old postings from exactly this window
    docs.limit(1).select(lit("rare").as("w"), col("doc_id").as("id"),
      lit(99.0).as("tf"), lit(3.0).as("dl"), lit(0L).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$inc/postings/v99999_orphan")
    Seq((99L, 99.0, 8)).toDF("n_docs", "sum_dl", "n_buckets")
      .write.mode("overwrite").parquet(s"$inc/stats/v99999_orphan")
    assert(res(inc) == before, "uncommitted filesets must be invisible")
    // REPLAYED append (same tag, crash-recovery at-least-once): history
    // excludes and supersedes its own earlier commit — content stays
    // exactly-once, never double-counted postings or stats
    TextAnalysis.appendToBm25Index(docs.filter($"doc_id" > 3), "doc_id", "text",
      inc, tag = 1L)
    assert(res(inc) == before, "replayed tag must not double-count")
    // vacuum reclaims the crash orphans + the superseded fileset; the
    // current version still serves identically (zero grace: single
    // writer, provably no one in flight)
    val deleted = TextAnalysis.vacuumBm25Index(spark, inc, keepLast = 1,
      graceMs = 0L)
    assert(deleted.exists(_.contains("orphan")), s"orphans not reclaimed: $deleted")
    assert(res(inc) == before)
    // DISJOINTNESS ENFORCED: re-ingesting an already-stored doc under a
    // NEW tag is the double-count hazard — refused BEFORE anything
    // commits, naming the offending id; the store is untouched
    val boom = intercept[IllegalArgumentException] {
      TextAnalysis.appendToBm25Index(docs.filter($"doc_id" === 5),
        "doc_id", "text", inc, tag = 2L)
    }
    assert(boom.getMessage.contains("doc-disjoint") && boom.getMessage.contains("5"),
      s"guard must name the overlap: ${boom.getMessage}")
    assert(res(inc) == before, "a refused append must leave the store untouched")
    // a genuinely-new batch under the new tag still appends fine
    TextAnalysis.appendToBm25Index(
      Seq((7L, "rare iota kappa")).toDF("doc_id", "text"),
      "doc_id", "text", inc, tag = 2L)
    assert(res(inc).nonEmpty && res(inc) != before)
    // INTRA-batch duplication is the same double-count hazard — a batch
    // carrying one doc id twice is refused before anything commits (the
    // cross-batch anti-check can't see it: a batch is disjoint from
    // itself), and the id is named
    val after = res(inc)
    val intra = intercept[IllegalArgumentException] {
      TextAnalysis.appendToBm25Index(
        Seq((8L, "rare kappa"), (8L, "common lambda")).toDF("doc_id", "text"),
        "doc_id", "text", inc, tag = 3L)
    }
    assert(intra.getMessage.contains("more than once") &&
      intra.getMessage.contains("8"),
      s"intra-batch guard must name the duplicate: ${intra.getMessage}")
    assert(res(inc) == after, "a refused batch must leave the store untouched")
  }

  test("bm25 store: delete ≡ rebuild from survivors; guards; compaction folds tombstones and shrinks filesets") {
    val docs = Seq(
      (1L, "rare alpha beta gamma"),
      (2L, "common common common common"),
      (3L, "common delta epsilon zeta"),
      (4L, "common eta theta iota"),
      (5L, "rare common alpha"),
      (6L, "zeta eta common rare")).toDF("doc_id", "text")
    val terms = Seq("rare", "common")
    def fresh(name: String): String = {
      val d = TestSpark.scratch(name)
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      d
    }
    def res(path: String) = TextAnalysis.bm25SearchIndexed(
      spark, path, "doc_id", terms, k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    val store = fresh("bm25_del")
    TextAnalysis.buildBm25Index(docs.filter($"doc_id" <= 3), "doc_id", "text",
      store, nBuckets = 8)
    TextAnalysis.appendToBm25Index(docs.filter($"doc_id" > 3), "doc_id", "text",
      store, tag = 1L)
    // DELETE two docs (one from each ingest batch): the served search
    // must equal a from-scratch build over the survivors — df, nd and
    // avgdl all reflecting the post-delete corpus exactly
    assert(TextAnalysis.deleteFromBm25Index(spark, store,
      Seq(2L, 6L).toDF("doc_id"), tag = 2L) == 2L)
    val survivors = fresh("bm25_del_ref")
    TextAnalysis.buildBm25Index(docs.filter(!$"doc_id".isin(2L, 6L)),
      "doc_id", "text", survivors, nBuckets = 8)
    val afterDelete = res(store)
    assert(afterDelete == res(survivors),
      "post-delete search must equal a rebuild from the survivors")
    // GUARDS: double delete (would double-subtract stats), delete of an
    // id the store never held, re-ingest of a deleted id (names the
    // compaction remedy) — each refused before anything commits
    val dd = intercept[IllegalArgumentException] {
      TextAnalysis.deleteFromBm25Index(spark, store, Seq(2L).toDF("doc_id"),
        tag = 3L)
    }
    assert(dd.getMessage.contains("already deleted"), dd.getMessage)
    val dm = intercept[IllegalArgumentException] {
      TextAnalysis.deleteFromBm25Index(spark, store, Seq(99L).toDF("doc_id"),
        tag = 3L)
    }
    assert(dm.getMessage.contains("not in the BM25 store") &&
      dm.getMessage.contains("99"), dm.getMessage)
    val ri = intercept[IllegalArgumentException] {
      TextAnalysis.appendToBm25Index(
        Seq((2L, "back again")).toDF("doc_id", "text"), "doc_id", "text",
        store, tag = 3L)
    }
    assert(ri.getMessage.contains("DELETED") &&
      ri.getMessage.contains("compactBm25Index"), ri.getMessage)
    assert(res(store) == afterDelete, "refused mutations must not change the store")
    // REPLAYED delete tag: supersedes its own earlier commit — stats
    // subtracted exactly once, search unchanged
    TextAnalysis.deleteFromBm25Index(spark, store, Seq(2L, 6L).toDF("doc_id"),
      tag = 2L)
    assert(res(store) == afterDelete, "replayed delete must be exactly-once")
    // COMPACTION: one postings/ids/stats fileset, tombstones folded in
    // (deleted rows physically gone), serving hash-identical
    def entryCount(path: String): Int = {
      // manifests are 'kind tag file' lines — count data entries
      val fsys = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val md = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$path/manifest"))
        .map(_.getPath).sortBy(_.getName).last
      val in = fsys.open(md)
      val len = fsys.getFileStatus(md).getLen.toInt
      val buf = new Array[Byte](len)
      try in.readFully(0, buf) finally in.close()
      new String(buf, "UTF-8").split("\n").count(_.trim.nonEmpty)
    }
    val before = entryCount(store)
    TextAnalysis.compactBm25Index(spark, store)
    assert(res(store) == afterDelete,
      "compaction must be content-invisible to the served search")
    val after = entryCount(store)
    assert(after < before && after == 3,
      s"compaction must collapse to one postings + one ids + one stats " +
        s"entry, got $after (was $before)")
    // deleted ids are RELEASED by compaction: re-ingest now succeeds and
    // the search sees the re-ingested doc
    TextAnalysis.appendToBm25Index(
      Seq((2L, "rare common encore")).toDF("doc_id", "text"),
      "doc_id", "text", store, tag = 3L)
    assert(res(store) != afterDelete &&
      res(store).exists(_._1 == 2L),
      "a compaction-released id must be re-ingestable")
    // vacuum reclaims every superseded pre-compaction fileset; the
    // compacted + re-appended store still serves identically
    val reapped = res(store)
    val deleted = TextAnalysis.vacuumBm25Index(spark, store, keepLast = 1,
      graceMs = 0L)
    assert(deleted.nonEmpty, "superseded pre-compaction filesets must reclaim")
    assert(res(store) == reapped)
  }

  test("bm25 delete on a LEGACY store (ids without dl): postings fallback subtracts exact stats") {
    // stores written before this version recorded only (id) in the ids
    // filesets — deleteFromBm25Index must fall back to ONE postings
    // lookup for the deleted ids' dl and still equal the
    // rebuild-from-survivors truth
    val docs = Seq(
      (1L, "rare alpha beta gamma"),
      (2L, "common common common common"),
      (3L, "common delta epsilon zeta"),
      (4L, "rare common alpha")).toDF("doc_id", "text")
    val store = {
      val d = TestSpark.scratch("bm25_legacy")
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      d
    }
    TextAnalysis.buildBm25Index(docs, "doc_id", "text", store, nBuckets = 8)
    // DEGRADE the ids fileset to the legacy (id-only) layout in place:
    // rewrite each referenced parquet file without the dl column under
    // its exact manifest path
    val fsys = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val md = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$store/manifest"))
      .map(_.getPath).sortBy(_.getName).last
    val len = fsys.getFileStatus(md).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fsys.open(md)
    try in.readFully(0, buf) finally in.close()
    val idFiles = new String(buf, "UTF-8").split("\n").filter(_.trim.nonEmpty)
      .map(_.split(" ", 3)).filter(_(0) == "I").map(_(2))
    assert(idFiles.nonEmpty)
    idFiles.foreach { f =>
      val legacy = spark.read.parquet(f).select("id")
      val tmp = s"${TestSpark.scratch("bm25_legacy_tmp")}/rewrite"
      val tp = new org.apache.hadoop.fs.Path(tmp)
      fsys.delete(tp, true)
      legacy.coalesce(1).write.parquet(tmp)
      val part = fsys.listStatus(tp)
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      val dest = new org.apache.hadoop.fs.Path(f)
      fsys.delete(dest, false)
      assert(fsys.rename(part, dest))
    }
    assert(!spark.read.parquet(idFiles.head).columns.contains("dl"),
      "the fixture must actually be legacy-shaped")
    // delete one doc through the fallback path
    assert(TextAnalysis.deleteFromBm25Index(spark, store,
      Seq(2L).toDF("doc_id"), tag = 1L) == 1L)
    val survivors = {
      val d = TestSpark.scratch("bm25_legacy_ref")
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      d
    }
    TextAnalysis.buildBm25Index(docs.filter($"doc_id" =!= 2L),
      "doc_id", "text", survivors, nBuckets = 8)
    def res(path: String) = TextAnalysis.bm25SearchIndexed(
      spark, path, "doc_id", Seq("rare", "common"), k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(res(store) == res(survivors),
      "legacy-fallback delete must equal a rebuild from the survivors " +
        "(a wrong dl subtraction skews avgdl and every score)")
  }

  test("bm25 store emptied by deletes: designed error, compaction survives, store stays appendable") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val store = {
      val d = TestSpark.scratch("bm25_delall")
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      d
    }
    TextAnalysis.buildBm25Index(docs, "doc_id", "text", store, nBuckets = 4)
    assert(TextAnalysis.deleteFromBm25Index(spark, store,
      Seq(1L, 2L).toDF("doc_id"), tag = 1L) == 2L)
    // every doc tombstoned: the designed empty-corpus error, not an NPE
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bm25SearchIndexed(spark, store, "doc_id", Seq("beta"))
    }
    assert(e.getMessage.contains("empty corpus"), e.getMessage)
    // compaction of the emptied store commits cleanly (no postings
    // fileset, a zero stats row) and RELEASES the ids
    TextAnalysis.compactBm25Index(spark, store)
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.bm25SearchIndexed(spark, store, "doc_id", Seq("beta"))
    }
    assert(e2.getMessage.contains("empty corpus"), e2.getMessage)
    // the store stays APPENDABLE after emptying: re-ingest the docs and
    // search serves them again
    TextAnalysis.appendToBm25Index(docs, "doc_id", "text", store, tag = 2L)
    assert(TextAnalysis.bm25SearchIndexed(spark, store, "doc_id",
      Seq("beta"), k = 10).count() == 2L)
  }

  test("count store: compaction merges filesets, serving hash-identical, probes and appends keep working") {
    val docs = Seq(
      (1L, "new york is a big city"),
      (2L, "new york never sleeps and new york is loud"),
      (3L, "the city that never sleeps"),
      (4L, "big apple big city new york"),
      (5L, "a city is a city")).toDF("doc_id", "text")
    val store = {
      val d = TestSpark.scratch("countstore_compact")
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      d
    }
    TextAnalysis.buildCountStore(docs.filter($"doc_id" <= 2), "text", store,
      nBuckets = 8)
    TextAnalysis.appendToCountStore(docs.filter($"doc_id".between(3, 4)),
      "text", store, tag = 1L)
    TextAnalysis.appendToCountStore(docs.filter($"doc_id" === 5), "text",
      store, tag = 2L)
    def served = TextAnalysis.collocationsFromStore(spark, store,
      minCount = 2L, k = 20).as[(String, String, Long, Double)].collect().toSeq
    val before = served
    TextAnalysis.compactCountStore(spark, store)
    assert(served == before,
      "compaction must be content-invisible to the served PMI")
    // one uni + one big + one tot entry after compaction
    val fsys = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val md = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$store/manifest"))
      .map(_.getPath).sortBy(_.getName).last
    val len = fsys.getFileStatus(md).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fsys.open(md)
    try in.readFully(0, buf) finally in.close()
    val kinds = new String(buf, "UTF-8").split("\n").filter(_.trim.nonEmpty)
      .map(_.split(" ", 3)(0)).toSeq
    assert(kinds.sorted == Seq("B", "T", "U"),
      s"compaction must collapse to one fileset per kind, got $kinds")
    // point probe still directory-prunes and answers exactly
    assert(TextAnalysis.wordCountIndexed(spark, store, "york") == 4L)
    assert(TextAnalysis.wordCountIndexed(spark, store, "zebra") == 0L)
    // the store stays appendable after compaction, counts additive
    TextAnalysis.appendToCountStore(
      Seq((6L, "york city york")).toDF("doc_id", "text"), "text", store,
      tag = 3L)
    assert(TextAnalysis.wordCountIndexed(spark, store, "york") == 6L)
    // vacuum reclaims the superseded pre-compaction filesets
    assert(TextAnalysis.vacuumCountStore(spark, store, keepLast = 1,
      graceMs = 0L).nonEmpty)
    assert(TextAnalysis.wordCountIndexed(spark, store, "york") == 6L)
  }

  test("count store: batched ingest ≡ one-shot; replayed tag exactly-once; point probe; vacuum") {
    val docs = Seq(
      (1L, "new york is a big city"),
      (2L, "new york never sleeps and new york is loud"),
      (3L, "the city that never sleeps"),
      (4L, "big apple big city new york"),
      (5L, "a city is a city")).toDF("doc_id", "text")
    def fresh(name: String): String = {
      val d = TestSpark.scratch(name)
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      d
    }
    val store = fresh("countstore")
    TextAnalysis.buildCountStore(docs.filter($"doc_id" <= 2), "text", store,
      nBuckets = 8)
    TextAnalysis.appendToCountStore(docs.filter($"doc_id" > 2), "text", store,
      tag = 1L)
    def served = TextAnalysis.collocationsFromStore(spark, store,
      minCount = 2L, k = 20).as[(String, String, Long, Double)].collect().toSeq
    val oneShot = TextAnalysis.collocations(docs, "text", minCount = 2L, k = 20)
      .as[(String, String, Long, Double)].collect().toSeq
    val before = served
    assert(before == oneShot,
      "batched count-store PMI must equal the one-shot corpus scan exactly")
    assert(before.exists(p => p._1 == "new" && p._2 == "york"),
      s"'new york' must surface as a collocation: $before")
    // replayed tag (crash-recovery at-least-once): content exactly-once
    TextAnalysis.appendToCountStore(docs.filter($"doc_id" > 2), "text", store,
      tag = 1L)
    assert(served == before, "replayed tag must not double-count")
    // point probe: one bucket per word, exact counts, 0 for unseen
    assert(TextAnalysis.wordCountIndexed(spark, store, "york") == 4L)
    assert(TextAnalysis.wordCountIndexed(spark, store, "city") == 5L)
    assert(TextAnalysis.wordCountIndexed(spark, store, "zebra") == 0L)
    // vacuum reclaims the superseded fileset; serving is unchanged
    val deleted = TextAnalysis.vacuumCountStore(spark, store, keepLast = 1,
      graceMs = 0L)
    assert(deleted.nonEmpty, "the superseded tag-1 filesets must be reclaimed")
    assert(served == before)
    // a second build refuses (append is the API)
    intercept[IllegalArgumentException](
      TextAnalysis.buildCountStore(docs, "text", store))
  }

  test("collocations: hand-computed PMI, minCount floor, deterministic tie order") {
    // corpus: [a b a b], [a c] -> T=6 (a:3 b:2 c:1); bigram positions:
    // (a,b)x2 (b,a)x1 (a,c)x1, B=4
    // PMI(a,b) = ln((2/4)/((3/6)(2/6))) = ln 3 ; PMI(a,c) = ln 3
    // PMI(b,a) = ln((1/4)/((2/6)(3/6))) = ln 1.5
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "text", minCount = 1L, k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    def r4(x: Double) = math.rint(x * 10000) / 10000
    assert(got == Seq(
      ("a", "b", 2L, r4(math.log(3.0))),
      ("a", "c", 1L, r4(math.log(3.0))),
      ("b", "a", 1L, r4(math.log(1.5)))), s"got $got")
    // minCount suppresses hapax pairs
    val floored = TextAnalysis.collocations(docs, "text", minCount = 2L, k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(floored.map(t => (t._1, t._2)) == Seq(("a", "b")))
  }

  test("bm25 store of only empty batches fails search with the designed empty-corpus error") {
    val d = TestSpark.scratch("bm25_empty")
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    TextAnalysis.buildBm25Index(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", d)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bm25SearchIndexed(spark, d, "doc_id", Seq("rare"))
    }
    assert(e.getMessage.contains("empty corpus"),
      s"want the designed message, not an NPE: ${e.getMessage}")
  }

  test("bigram LM: exact hand-computed value; interpolation bounds hold") {
    // "x y x y": bigrams (x,y) m=2, (y,x) m=1; uni x=2 y=2 total=4
    // p(x,y) = .5*(2/2) + .5*(2/4) = .75 ; p(y,x) = .5*(1/2) + .5*(2/4) = .5
    // score = (2*-ln(.75) + 1*-ln(.5)) / 3
    val df = Seq((1L, "x y x y")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLmScore(df, "doc_id", "text").collect()(0)
    assert(r.getLong(1) == 3L)
    val expected = (2.0 * -math.log(0.75) + -math.log(0.5)) / 3.0
    assert(math.abs(r.getDouble(2) - math.rint(expected * 10000) / 10000) < 1e-9)
    // single-token and empty docs have no bigram position and no row
    val short = Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text")
    assert(TextAnalysis.bigramLmScore(short, "doc_id", "text").count() == 0)
    // on real docs: every score is positive (p < 1 whenever the corpus
    // has more than one distinct word) and finite
    val real = TextAnalysis.bigramLmScore(
      Tables.load(spark, TestSpark.sf, "documents").limit(100), "doc_id", "text")
      .collect()
    assert(real.nonEmpty)
    real.foreach { row =>
      val s = row.getDouble(2)
      assert(s > 0.0 && !s.isNaN && !s.isInfinite)
    }
  }

  test("hashedBow: unit norm, counts match an md5 replica, feeds ANN search") {
    val docs = Tables.load(spark, TestSpark.sf, "documents").limit(100)
    val dim = 64
    val got = TextAnalysis.hashedBow(docs, "doc_id", "text", dim).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got.values.forall(_.size == dim))
    // driver-side replica of the bucket arithmetic
    def toks(s: String): Seq[String] =
      s.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
    def bucket(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md, 16) % dim).toInt
    }
    docs.select("doc_id", "text").collect().foreach { r =>
      val ts = toks(r.getString(1))
      val counts = Array.fill(dim)(0.0)
      ts.foreach(t => counts(bucket(t)) += 1.0)
      val norm = math.sqrt(counts.foldLeft(0.0)((a, x) => a + x * x))
      val expect =
        if (norm == 0.0) counts.toSeq
        else counts.map(x => BigDecimal(x / norm)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).toSeq
      assert(got(r.getLong(0)) == expect, s"doc ${r.getLong(0)}")
    }
    // non-empty docs are unit vectors (up to the per-element rounding)
    got.values.filter(_.exists(_ != 0.0)).foreach { v =>
      val n2 = v.map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 0.05, s"norm^2=$n2")
    }
    // the output is a drop-in corpus for the similarity operators
    val hits = SimilaritySearch.bruteForceTopK(
      TextAnalysis.hashedBow(docs, "doc_id", "text", dim), "doc_id", "embedding",
      TextAnalysis.hashedBow(docs.filter(col("doc_id") < 2), "doc_id", "text", dim),
      "doc_id", "embedding", k = 3)
    assert(hits.filter(col("qid") === col("id") && col("rk") === 1).count() == 2,
      "each doc's nearest neighbor in hashed-BoW space is itself")
  }

  test("tokens, counts and ratios on fixed strings") {
    assert(one(T.wordCount(lit("Hello, world! 42"))).getInt(0) == 3)
    assert(one(T.wordCount(lit(""))).getInt(0) == 0)
    assert(one(T.punctRatio(lit("ab,.")) ).getDouble(0) == 0.5)
    assert(one(T.avgWordLength(lit("ab abcd"))).getDouble(0) == 3.0)
    assert(one(T.bpeishTokenCount(lit("don't stop"))).getInt(0) == 4) // don ' t stop
  }

  test("language id picks the stopword-dominant language") {
    assert(one(T.langId(lit("the cat and the dog are in the house"))).getString(0) == "en")
    assert(one(T.langId(lit("der Hund und die Katze sind nicht hier"))).getString(0) == "de")
    assert(one(T.langId(lit("le chat et le chien sont dans la maison"))).getString(0) == "fr")
    assert(one(T.langId(lit("xyzzy qwerty plugh"))).getString(0) == "und")
  }

  test("winnowing fingerprint: deterministic, shared content -> shared hashes") {
    val fp1 = one(T.winnowingFingerprint(lit("spark parquet engine for analytics"))).getSeq[Long](0).toSet
    val fp2 = one(T.winnowingFingerprint(lit("spark parquet engine for analytics"))).getSeq[Long](0).toSet
    assert(fp1 == fp2 && fp1.nonEmpty)
    val fp3 = one(T.winnowingFingerprint(lit("spark parquet engine for analytics and more text here"))).getSeq[Long](0).toSet
    assert(fp1.intersect(fp3).nonEmpty, "shared prefix must share fingerprint hashes")
    val fp4 = one(T.winnowingFingerprint(lit("totally unrelated words entirely"))).getSeq[Long](0).toSet
    assert(fp1.intersect(fp4).isEmpty)
  }

  test("quality score lands in [0,1] and separates dense prose from junk") {
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val scores = TextAnalysis.analyze(docs, "doc_id", "text")
      .select("quality").collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    val junk = one(T.qualityScore(lit("!!! ??? ,,, ..."))).getDouble(0)
    val prose = one(T.qualityScore(lit(
      "the engine reads the table and it is fast for all of the queries that we run on it " * 3))).getDouble(0)
    assert(prose > junk)
  }

  test("vector functions: cosine of identical/orthogonal vectors") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      V.cosine(col("a"), col("b")).as("same"),
      V.cosine(col("a"), col("c")).as("orth"),
      V.dot(col("a"), col("c")).as("d"),
      V.l2Distance(col("a"), col("c")).as("l2")).first()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(1)) < 1e-9)
    assert(r.getDouble(2) == 0.0)
    assert(math.abs(r.getDouble(3) - math.sqrt(2)) < 1e-9)
  }

  test("mixed float/double vectors fail analysis; length mismatch fails loudly") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0, 0.0), Array(1.0, 0.0, 5.0)))
      .toDF("f", "d", "d3")
    // float-vs-double mix: rejected at analysis (the kernel picks its
    // accessor from the left side — a mix would read garbage)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.select(graft.functions.expr.GraftFunctions.cosine(col("f"), col("d"))).collect())
    assert(e.getMessage.contains("graft_cosine"))
    // dimension mismatch: loud runtime failure, not a truncated score
    val e2 = intercept[Throwable](
      df.select(graft.functions.expr.GraftFunctions.cosine(col("d"), col("d3"))).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e2).exists(_.contains("length mismatch")), messages(e2).toString)
  }

  test("hamming64 via bit_count xor") {
    val df = Seq((0L, -1L)).toDF("a", "b")
    assert(df.select(H.hamming64(col("a"), col("b"))).first().getInt(0) == 64)
    assert(df.select(H.hamming64(col("a"), col("a"))).first().getInt(0) == 0)
  }
}
