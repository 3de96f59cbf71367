package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expr.GraftFunctions
import graft.operators.{Dedup, Layout}

/** Generative (scalacheck) properties over the native kernels, each
  * checked against an INDEPENDENT pure-Scala reference implemented here —
  * so the Catalyst expressions and the plain-JVM math cannot drift apart
  * on inputs no hand-written fixture thought of (empty arrays, duplicate
  * tokens, negative values, boundary dimensions). Generation is seeded:
  * the same cases replay on every run.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, rng.Seed(seed + i)))

  test("sortedIntersectSize equals set-intersection size on random sorted arrays") {
    val arr = Gen.chooseNum(0, 40).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(-50L, 50L).map(v => s"s$v")))
    val cases = sample(Gen.zip(arr, arr), 300, 1001L)
      .map { case (a, b) => (a.distinct.sorted.toArray, b.distinct.sorted.toArray) }
    val got = cases.toDF("a", "b")
      .select(GraftFunctions.sortedIntersectSize(col("a"), col("b")))
      .collect().map(_.getInt(0))
    cases.zip(got).foreach { case ((a, b), g) =>
      assert(g == a.toSet.intersect(b.toSet).size,
        s"intersect mismatch: ${a.toSeq} ∩ ${b.toSeq}")
    }
  }

  test("kernels reject wrong-typed inputs at analysis instead of misreading memory") {
    // the raw-ArrayData kernels reinterpret wrong-typed slots silently
    // (a long array fed to the string-merge kernel RETURNED GARBAGE —
    // found by the generative test above before the type checks landed);
    // every native expression must therefore fail ANALYSIS on them
    val longs = Seq((Array(1L, 2L, 3L), Array(2L, 3L, 4L))).toDF("a", "b")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      longs.select(GraftFunctions.sortedIntersectSize(col("a"), col("b"))).collect()
    }
    assert(e1.getMessage.contains("graft_sorted_intersect_size"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      longs.select(GraftFunctions.simhash64(col("a"))).collect()
    }
    assert(e2.getMessage.contains("graft_simhash64"))
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      longs.select(GraftFunctions.cosine(col("a"), col("b"))).collect()
    }
    assert(e3.getMessage.contains("graft_cosine"))
    val e4 = intercept[org.apache.spark.sql.AnalysisException] {
      longs.select(GraftFunctions.minhashSignature(col("a"), 4)).collect()
    }
    assert(e4.getMessage.contains("graft_minhash_signature"))
    val e5 = intercept[org.apache.spark.sql.AnalysisException] {
      longs.select(GraftFunctions.hyperplaneSignature(col("a"),
        Array(Array(1.0, 2.0, 3.0)))).collect()
    }
    assert(e5.getMessage.contains("graft_hyperplane_sig"))
    val e6 = intercept[org.apache.spark.sql.AnalysisException] {
      longs.select(GraftFunctions.windowHashes(col("a"), 2)).collect()
    }
    assert(e6.getMessage.contains("graft_window_hashes"))
  }

  test("jaccard equals |A∩B| / |A∪B| on random token arrays") {
    val tok = Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
    val arr = Gen.chooseNum(0, 12).flatMap(k => Gen.listOfN(k, tok))
    val cases = sample(Gen.zip(arr, arr), 300, 2002L)
    val got = cases.toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b"))).collect().map(_.getDouble(0))
    cases.zip(got).foreach { case ((a, b), g) =>
      val (sa, sb) = (a.toSet, b.toSet)
      val expect =
        if (sa.union(sb).isEmpty) 0.0
        else sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(g - expect) < 1e-12, s"jaccard mismatch: $a vs $b")
    }
  }

  test("cosine kernel equals the plain-JVM formula on random float vectors") {
    val vec = Gen.listOfN(16, Gen.chooseNum(-5.0, 5.0).map(_.toFloat))
    val cases = sample(Gen.zip(vec, vec), 300, 3003L)
    val got = cases.toDF("a", "b")
      .select(GraftFunctions.cosine(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    cases.zip(got).foreach { case ((a, b), g) =>
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      val expect = if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
      assert(math.abs(g - expect) < 1e-9, s"cosine mismatch: $a vs $b")
    }
  }

  test("minhash signature is order- and duplicate-invariant, fixed length") {
    val tok = Gen.oneOf("t1", "t2", "t3", "t4", "t5", "t6")
    val arr = Gen.chooseNum(1, 10).flatMap(k => Gen.listOfN(k, tok))
    val cases = sample(arr, 200, 4004L)
    // each case evaluated twice: as-is, and shuffled+deduped — a MinHash
    // over a SET must not see order or multiplicity
    val df = cases.zipWithIndex.flatMap { case (ts, i) =>
      val variant = new scala.util.Random(i).shuffle(ts.distinct)
      Seq((i, 0, ts.distinct), (i, 1, variant))
    }.toDF("case_id", "variant", "toks")
    val sigs = df.select(col("case_id"), col("variant"),
      GraftFunctions.minhashSignature(col("toks"), 8).as("sig"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2)).toMap
    cases.indices.foreach { i =>
      assert(sigs((i, 0)).length == 8)
      assert(sigs((i, 0)) == sigs((i, 1)),
        s"signature must depend on the token SET only: case $i")
    }
  }

  test("LSH band keys: the cast form equals the per-element transform form and generates code") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import graft.functions.HashFunctions
    val (bands, rows) = (4, 3)
    // the form band keys had before: a per-element cast inside transform
    def reference(sig: org.apache.spark.sql.Column) =
      array((0 until bands).map { b =>
        struct(lit(b).as("band"), xxhash64(lit(b), concat_ws(",",
          transform(slice(sig, b * rows + 1, rows), _.cast("string")))).as("key"))
      }: _*)
    val value = Gen.frequency(
      8 -> Gen.chooseNum(Long.MinValue, Long.MaxValue),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, -1L, 0L))
    val sigs = sample(Gen.listOfN(bands * rows, value), 300, 6006L)
    val random = sigs.toDF("sig")
    // the signature minhashSignature gives an empty shingle set
    val empty = Seq(Seq.empty[String]).toDF("sh")
      .select(GraftFunctions.minhashSignature(col("sh"), bands * rows).as("sig"))
    // the exchange keeps the projections out of the optimizer's
    // local-relation folding, so they run as planned
    val all = random.unionByName(empty).repartition(2)
    val both = all.select(HashFunctions.lshBandKeys(col("sig"), bands, rows).as("k"),
      reference(col("sig")).as("r"))
    val differing = both.filter(col("k") =!= col("r")).count()
    assert(all.count() == 301 && differing == 0, s"$differing rows differ")
    def fallbacks(df: org.apache.spark.sql.DataFrame) = {
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      plan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case e: CodegenFallback => e.prettyName })
    }
    assert(fallbacks(all.select(reference(col("sig")))).nonEmpty,
      "the scan must see the reference form's interpreted lambda")
    val got = fallbacks(all.select(HashFunctions.lshBandKeys(col("sig"), bands, rows)))
    assert(got.isEmpty, s"band keys run interpreted: $got")
  }

  test("simhash64 is order-invariant and identical inputs collide at hamming 0") {
    val tok = Gen.oneOf("w1", "w2", "w3", "w4", "w5")
    val arr = Gen.chooseNum(1, 12).flatMap(k => Gen.listOfN(k, tok))
    val cases = sample(arr, 200, 5005L)
    val df = cases.zipWithIndex.flatMap { case (ts, i) =>
      Seq((i, 0, ts), (i, 1, new scala.util.Random(i * 31).shuffle(ts)))
    }.toDF("case_id", "variant", "toks")
    val sigs = df.select(col("case_id"), col("variant"),
      GraftFunctions.simhash64(col("toks")).as("sig"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    cases.indices.foreach { i =>
      assert(sigs((i, 0)) == sigs((i, 1)),
        s"simhash must be order-invariant (same multiset): case $i")
    }
  }

  test("window hashes: count = n-w+1 and equal windows hash equal") {
    val w = 3
    val tok = Gen.oneOf("x", "y", "z") // tiny alphabet forces repeats
    val arr = Gen.chooseNum(0, 20).flatMap(k => Gen.listOfN(k, tok))
    val cases = sample(arr, 200, 6006L)
    val got = cases.toDF("toks")
      .select(GraftFunctions.windowHashes(col("toks"), w))
      .collect().map(_.getSeq[Long](0))
    cases.zip(got).foreach { case (ts, hs) =>
      assert(hs.length == math.max(0, ts.length - w + 1),
        s"window count: ${ts.length} tokens -> ${hs.length} hashes")
      // same token window => same rolling hash, at every offset pair
      for (i <- hs.indices; j <- hs.indices if i < j)
        if (ts.slice(i, i + w) == ts.slice(j, j + w))
          assert(hs(i) == hs(j), s"equal windows must hash equal: $ts ($i,$j)")
    }
  }

  test("z-order interleave is a bijection on the bucket grid") {
    val b = Gen.chooseNum(0L, 255L)
    val cases = sample(Gen.zip(b, b), 400, 7007L).distinct
    // min=0, max=255 -> span 256 with bits=8 makes bucket(x) = x, so the
    // z values ARE the raw Morton codes of the pairs
    val base = cases.toDF("x", "y")
    val zs = Layout.withZValue(
      base.union(Seq((0L, 0L), (255L, 255L)).toDF("x", "y")), "x", "y", 8)
      .select("x", "y", "z").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def deinterleave(z: Long): (Long, Long) = {
      var x = 0L; var y = 0L
      var i = 0
      while (i < 8) {
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
        i += 1
      }
      (x, y)
    }
    zs.foreach { case ((x, y), z) =>
      assert(z >= 0L && z < 65536L)
      assert(deinterleave(z) == ((x, y)), s"z=$z must decode to ($x,$y)")
    }
    // distinct cells -> distinct codes (injectivity over the sample)
    assert(zs.values.toSeq.distinct.length == zs.size)
  }
}
