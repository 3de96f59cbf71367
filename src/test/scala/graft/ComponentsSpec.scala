package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Components

class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side union-find oracle. */
  private def ufOracle(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(x => x -> find(x)).toMap
  }

  test("reliable checkpointDir: the result survives losing every cached block") {
    // the durability mode for long cluster runs: with a checkpoint dir,
    // each round's truncated lineage is backed by FILES, so dropping all
    // executor blocks (the simulated executor loss) recomputes instead
    // of failing — localCheckpoint's documented weakness
    val ckDir = TestSpark.scratch("cc_reliable_ck")
    val rnd = new scala.util.Random(23)
    val edges = (0 until 300).map(_ => (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      .filter { case (a, b) => a != b }
    val comp = Components.connectedComponents(edges.toDF("a", "b"),
      checkpointDir = Some(ckDir))
    val before = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // simulated loss: every cached block in the JVM goes away
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    val after = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before, "recomputation from checkpoint files must reproduce the labeling")
    assert(before == ufOracle(100, edges), "and match the union-find oracle")
  }

  test("a long chain collapses to one component in O(log n) rounds") {
    // chain 0-1-2-...-400: diameter 400 forces pointer jumping — plain
    // min-propagation would need 400 rounds and trip maxIter
    val edges = (0L until 400L).map(i => (i, i + 1))
    val comp = Components.connectedComponents(edges.toDF("a", "b"), maxIter = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 401)
    assert(comp.values.forall(_ == 0L))
  }

  test("matches a union-find oracle on a multi-component graph") {
    val edges: Seq[(Long, Long)] =
      Seq((1L, 5L), (5L, 9L), (9L, 1L),      // triangle with a cycle
        (20L, 21L), (21L, 22L),              // chain
        (30L, 31L),                          // pair
        (40L, 41L), (42L, 41L), (40L, 43L))  // star-ish
    val got = Components.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ufOracle(50, edges)
    assert(got == want)
  }

  test("clusterSurvivors keeps min id per cluster plus all singletons") {
    val docs = (1L to 10L).map(i => (i, s"doc$i")).toDF("id", "text")
    val pairs = Seq((2L, 3L), (3L, 4L), (7L, 8L)).toDF("a", "b")
    val kept = Components.clusterSurvivors(docs, "id", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    // {2,3,4} -> 2; {7,8} -> 7; singletons 1,5,6,9,10 stay
    assert(kept == Set(1L, 2L, 5L, 6L, 7L, 9L, 10L))
  }

  test("string ids are rejected instead of silently casting to NULL") {
    val e = intercept[IllegalArgumentException](
      Components.connectedComponents(
        Seq(("doc_a", "doc_b")).toDF("a", "b")))
    assert(e.getMessage.contains("integral node ids"))
  }

  test("empty edge list yields an empty labeling") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(empty).count() == 0)
  }
  test("GraftExtensions session defaults: plain sessions get the AQE SHJ rewrite conf") {
    // the specs check the plans Bench, Verify and users run: the AQE
    // SMJ->SHJ rewrite threshold and the codegen cache size both reach
    // the test session through GraftExtensions.localSession
    assert(GraftExtensions.sessionDefaults(
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") == "64m")
    (GraftExtensions.sessionDefaults ++ GraftExtensions.staticDefaults).foreach {
      case (k, v) => assert(spark.conf.get(k) == v, k)
    }
    assert(spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) == 10000)
    // a plain session on the same context starts from the context's conf,
    // where the builder put the defaults: it needs no separate apply step
    val s2 = spark.newSession()
    GraftExtensions.sessionDefaults.foreach {
      case (k, v) => assert(s2.conf.get(k) == v, k)
    }
  }
}
