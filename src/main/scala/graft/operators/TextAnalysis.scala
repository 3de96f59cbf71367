package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.functions.expr.GraftFunctions

/** Text-analysis surface over a documents table — language ID, quality
  * scoring, token counting, fingerprinting. Every column is a codegen'd
  * builtin expression (TextFunctions), so this is a single narrow
  * projection stage: no shuffle, scales with scan throughput.
  */
object TextAnalysis {

  def analyze(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      T.langId(col(textCol)).as("lang_pred"),
      // long-typed counts: size()/length() are int32 in Spark, BIGINT in DuckDB
      T.wordCount(col(textCol)).cast("long").as("n_words"),
      T.bpeishTokenCount(col(textCol)).cast("long").as("n_tokens"),
      length(col(textCol)).cast("long").as("n_chars"),
      round(T.punctRatio(col(textCol)), 4).as("punct_ratio"),
      round(T.stopwordRatio(col(textCol)), 4).as("stopword_ratio"),
      round(T.avgWordLength(col(textCol)), 4).as("avg_word_len"),
      T.qualityScore(col(textCol)).as("quality"))

  /** Hashing-trick bag-of-words featurization: each document becomes an
    * l2-normalized `dim`-dimensional count vector, bucket = md5(token)
    * mod dim. The model-free featurizer that connects a text corpus to
    * the embedding operators (ann_*, dedup_embedding, dedup_semantic)
    * when no learned encoder is available.
    *
    * Engine-portable by construction: md5 is identical everywhere (unlike
    * xxhash64 seeds), counts are integers, the norm folds squares in
    * array order (exact in double for integer counts), so the DuckDB
    * oracle hash-matches. Everything happens WITHIN the row (O(dim·n)
    * filter-count per doc) — a single projection stage, no shuffle: at
    * corpus scale this streams with the scan, where a groupBy(doc,
    * bucket) formulation would shuffle n·tokens rows.
    */
  def hashedBow(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    // tokenize + bucket + count + normalize in one codegen'd kernel: the
    // builtin md5→hex→conv→filter-count chain measured ~3 ms/doc (string
    // round-trips per token); the kernel is ~30× cheaper with identical
    // output (spec-pinned against an independent md5 replica)
    docs.select(col(idCol),
      GraftFunctions.hashedBow(T.tokens(col(textCol)), dim).as("embedding"))
  }

  /** Unigram language-model score: per document, the mean surprisal
    * -ln p(w) of its tokens under the corpus's own unigram distribution —
    * the model-free stand-in for perplexity filtering (docs full of rare
    * junk score high, regular prose scores low).
    *
    * Scale shape: one (id, word) aggregation, one word-count aggregation
    * (vocabulary-sized), a join on word, and a re-group by id — all
    * narrow rows. Determinism: the per-doc double sum runs over the
    * word-sorted term list via a sequential fold, so the float additions
    * happen in one fixed order on any partitioning/engine (the oracle
    * folds the identically-sorted list).
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = docs
      .select(col(idCol).as("id"), explode(T.tokens(col(textCol))).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("m"))
    val tf = pairs.groupBy("w").agg(sum("m").as("cnt"))
    val tot = tf.agg(sum("cnt").as("total"))
    val terms = pairs.join(tf, "w").crossJoin(broadcast(tot))
      .select(col("id"),
        struct(col("w"),
          (col("m").cast("double") *
            -log(col("cnt").cast("double") / col("total").cast("double"))).as("term")).as("wt"),
        col("m"))
    terms.groupBy("id")
      .agg(collect_list(col("wt")).as("l"), sum("m").as("n"))
      .select(col("id").as(idCol),
        col("n").cast("long").as("n_words"),
        round(
          expr("aggregate(array_sort(l), cast(0.0 as double), (a, x) -> a + x.term)")
            / col("n"), 4).as("avg_neg_logp"))
  }

  /** Interpolated bigram LM mean surprisal — the count-based form of the
    * CCNet/KenLM-style LM-perplexity quality signal (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC 2020 uses a trained KenLM; this is the same signal from
    * corpus-internal counts): per bigram position,
    * p = λ·(cnt(w1,w2)/cnt(w1)) + (1-λ)·(cnt(w2)/total), score = mean
    * -ln p over the doc's bigram positions. Docs with < 2 tokens have no
    * bigram position and are absent from the output (mirroring the
    * oracle's joins). Default λ = 0.5: exactly representable in binary,
    * so the Spark and DuckDB interpolations are the same doubles.
    *
    * Distributed shape: two corpus-wide count tables (unigram + bigram —
    * vocabulary-sized, map-side partial aggregation), then each doc's
    * DISTINCT bigrams join against them; the per-doc sum folds over the
    * (w1, w2)-sorted term list so double addition happens in one fixed
    * order on any partitioning — the [[lmScore]] determinism contract.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.5): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), T.tokens(col(textCol)).as("ts"))
    val pairs = toks.filter(size(col("ts")) >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))).as("b"))
      .groupBy(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("m"))
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val tot = uni.agg(sum("cnt").as("total"))
    val bc = pairs.groupBy("w1", "w2").agg(sum("m").as("bcnt"))
    val terms = pairs
      .join(bc, Seq("w1", "w2"))
      .join(uni.select(col("w").as("w1"), col("cnt").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cnt").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("id"), col("m"),
        struct(col("w1"), col("w2"),
          (col("m").cast("double") * -log(
            lit(lambda) * (col("bcnt").cast("double") / col("c1").cast("double")) +
              lit(1.0 - lambda) * (col("c2").cast("double") / col("total").cast("double"))))
            .as("term")).as("wt"))
    terms.groupBy("id")
      .agg(collect_list(col("wt")).as("l"), sum("m").as("n"))
      .select(col("id").as(idCol),
        col("n").cast("long").as("n_bigrams"),
        round(
          expr("aggregate(array_sort(l), cast(0.0 as double), (a, x) -> a + x.term)")
            / col("n"), 4).as("avg_neg_logp"))
  }

  /** TF-IDF keyword extraction: the top `k` terms per document by
    * tf·idf, idf = ln(N/df) with N = documents holding >= 1 token and
    * df = documents containing the word. The classic tagging/retrieval
    * primitive over a corpus — two vocabulary-sized aggregates (term
    * frequency per doc, document frequency per word) and a two-stage
    * per-doc top-k ([[TopK.perKey]] — no full sort of the posting list).
    *
    * Ranking compares the score ROUNDED to 4 decimals (ties broken by
    * word): the unrounded score is m·ln(N/df), and two near-equal
    * scores could order differently across engines on ln()'s last ulp —
    * rounding first pins one cross-engine order (the same decimal
    * lockstep the k-means means rely on), which is what lets the
    * text_keywords oracle replay the ranking exactly.
    */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val pairs = docs
      .select(col(idCol).as("id"), explode(T.tokens(col(textCol))).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("m"))
    val dfreq = pairs.groupBy("w").agg(count(lit(1)).as("df"))
    // N rides as a broadcast one-row aggregate (no eager count, no
    // driver-side constant folding of a corpus-dependent value)
    val nd = pairs.agg(count_distinct(col("id")).as("nd"))
    val scored = pairs.join(dfreq, "w").crossJoin(broadcast(nd))
      .withColumn("tfidf", round(
        col("m").cast("double") *
          log(col("nd").cast("double") / col("df").cast("double")), 4))
    TopK.perKey(scored, "id", Seq(col("tfidf").desc, col("w").asc), k, "rk")
      .select(col("id").as(idCol), col("rk").cast("long").as("rk"),
        col("w").as("word"), col("tfidf"))
      .orderBy(idCol, "rk")
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones; the Lucene
    * `1 + (N - df + 0.5)/(df + 0.5)` idf variant): score every document
    * against `terms`, return the global top `k` with ranks.
    *
    * Scale shape — an inverted-index probe expressed as a Spark plan:
    * tokens are FILTERED TO THE QUERY TERMS before any shuffle (at
    * corpus scale only matching postings leave the scan stage), term
    * frequencies groupBy (doc, term) on that filtered stream, document
    * frequencies reduce the tf rows again (tiny — one row per matched
    * doc-term), and both df and the corpus stats (N, avgdl — one
    * aggregate row) join back as broadcasts. The global top-k is
    * orderBy+limit (TakeOrdered — no full sort materialization); the
    * rank window then runs over k rows only, so its single partition is
    * bounded by construction, never by data size.
    *
    * Determinism: the per-doc score sums at most `terms.length` doubles;
    * round(4) absorbs ulp-order variation (the text_lm_score precedent),
    * and the rank orders by (rounded score, id) so ties are stable
    * cross-engine.
    */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Search needs at least one query term")
    val withDl = docs.select(col(idCol).as("id"), T.tokens(col(textCol)).as("ts"))
      .select(col("id"), col("ts"), size(col("ts")).cast("double").as("dl"))
    val st = withDl.agg(count(lit(1)).cast("double").as("nd"),
      avg(col("dl")).as("avgdl"))
    val tf = withDl.select(col("id"), col("dl"), explode(col("ts")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy("id", "w").agg(count(lit(1)).cast("double").as("tf"),
        any_value(col("dl")).as("dl"))
    val dfr = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(broadcast(dfr), "w").crossJoin(broadcast(st))
      .withColumn("contrib",
        log(lit(1.0) + (col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("id").agg(round(sum(col("contrib")), 4).as("score"))
    scored.orderBy(col("score").desc, col("id")).limit(k)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("id"))))
      .select(col("id").as(idCol), col("rk").cast("long").as("rk"), col("score"))
  }

  /** Persisted BM25 inverted index — [[bm25Search]]'s serving shape (the
    * ann_ivfpq_persisted pattern for text), MANIFEST-VERSIONED like
    * every other persisted store here ([[FilesetLog]]/[[ManifestCommit]]
    * — the DedupStore/NearDupStore treatment). ONE tokenize scan per
    * ingest batch writes:
    * {{{
    *   <path>/manifest/vNNNNN.manifest    the committed version: P + S lines
    *   <path>/postings/vNNNNN_<nonce>/bucket=<b>/   (w, id, tf, dl) — one
    *                        fileset per build/append, partitioned by
    *                        bucket = pmod(xxhash64(w), nBuckets)
    *   <path>/stats/vNNNNN_<nonce>/       one (n_docs, sum_dl, n_buckets)
    *                        row per fileset — ADDITIVE corpus stats
    * }}}
    * Postings and stats publish in ONE atomic manifest commit, so a
    * crash between the data writes leaves invisible orphans (vacuumable
    * via [[vacuumBm25Index]]), never new stats over old postings — the
    * mixed-state hazard of the previous two-overwrite layout.
    * [[appendToBm25Index]] adds a document batch as one new fileset +
    * one stats row, O(batch): nd and Σdl are additive (and EXACT — dl
    * values are integer token counts, so their double sums are exact
    * below 2^53 and avgdl = Σdl/nd is batch-split-invariant), while df
    * recomputes exactly from the loaded postings at query time.
    *
    * A term's postings live in exactly ONE bucket directory per
    * fileset, so query time reads only the buckets the query terms hash
    * into (directory-level partition pruning — plan-asserted) and
    * recomputes df exactly from those lists. Serving cost is O(query
    * terms' postings), never a corpus scan. nBuckets sizes directories,
    * not correctness — pick ~sqrt(vocab) to balance directory count vs
    * bucket width.
    */
  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = docs.sparkSession
    require(FilesetLog.current(spark, path).isEmpty,
      s"a BM25 store already exists under $path — appendToBm25Index for " +
        "new batches, or delete the store to rebuild")
    commitBm25Batch(docs, idCol, textCol, path, nBuckets, tag = 0L)
  }

  /** Append one DOCUMENT batch to a [[buildBm25Index]] store: one
    * tokenize scan of the batch, one postings fileset + one additive
    * stats row + one doc-id fileset, one atomic manifest commit —
    * O(batch), never a corpus rebuild. Post-append search ≡ a full
    * rebuild over the union (spec-asserted). Batches must be
    * doc-disjoint (re-ingesting a doc would double-count its postings)
    * — and the contract is ENFORCED, not just documented: each commit
    * records its doc ids as an ids fileset, and an append anti-checks
    * the batch against the store's known id space (a distributed join
    * on ids only — O(batch + store ids), metadata-sized rows) and
    * throws naming an offending id before anything commits. Stores
    * whose OLD batches predate ids filesets are checked against the
    * batches that carry them (documented partial coverage — the guard
    * is complete for any store maintained under this version).
    * Replay-safe like DedupStore.ingest: a re-run `tag` supersedes its
    * own earlier commit (the old fileset becomes a vacuumable orphan,
    * its ids EXCLUDED from the disjointness check), so crash-recovery
    * at-least-once stays exactly-once in store content. Single
    * maintainer.
    */
  def appendToBm25Index(docs: DataFrame, idCol: String, textCol: String,
      path: String, tag: Long): Unit = {
    require(tag >= 1, s"append tags are >= 1 (got $tag); 0 is the build")
    val spark = docs.sparkSession
    val es = FilesetLog.currentEntries(spark, path)
    require(es.nonEmpty, s"no BM25 store under $path — buildBm25Index first")
    val nBuckets = spark.read
      .parquet(es.filter(_.kind == StatsKind).map(_.file): _*)
      .select("n_buckets").head.getInt(0)
    commitBm25Batch(docs, idCol, textCol, path, nBuckets, tag)
  }

  private val PostingsKind = "P"
  private val StatsKind = "S"
  private val IdsKind = "I"
  private val TombKind = "X" // deleted-doc-id fileset (anti-joined at serve)

  /** Shared build/append body: write the batch's postings fileset
    * (bucket-partitioned directory — the manifest references its ROOT),
    * its one-row additive stats fileset, and its doc-id fileset (the
    * disjointness guard's id space), then publish all three in ONE
    * manifest commit, superseding any earlier commit of the same tag
    * (replay contract). An APPEND (tag >= 1) first proves the batch
    * doc-disjoint from every other retained batch's ids — the
    * double-count hazard dies here, not in a scaladoc.
    */
  private def commitBm25Batch(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int, tag: Long): Unit = {
    val spark = docs.sparkSession
    val cur = FilesetLog.current(spark, path)
    val all = cur.map(FilesetLog.entries(spark, path, _)).getOrElse(Seq.empty)
    val hist = all.filterNot(_.tag == tag)
    // disjointness guards, FUSED into one job (r18; was two batch scans):
    // (1) the batch itself must not carry a doc id twice — a
    // within-batch duplicate double-counts its postings just as silently
    // as a cross-batch one; (2) batch ids vs the RETAINED batches' id
    // space (same-tag filesets are being superseded — their ids don't
    // count). One groupBy(id) over the batch serves both: the per-id
    // counts answer (1) and the left join against the prior ids answers
    // (2), collected via ONE take(1) on the union of violations.
    val priorIdFiles = hist.filter(_.kind == IdsKind).map(_.file)
    val idCounts = docs.groupBy(col(idCol).as("id")).agg(count(lit(1)).as("n"))
    val offending =
      if (tag >= 1 && priorIdFiles.nonEmpty)
        idCounts.join(
            spark.read.parquet(priorIdFiles: _*)
              .select(col("id"), lit(true).as("seen")),
            Seq("id"), "left")
          .filter(col("n") > 1 || col("seen").isNotNull)
          .select("id", "n", "seen").take(1)
      else idCounts.filter(col("n") > 1)
        .select(col("id"), col("n"), lit(null).cast("boolean").as("seen"))
        .take(1)
    offending.headOption.foreach { r =>
      if (r.getLong(1) > 1)
        throw new IllegalArgumentException(
          s"batch carries document id ${r.get(0)} more than once — BM25 " +
            "postings would double-count; dedup the batch before ingest")
      else {
        // a TOMBSTONED id is still in the id space (its postings/ids
        // rows survive until compaction physically removes them) — name
        // the actual remedy, not a generic disjointness complaint
        val tombFiles = hist.filter(_.kind == TombKind).map(_.file)
        val tombed = tombFiles.nonEmpty && spark.read.parquet(tombFiles: _*)
          .filter(col("id") === lit(r.get(0))).take(1).nonEmpty
        throw new IllegalArgumentException(
          if (tombed)
            s"document id ${r.get(0)} was DELETED from the BM25 " +
              s"store under $path but its rows are not yet reclaimed — " +
              "compactBm25Index first, then re-ingest"
          else
            s"append batch re-ingests document id ${r.get(0)} " +
              s"already in the BM25 store under $path — batches must be " +
              "doc-disjoint (dedup upstream, e.g. DedupStore)")
      }
    }
    val v = cur.getOrElse(0L)
    val withDl = docs.select(col(idCol).as("id"), T.tokens(col(textCol)).as("ts"))
      .select(col("id"), col("ts"), size(col("ts")).cast("double").as("dl"))
    val postingsDir = s"$path/postings/" + f"v${v + 1}%05d" + s"_${FilesetLog.nonce()}"
    withDl.select(col("id"), col("dl"), explode(col("ts")).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).cast("double").as("tf"),
        any_value(col("dl")).as("dl"))
      .withColumn("bucket", pmod(xxhash64(col("w")), lit(nBuckets.toLong)))
      // cluster by bucket before the dynamic-partition write (guide: hash
      // distribution on the partition key): each bucket lands wholly in
      // one task, so the fileset is ONE file per bucket instead of
      // tasks x buckets small files, and the write runs nBuckets-wide
      // instead of inside however few partitions AQE coalesced the
      // aggregate to (locally that was ONE task sorting+writing all 64
      // bucket files serially). nBuckets is the store's own layout
      // parameter, so the fan-out scales with the store, not the host.
      .repartition(nBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(postingsDir)
    // an empty batch writes no bucket=* subdirs — such a fileset is
    // unreadable (no schema to infer) and contributes nothing: commit
    // only the stats row (n_docs = 0 keeps the additivity trivially)
    val f = FilesetLog.fs(spark, path)
    val hasPostings = f.listStatus(new Path(postingsDir))
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
    // ids carry the doc's token count too: a later delete subtracts the
    // doc's dl from the corpus stats by joining THIS doc-count-sized
    // table, never rescanning the postings
    val idFiles = FilesetLog.writeFileset(
      withDl.select(col("id"), col("dl")),
      s"$path/ids/" + f"v${v + 1}%05d" + s"_${FilesetLog.nonce()}")
    // the stats row aggregates the just-WRITTEN doc-count-sized ids
    // fileset instead of re-running the corpus tokenize scan a third
    // time (r17: a commit paid 3 full batch scans — postings, stats,
    // ids; now 2). Identical values: n_docs counts the same rows, and
    // sum_dl sums the same integer-valued doubles (< 2^53, exact in any
    // order — the scaladoc's additivity argument); an empty batch reads
    // an empty fileset, so n_docs = 0 and sum_dl = NULL, as before.
    val statsFiles = FilesetLog.writeFileset(
      spark.read.parquet(idFiles: _*)
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("n_buckets", lit(nBuckets)).coalesce(1),
      s"$path/stats/" + f"v${v + 1}%05d" + s"_${FilesetLog.nonce()}")
    // manifest lines carry the FILESYSTEM-QUALIFIED form (file:/…, like
    // writeFileset's listing) so vacuum's on-disk walk matches them
    val qualified = f.makeQualified(new Path(postingsDir)).toString
    FilesetLog.commit(spark, path, v + 1,
      hist ++
        (if (hasPostings) Seq(FilesetLog.Entry(PostingsKind, tag, qualified))
         else Seq.empty) ++
        statsFiles.map(FilesetLog.Entry(StatsKind, tag, _)) ++
        idFiles.map(FilesetLog.Entry(IdsKind, tag, _)))
  }

  /** Drop old store versions and unreferenced postings/stats/ids
    * filesets (crashed or superseded ingests) — [[FilesetLog.vacuum]]'s
    * grace contract. Postings manifest lines reference fileset ROOT
    * directories, so orphan detection walks directory roots.
    */
  def vacuumBm25Index(spark: org.apache.spark.sql.SparkSession, path: String,
      keepLast: Int = 1,
      graceMs: Long = SnapshotTable.DefaultVacuumGraceMs): Seq[String] = {
    require(keepLast >= 1, "keepLast >= 1")
    val f = FilesetLog.fs(spark, path)
    val vs = FilesetLog.versions(spark, path)
    val keep = vs.takeRight(keepLast)
    val referenced = keep.flatMap(FilesetLog.entries(spark, path, _))
      .map(_.file).toSet
    val horizon = System.currentTimeMillis() - graceMs
    // postings roots are one level below <path>/postings; stats files
    // one level below their fileset dirs under <path>/stats
    val postingRoots = {
      val root = new org.apache.hadoop.fs.Path(s"$path/postings")
      if (!f.exists(root)) Seq.empty[String]
      else f.listStatus(root).toSeq.filter(_.isDirectory)
        .filter(_.getModificationTime <= horizon)
        .map(_.getPath.toString)
    }
    // stats and ids filesets share a layout: parquet files one level
    // below their fileset dirs under <path>/<sub>
    def leafFiles(sub: String): Seq[String] = {
      val root = new org.apache.hadoop.fs.Path(s"$path/$sub")
      if (!f.exists(root)) Seq.empty[String]
      else f.listStatus(root).toSeq.filter(_.isDirectory)
        .flatMap(d => f.listStatus(d.getPath).toSeq)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")
          && s.getModificationTime <= horizon)
        .map(_.getPath.toString)
    }
    val doomed =
      (postingRoots ++ leafFiles("stats") ++ leafFiles("ids") ++
        leafFiles("tomb"))
        .filterNot(referenced.contains).sorted
    doomed.foreach(p => f.delete(new org.apache.hadoop.fs.Path(p), true))
    vs.dropRight(keepLast).foreach { v =>
      f.delete(FilesetLog.manifestPath(path, v), false)
    }
    doomed
  }

  /** DELETE documents from a [[buildBm25Index]] store — the tombstone
    * sidecar face ([[PqIndex]]'s ann_ivfpq_delete pattern for text):
    * one doc-id tombstone fileset plus one NEGATIVE additive stats row
    * (nd and Σdl are exact integer-valued sums, so subtraction is
    * exact), published in ONE atomic manifest commit. Serving
    * anti-joins the tombstones before scoring, and df recomputes from
    * the SURVIVING postings — search after a delete ≡ a rebuild from
    * the survivors (gated on exactly that oracle). Cost is O(delete
    * batch + store doc ids): the per-doc token counts ride in the ids
    * filesets since this version, so the stats adjustment never
    * rescans postings (a legacy store whose ids lack `dl` pays one
    * postings-side lookup for the deleted ids, documented below).
    *
    * `docIds` is a one-column frame of the ids to delete; every id
    * must exist in the store and not already be deleted (a typo'd
    * delete should fail loudly, and a double delete would
    * double-subtract the stats). `tag` shares the store's single
    * mutation tag space with appends (one maintainer, one monotone
    * sequence); a replayed tag supersedes its own earlier commit —
    * exactly-once content under at-least-once recovery, like every
    * store here. Deleted ids stay in the id space until
    * [[compactBm25Index]] physically reclaims their rows, so
    * re-ingesting one is refused until then (the append guard names
    * the remedy). Returns the number of documents deleted.
    */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, docIds: DataFrame, tag: Long): Long = {
    require(tag >= 1, s"mutation tags are >= 1 (got $tag); 0 is the build")
    require(docIds.columns.length == 1,
      s"docIds must be a one-column id frame, got ${docIds.columns.toSeq}")
    val cur = FilesetLog.current(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no BM25 store under $path — buildBm25Index first"))
    val all = FilesetLog.entries(spark, path, cur)
    val hist = all.filterNot(_.tag == tag) // replay: supersede own commit
    val ids = docIds.select(col(docIds.columns.head).as("id")).distinct()
    val idFiles = hist.filter(_.kind == IdsKind).map(_.file)
    require(idFiles.nonEmpty,
      s"BM25 store under $path has no ingested documents to delete from")
    // explicit schema so a LEGACY ids fileset (id only, pre-dl) serves
    // dl = NULL under by-name resolution instead of dropping the column
    // for every fileset in the read
    val rawSchema = spark.read.parquet(idFiles: _*).schema
    val idsSchema =
      if (rawSchema.fieldNames.contains("dl")) rawSchema
      else rawSchema.add("dl", org.apache.spark.sql.types.DoubleType)
    val idsStore = spark.read.schema(idsSchema).parquet(idFiles: _*)
    val tombFiles = hist.filter(_.kind == TombKind).map(_.file)
    // guards + stats, FUSED into one job (r18; was four: already-deleted
    // take(1), miss take(1), legacy null-dl probe take(1), then the
    // n/Σdl aggregate). One left join against the id space (and the
    // tombstones, when any exist) answers everything: a tombed witness
    // (double delete would double-subtract the stats), a missing
    // witness (deletes must name existing docs), the legacy null-dl
    // count, and the batch's n/Σdl — each previously its own pass over
    // the delete batch.
    val joined0 = ids.join(
      idsStore.select(col("id"), col("dl"), lit(true).as("hit")),
      Seq("id"), "left")
    val matched =
      if (tombFiles.isEmpty)
        joined0.withColumn("tomb", lit(null).cast("boolean"))
      else joined0.join(
        spark.read.parquet(tombFiles: _*)
          .select(col("id"), lit(true).as("tomb")).distinct(),
        Seq("id"), "left")
    val g = matched.agg(
      count(lit(1)).as("n"),
      coalesce(sum("dl"), lit(0.0)).as("sdl"),
      max(when(col("tomb").isNotNull, col("id"))).as("tombWitness"),
      max(when(col("hit").isNull, col("id"))).as("missWitness"),
      sum(when(col("hit").isNotNull && col("dl").isNull, 1L).otherwise(0L))
        .as("nullDl")).head
    // already-deleted guard BEFORE anything commits: a second delete of
    // the same id would subtract its dl twice
    require(g.isNullAt(2),
      s"document id ${g.get(2)} is " +
        s"already deleted from the BM25 store under $path — a repeat " +
        "delete would double-subtract the corpus stats")
    require(g.isNullAt(3),
      s"document id ${g.get(3)} is not " +
        s"in the BM25 store under $path — deletes must name existing docs")
    val nDel = g.getLong(0)
    if (nDel == 0 && hist.length == all.length) return 0L
    // legacy fallback: ids filesets that predate the dl column force ONE
    // postings-side lookup for exactly the null-dl deleted ids
    val legacyNullDl = !g.isNullAt(4) && g.getLong(4) > 0
    val withDl =
      if (!legacyNullDl) matched.select(col("id"), col("dl"))
      else {
        val roots = hist.filter(_.kind == PostingsKind).map(_.file)
        val fromPostings =
          if (roots.isEmpty) matched.limit(0).select(col("id"),
            lit(0.0).as("pdl"))
          else roots.map(spark.read.parquet(_)).reduce(_ unionByName _)
            .groupBy("id").agg(any_value(col("dl")).as("pdl"))
        matched.join(fromPostings, Seq("id"), "left")
          // a doc with NO postings rows is a zero-token doc: dl = 0
          .select(col("id"),
            coalesce(col("dl"), col("pdl"), lit(0.0)).as("dl"))
      }
    val sdl =
      if (!legacyNullDl) g.getDouble(1)
      else withDl.agg(coalesce(sum("dl"), lit(0.0))).head.getDouble(0)
    val nBuckets = spark.read
      .parquet(hist.filter(_.kind == StatsKind).map(_.file): _*)
      .select("n_buckets").head.getInt(0)
    val tombOut = FilesetLog.writeFileset(withDl.select("id"),
      s"$path/tomb/" + f"v${cur + 1}%05d" + s"_${FilesetLog.nonce()}")
    val statsOut = FilesetLog.writeFileset(
      spark.range(1).select(lit(-nDel).cast("long").as("n_docs"),
        lit(-sdl).cast("double").as("sum_dl"),
        lit(nBuckets).as("n_buckets")).coalesce(1),
      s"$path/stats/" + f"v${cur + 1}%05d" + s"_${FilesetLog.nonce()}")
    FilesetLog.commit(spark, path, cur + 1,
      hist ++ tombOut.map(FilesetLog.Entry(TombKind, tag, _)) ++
        statsOut.map(FilesetLog.Entry(StatsKind, tag, _)))
    nDel
  }

  /** COMPACT a BM25 store: rewrite the CURRENT version's per-batch
    * postings/ids filesets into ONE fileset each (bucket partitioning
    * kept — each bucket lands in exactly one task and one file), fold
    * every tombstone in (deleted docs' rows physically dropped, their
    * ids released for re-ingest), and collapse the additive stats rows
    * to one — committed as a new version ([[DedupStore.compactStore]]'s
    * contract). Serving is CONTENT-INVISIBLE across the compaction
    * (spec'd hash-identical), but its fileset count stops growing with
    * ingest batch count: a store fed hourly for a year reads ONE
    * postings fileset per query after compaction, not ~9k. Readers
    * pinned to older versions are undisturbed; superseded filesets
    * reclaim via [[vacuumBm25Index]]. Single maintainer, like every
    * mutation here. Returns the new version.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, targetIdRecords: Long = 1L << 22): Long = {
    require(targetIdRecords >= 1, "targetIdRecords >= 1")
    val v = FilesetLog.current(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no BM25 store under $path — buildBm25Index first"))
    val es = FilesetLog.entries(spark, path, v)
    val statsFiles = es.filter(_.kind == StatsKind).map(_.file)
    require(statsFiles.nonEmpty, s"BM25 store under $path has no stats rows")
    val st = spark.read.parquet(statsFiles: _*)
      .agg(sum("n_docs").cast("long").as("nd"),
        coalesce(sum("sum_dl"), lit(0.0)).as("sdl"),
        min("n_buckets").as("bmin"), max("n_buckets").as("bmax")).head
    require(st.getInt(2) == st.getInt(3),
      s"inconsistent n_buckets across filesets under $path")
    val nBuckets = st.getInt(2)
    val f = FilesetLog.fs(spark, path)
    val tombFiles = es.filter(_.kind == TombKind).map(_.file)
    def antiTomb(df: DataFrame): DataFrame =
      if (tombFiles.isEmpty) df
      else df.join(spark.read.parquet(tombFiles: _*).select("id"),
        Seq("id"), "left_anti")
    val out = scala.collection.mutable.ArrayBuffer.empty[FilesetLog.Entry]
    val postingRoots = es.filter(_.kind == PostingsKind).map(_.file)
    if (postingRoots.nonEmpty) {
      val dir = s"$path/postings/" + f"v${v + 1}%05d" + s"_${FilesetLog.nonce()}"
      antiTomb(postingRoots.map(spark.read.parquet(_)).reduce(_ unionByName _))
        // pinned width: repartition(col) alone is AQE-coalesced to 1-2
        // tasks at modest sizes; one task per bucket keeps the rewrite
        // parallel and the fileset one-file-per-bucket
        .repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(dir)
      val has = f.listStatus(new Path(dir))
        .exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      if (has) out += FilesetLog.Entry(PostingsKind, FilesetLog.CompactedTag,
        f.makeQualified(new Path(dir)).toString)
    }
    val idFiles = es.filter(_.kind == IdsKind).map(_.file)
    if (idFiles.nonEmpty) {
      val rawSchema = spark.read.parquet(idFiles: _*).schema
      val idsSchema =
        if (rawSchema.fieldNames.contains("dl")) rawSchema
        else rawSchema.add("dl", org.apache.spark.sql.types.DoubleType)
      val merged = antiTomb(spark.read.schema(idsSchema).parquet(idFiles: _*))
      // ids entries are per-FILE manifest lines: bound the compacted
      // fileset to ceil(n/target) files (DedupStore.compactStore's
      // arithmetic) so the manifest stays small whatever the partition
      // count of the read. n is the ADDITIVE stats' net doc count — by
      // the store's guard invariants (disjoint ingests, deletes subtract
      // exactly the matched ids) it EQUALS count(ids anti tombs), so the
      // dedicated count() scan of every ids fileset (r17: a full job on
      // each compact) is free; n only sizes files, content is unaffected
      // either way.
      val n = st.getLong(0)
      val nf = math.max(1L, (n + targetIdRecords - 1) / targetIdRecords).toInt
      out ++= FilesetLog.writeFileset(merged.repartition(nf),
        s"$path/ids/" + f"v${v + 1}%05d" + s"_${FilesetLog.nonce()}")
        .map(FilesetLog.Entry(IdsKind, FilesetLog.CompactedTag, _))
    }
    // the summed stats already net the deletes out (negative rows): one
    // row describes the surviving corpus exactly
    out ++= FilesetLog.writeFileset(
      spark.range(1).select(lit(st.getLong(0)).as("n_docs"),
        lit(st.getDouble(1)).as("sum_dl"),
        lit(nBuckets).as("n_buckets")).coalesce(1),
      s"$path/stats/" + f"v${v + 1}%05d" + s"_${FilesetLog.nonce()}")
      .map(FilesetLog.Entry(StatsKind, FilesetLog.CompactedTag, _))
    FilesetLog.commit(spark, path, v + 1, out.toSeq)
    v + 1
  }

  /** BM25 top-k served FROM a [[buildBm25Index]] store's CURRENT
    * committed version (a concurrent append is invisible — snapshot
    * isolation like every manifest store): corpus stats sum the
    * versions' additive stats rows, the query terms' buckets are
    * computed driver-side with the same XxHash64 the build's
    * `xxhash64()` column used (seed 42 — no hash-bridge drift possible),
    * every fileset's postings scan partition-prunes to those bucket
    * directories, df comes exactly from the loaded lists, and the
    * ranking/rounding/tiebreak contract is [[bm25Search]]'s — the round
    * trip is result-invisible (same oracle gates both).
    */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, terms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25SearchIndexed needs at least one query term")
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val es = FilesetLog.currentEntries(spark, path)
    require(es.nonEmpty, s"no BM25 store under $path — buildBm25Index first")
    val statsRows = spark.read
      .parquet(es.filter(_.kind == StatsKind).map(_.file): _*)
      .agg(sum("n_docs").as("nd"), sum("sum_dl").as("sdl"),
        min("n_buckets").as("bmin"), max("n_buckets").as("bmax")).head
    require(statsRows.getInt(2) == statsRows.getInt(3),
      s"inconsistent n_buckets across filesets under $path: " +
        s"${statsRows.getInt(2)} vs ${statsRows.getInt(3)}")
    // an all-empty-batches store has stats rows but no documents (and a
    // NULL Σdl) — fail with the designed message, not an NPE at getDouble
    require(statsRows.getLong(0) > 0,
      s"BM25 store under $path has no postings filesets (empty corpus)")
    val nd = statsRows.getLong(0).toDouble
    val avgdl = statsRows.getDouble(1) / nd
    val nBuckets = statsRows.getInt(2).toLong
    val buckets = terms.map(t => java.lang.Math.floorMod(
      new XxHash64(Seq(Literal.create(t,
        org.apache.spark.sql.types.StringType))).eval(null).asInstanceOf[Long],
      nBuckets)).distinct
    // one read PER fileset root, unioned: partition discovery needs each
    // bucket=* tree under its own base path (a multi-root read throws
    // CONFLICTING_DIRECTORY_STRUCTURES); the bucket+term filters push
    // below the Union into every scan, so each fileset still
    // directory-prunes to the probed buckets
    val postingRoots = es.filter(_.kind == PostingsKind).map(_.file)
    require(postingRoots.nonEmpty,
      s"BM25 store under $path has no postings filesets (empty corpus)")
    val loaded = postingRoots.map(spark.read.parquet(_))
      .reduce(_ unionByName _)
      .filter(col("bucket").isin(buckets: _*) && col("w").isin(terms: _*))
    // tombstones ([[deleteFromBm25Index]]) mask deleted docs BEFORE df is
    // computed, so idf reflects the surviving corpus exactly; the
    // anti-join is id-keyed on the already-bucket-pruned postings (AQE
    // broadcasts a small tombstone side)
    val tombFiles = es.filter(_.kind == TombKind).map(_.file)
    val postings =
      if (tombFiles.isEmpty) loaded
      else loaded.join(spark.read.parquet(tombFiles: _*).select("id"),
        Seq("id"), "left_anti")
    val dfr = postings.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
    val scored = postings.join(broadcast(dfr), "w")
      .withColumn("contrib",
        log(lit(1.0) + (lit(nd) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy("id").agg(round(sum(col("contrib")), 4).as("score"))
    scored.orderBy(col("score").desc, col("id")).limit(k)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("id"))))
      .select(col("id").as(idCol), col("rk").cast("long").as("rk"), col("score"))
  }

  // ---- incremental corpus count-statistics store ----------------------

  private val UniKind = "U" // unigram count fileset (bucket-partitioned root)
  private val BigKind = "B" // bigram count fileset (bucket-partitioned root)
  private val TotKind = "T" // one-row additive totals fileset

  /** Manifest-versioned CORPUS COUNT STORE — the incremental face of the
    * corpus statistics behind [[collocations]] / vocabulary reports:
    * each ingest batch commits its own unigram counts, adjacent-bigram
    * counts (both hash-bucket-partitioned directories, like the BM25
    * postings) and a one-row additive totals fileset, all in ONE atomic
    * [[FilesetLog]] publish. Counts are ADDITIVE integers, so serving
    * merges filesets with a plain sum — k batches ≡ one full-corpus
    * scan EXACTLY (no tolerance; the gate's oracle is the one-shot SQL),
    * and an append is O(batch), never a corpus rescan: the property that
    * matters at 100 TB where the corpus arrives continuously and
    * "recompute the phrase table nightly" rescans everything. Replayed
    * tags supersede their earlier commit (crash-recovery at-least-once,
    * exactly-once content — the [[FilesetLog]] contract shared with the
    * BM25/dedup stores); bucket partitioning lets point probes
    * ([[wordCountIndexed]]) directory-prune to one bucket per word.
    */
  def buildCountStore(docs: DataFrame, textCol: String, path: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, "nBuckets >= 1")
    require(FilesetLog.current(docs.sparkSession, path).isEmpty,
      s"a count store already exists under $path — appendToCountStore")
    commitCountBatch(docs, textCol, path, nBuckets, tag = 0L)
  }

  def appendToCountStore(docs: DataFrame, textCol: String, path: String,
      tag: Long): Unit = {
    require(tag >= 1, s"append tags are >= 1 (got $tag); 0 is the build")
    val spark = docs.sparkSession
    val es = FilesetLog.currentEntries(spark, path)
    require(es.nonEmpty, s"no count store under $path — buildCountStore first")
    val nBuckets = spark.read
      .parquet(es.filter(_.kind == TotKind).map(_.file): _*)
      .select("n_buckets").head.getInt(0)
    commitCountBatch(docs, textCol, path, nBuckets, tag)
  }

  private def commitCountBatch(docs: DataFrame, textCol: String,
      path: String, nBuckets: Int, tag: Long): Unit = {
    val spark = docs.sparkSession
    val cur = FilesetLog.current(spark, path)
    val hist = cur.map(FilesetLog.entries(spark, path, _))
      .getOrElse(Seq.empty).filterNot(_.tag == tag)
    val toks = docs.select(T.tokens(col(textCol)).as("ts"))
    val v = cur.getOrElse(0L)
    val f = FilesetLog.fs(spark, path)
    def writeBucketed(counts: DataFrame, sub: String,
        bucketOf: org.apache.spark.sql.Column): Option[String] = {
      val dir = s"$path/$sub/" + f"v${v + 1}%05d" + s"_${FilesetLog.nonce()}"
      counts.withColumn("bucket", pmod(bucketOf, lit(nBuckets.toLong)))
        // one task per bucket: parallel write, one file per bucket
        // (see commitBm25Batch's postings write)
        .repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(dir)
      // an empty batch writes no bucket=* subdirs — such a fileset is
      // unreadable (no schema); contribute nothing (BM25's contract)
      val has = f.listStatus(new Path(dir))
        .exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      if (has) Some(f.makeQualified(new Path(dir)).toString) else None
    }
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val big = toks.filter(size(col("ts")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
    val uniRoot = writeBucketed(uni, "uni", xxhash64(col("w")))
    val bigRoot = writeBucketed(big, "big", xxhash64(col("w1"), col("w2")))
    // totals aggregate the just-WRITTEN batch-vocabulary-sized count
    // filesets instead of re-running the corpus tokenize scan a third
    // time (r17: a commit paid 3 full batch scans — uni, big, tot; now
    // 2). Identical integers by construction: Σ_d len_d = Σ uni.c
    // (every token is counted in exactly one unigram row) and
    // Σ_d max(len_d − 1, 0) = Σ big.n (a doc of len ≥ 1 contributes
    // exactly len − 1 bigram positions, a zero-token doc none); an
    // empty batch has no uni/big fileset and keeps the explicit 0s.
    def sumOf(root: Option[String], c: String): Long = root
      .map(r => spark.read.parquet(r)
        .agg(coalesce(sum(col(c)), lit(0L)).cast("long")).head.getLong(0))
      .getOrElse(0L)
    val totFiles = FilesetLog.writeFileset(
      spark.range(1).select(
        lit(sumOf(uniRoot, "c")).as("t_total"),
        lit(sumOf(bigRoot, "n")).as("b_total"),
        lit(nBuckets).as("n_buckets")).coalesce(1),
      s"$path/tot/" + f"v${v + 1}%05d" + s"_${FilesetLog.nonce()}")
    FilesetLog.commit(spark, path, v + 1,
      hist ++
        uniRoot.map(FilesetLog.Entry(UniKind, tag, _)).toSeq ++
        bigRoot.map(FilesetLog.Entry(BigKind, tag, _)).toSeq ++
        totFiles.map(FilesetLog.Entry(TotKind, tag, _)))
  }

  /** Merged counts of `kind` across the CURRENT version's filesets —
    * one read per root (partition discovery wants each bucket=* tree
    * under its own base), unioned, then a plain additive sum.
    */
  private def mergedCounts(spark: org.apache.spark.sql.SparkSession,
      path: String, kind: String): Option[DataFrame] = {
    val roots = FilesetLog.currentEntries(spark, path)
      .filter(_.kind == kind).map(_.file)
    if (roots.isEmpty) None
    else Some(roots.map(spark.read.parquet(_)).reduce(_ unionByName _))
  }

  /** [[collocations]] SERVED from a count store's current version:
    * fileset counts sum (additive — batching is invisible), then the
    * identical PMI/rounding/tiebreak contract, so the result
    * hash-equals the one-shot corpus scan and replays on the same
    * oracle. Cost is O(stored counts), never a corpus rescan.
    */
  def collocationsFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String, minCount: Long = 5L, k: Int = 50): DataFrame = {
    require(minCount >= 1, "minCount >= 1")
    require(k >= 1, "k >= 1")
    val es = FilesetLog.currentEntries(spark, path)
    require(es.nonEmpty, s"no count store under $path — buildCountStore first")
    val tots = spark.read.parquet(es.filter(_.kind == TotKind).map(_.file): _*)
      .agg(sum("t_total").cast("double").as("t_total"),
        sum("b_total").cast("double").as("b_total"))
    val uni = mergedCounts(spark, path, UniKind).getOrElse(
      throw new IllegalArgumentException(
        s"count store under $path holds no tokens (empty corpus)"))
      .groupBy("w").agg(sum("c").as("c"))
    val big = mergedCounts(spark, path, BigKind).getOrElse(
      throw new IllegalArgumentException(
        s"count store under $path holds no bigrams (all docs single-token)"))
      .groupBy("w1", "w2").agg(sum("n").as("n"))
    big.filter(col("n") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(tots))
      .select(col("w1"), col("w2"), col("n"),
        round(log((col("n").cast("double") / col("b_total")) /
          ((col("c1").cast("double") / col("t_total")) *
            (col("c2").cast("double") / col("t_total")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(k)
  }

  /** Point probe: a word's corpus count, served by directory-pruning
    * every unigram fileset to the word's ONE hash bucket (the same
    * driver-side XxHash64 bridge the BM25 probe uses) — O(buckets
    * touched), not a store scan. 0 for an unseen word.
    */
  def wordCountIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, word: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val es = FilesetLog.currentEntries(spark, path)
    require(es.nonEmpty, s"no count store under $path — buildCountStore first")
    val nBuckets = spark.read
      .parquet(es.filter(_.kind == TotKind).map(_.file): _*)
      .select("n_buckets").head.getInt(0).toLong
    val b = java.lang.Math.floorMod(
      new XxHash64(Seq(Literal.create(word,
        org.apache.spark.sql.types.StringType))).eval(null).asInstanceOf[Long],
      nBuckets)
    mergedCounts(spark, path, UniKind) match {
      case None => 0L
      case Some(u) =>
        val r = u.filter(col("bucket") === b && col("w") === word)
          .agg(coalesce(sum("c"), lit(0L))).head.getLong(0)
        r
    }
  }

  /** [[FilesetLog.vacuum]]-style reclamation: drop old store versions
    * and unreferenced uni/big roots + totals files (crashed or
    * superseded ingests). Returns deleted paths.
    */
  def vacuumCountStore(spark: org.apache.spark.sql.SparkSession,
      path: String, keepLast: Int = 1,
      graceMs: Long = SnapshotTable.DefaultVacuumGraceMs): Seq[String] = {
    require(keepLast >= 1, "keepLast >= 1")
    val f = FilesetLog.fs(spark, path)
    val vs = FilesetLog.versions(spark, path)
    val keep = vs.takeRight(keepLast)
    val referenced = keep.flatMap(FilesetLog.entries(spark, path, _))
      .map(_.file).toSet
    val horizon = System.currentTimeMillis() - graceMs
    def roots(sub: String): Seq[String] = {
      val root = new Path(s"$path/$sub")
      if (!f.exists(root)) Seq.empty[String]
      else f.listStatus(root).toSeq.filter(_.isDirectory)
        .filter(_.getModificationTime <= horizon)
        .map(_.getPath.toString)
    }
    def leaves(sub: String): Seq[String] = {
      val root = new Path(s"$path/$sub")
      if (!f.exists(root)) Seq.empty[String]
      else f.listStatus(root).toSeq.filter(_.isDirectory)
        .flatMap(d => f.listStatus(d.getPath).toSeq)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")
          && s.getModificationTime <= horizon)
        .map(_.getPath.toString)
    }
    val doomed = (roots("uni") ++ roots("big") ++ leaves("tot"))
      .filterNot(referenced.contains).sorted
    doomed.foreach(p => f.delete(new Path(p), true))
    vs.dropRight(keepLast).foreach { v =>
      f.delete(FilesetLog.manifestPath(path, v), false)
    }
    doomed
  }

  /** COMPACT a count store: merge the CURRENT version's per-batch
    * unigram/bigram/totals filesets into ONE each — counts summed (the
    * additive algebra makes the rewrite content-invisible by
    * construction, spec'd hash-identical), bucket partitioning kept so
    * [[wordCountIndexed]] still directory-prunes — committed as a new
    * version ([[DedupStore.compactStore]]'s contract). Serving cost
    * stops growing with ingest batch count: a store fed hourly reads
    * ONE fileset per kind after compaction, whatever its history.
    * Superseded filesets reclaim via [[vacuumCountStore]]; pinned
    * readers undisturbed. Single maintainer. Returns the new version.
    */
  def compactCountStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val v = FilesetLog.current(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no count store under $path — buildCountStore first"))
    val es = FilesetLog.entries(spark, path, v)
    val totFiles = es.filter(_.kind == TotKind).map(_.file)
    require(totFiles.nonEmpty, s"count store under $path has no totals rows")
    val tot = spark.read.parquet(totFiles: _*)
      .agg(coalesce(sum("t_total"), lit(0L)).cast("long").as("t"),
        coalesce(sum("b_total"), lit(0L)).cast("long").as("b"),
        min("n_buckets").as("nb")).head
    val nBuckets = tot.getInt(2)
    val f = FilesetLog.fs(spark, path)
    val out = scala.collection.mutable.ArrayBuffer.empty[FilesetLog.Entry]
    def mergeBucketed(kind: String, sub: String, keyCols: Seq[String],
        cntCol: String, bucketOf: org.apache.spark.sql.Column): Unit = {
      val roots = es.filter(_.kind == kind).map(_.file)
      if (roots.nonEmpty) {
        val merged = roots.map(spark.read.parquet(_)).reduce(_ unionByName _)
          .groupBy(keyCols.map(col): _*).agg(sum(cntCol).as(cntCol))
          .withColumn("bucket", pmod(bucketOf, lit(nBuckets.toLong)))
        val dir = s"$path/$sub/" + f"v${v + 1}%05d" + s"_${FilesetLog.nonce()}"
        merged.repartition(nBuckets, col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(dir)
        val has = f.listStatus(new Path(dir))
          .exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        if (has) out += FilesetLog.Entry(kind, FilesetLog.CompactedTag,
          f.makeQualified(new Path(dir)).toString)
      }
    }
    mergeBucketed(UniKind, "uni", Seq("w"), "c", xxhash64(col("w")))
    mergeBucketed(BigKind, "big", Seq("w1", "w2"), "n",
      xxhash64(col("w1"), col("w2")))
    out ++= FilesetLog.writeFileset(
      spark.range(1).select(lit(tot.getLong(0)).as("t_total"),
        lit(tot.getLong(1)).as("b_total"),
        lit(nBuckets).as("n_buckets")).coalesce(1),
      s"$path/tot/" + f"v${v + 1}%05d" + s"_${FilesetLog.nonce()}")
      .map(FilesetLog.Entry(TotKind, FilesetLog.CompactedTag, _))
    FilesetLog.commit(spark, path, v + 1, out.toSeq)
    v + 1
  }

  /** Within-document repetition signals (the Gopher/MassiveText rule
    * inputs, Rae et al. 2021): duplicate word-n-gram fractions and the
    * top word's frequency share. `dup_ngram_frac` = 1 - distinct/total
    * n-grams (0 for docs shorter than n+1 words); `top_word_frac` = mode
    * token multiplicity / token count. One codegen'd projection stage.
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ts = T.tokens(col(textCol))
    def dupFrac(n: Int) = {
      val total = (size(ts) - (n - 1)).cast("double")
      val distinct = size(H.shingles(col(textCol), n)).cast("double")
      when(size(ts) <= n, 0.0).otherwise(round(lit(1.0) - distinct / total, 4))
    }
    docs.select(col(idCol),
      size(ts).cast("long").as("n_words"),
      dupFrac(2).as("dup_2gram_frac"),
      dupFrac(3).as("dup_3gram_frac"),
      when(size(ts) === 0, 0.0).otherwise(
        round(GraftFunctions.topTokenCount(ts).cast("double") / size(ts).cast("double"), 4))
        .as("top_word_frac"))
  }

  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, portableHash: Boolean = false): DataFrame =
    docs.select(col(idCol),
      T.winnowingFingerprint(col(textCol), k, w, portableHash).as("fingerprint"))

  /** Docs sharing >= `minShared` winnowing fingerprint hashes — cheap
    * content-overlap detection via inverted index on fingerprint hashes.
    */
  def fingerprintOverlaps(docs: DataFrame, idCol: String, textCol: String,
      minShared: Int = 3, maxDocFreq: Long = 1000L): DataFrame = {
    val fp = fingerprints(docs, idCol, textCol)
      .select(col(idCol).as("id"), explode(col("fingerprint")).as("h"))
    val keep = fp.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDocFreq)).select("h")
    val filtered = fp.join(keep, "h")
    val a = filtered.select(col("h"), col("id").as("a"))
    val b = filtered.select(col("h"), col("id").as("b"))
    a.join(b, Seq("h")).filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy("a", "b")
  }
  /** PMI collocation mining: adjacent token pairs scored by pointwise
    * mutual information, PMI = ln( (c12/B) / ((c1/T)·(c2/T)) ) with c12
    * = the pair's bigram-position count (B total positions), c1/c2 =
    * corpus unigram counts (T total tokens) — the classic phrase/
    * multiword-expression detector (Church & Hanks 1990; the phrase
    * pass of word2vec-style pipelines). `minCount` suppresses the
    * low-count PMI explosion (a hapax pair maxes PMI by construction);
    * top `k` by PMI rounded to 4 decimals, ties broken by the pair —
    * all counts are exact integers and the log argument is fixed-order
    * double arithmetic, so ranking is engine-stable (the bm25 rounding
    * contract).
    *
    * Distributed shape: two vocabulary-sized aggregates (map-side
    * partial) + a bigram-domain aggregate, two broadcast scalar totals,
    * one TakeOrdered(k) — no corpus-sized shuffle beyond the count
    * tables, no second scan. The unigram-marginal joins carry NO
    * broadcast hint: AQE sees the marginal side's RUNTIME size and
    * broadcasts when it fits (every tested scale — the map-side plan),
    * shuffle-joins when it doesn't. At a web-scale corpus the unigram
    * table is 10⁸-10⁹ rows — an unconditional `broadcast(uni)` is a
    * multi-GB executor OOM, so the plan must degrade to a (vocab-sized,
    * bigram-table-dominated) shuffle join rather than force it
    * (PlanSpec asserts the only forced broadcasts are the two one-row
    * totals).
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5L,
      k: Int = 50): DataFrame = {
    require(minCount >= 1, "minCount >= 1")
    require(k >= 1, "k >= 1")
    val toks = docs.select(T.tokens(col(textCol)).as("ts"))
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum("c").cast("double").as("t_total"))
    val big = toks.filter(size(col("ts")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
    val btot = big.agg(sum("n").cast("double").as("b_total"))
    big.filter(col("n") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(btot)).crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n"),
        round(log((col("n").cast("double") / col("b_total")) /
          ((col("c1").cast("double") / col("t_total")) *
            (col("c2").cast("double") / col("t_total")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(k)
  }
}
