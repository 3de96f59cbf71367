package graft

import org.apache.spark.sql.functions._

import graft.Gate.t
import graft.operators.{Dedup, Multimodal, SimilaritySearch, TextAnalysis}

/** §2-C training-data pipeline operators as gates over the
  * documents/embeddings tables. Engine-sensitive outputs (hash families,
  * float similarity) are gated through engine-portable replays — the md5
  * hash bridge, rounded fold-order sums — and exact-oracle-tested in
  * ScalaTest specs as well (SURVEY §2/§4).
  */
object PipelineQueries {

  val EmbeddingDim = 64

  /** Blocklist for pipeline_url_filter (mirrored in its oracle SQL). */
  val BlockedDomains: Seq[String] =
    (0 until 5).map(i => s"site$i.example.org")

  /** Target token shares for pipeline_mix (mirrored in its oracle SQL). */
  val MixTargets: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1, "zh" -> 0.05)

  /** This area's gates. Lazy, so a row's oracle SQL may read vals declared
    * further down: an eager table would read them as null while the object
    * initializes. */
  lazy val gates: Seq[Gate] = Seq(
    Gate("dedup_exact", """SELECT sha256("text") AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY sha256("text")
        |ORDER BY content_hash""".stripMargin, (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")),

    Gate("dedup_survivors", """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY sha256("text"))
        |ORDER BY doc_id""".stripMargin, (s, dir) =>
      Dedup.exactSurvivors(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // \s and the 'g' flag mirror Java's \s+ replace-all exactly on this
    // corpus (ASCII whitespace)
    Gate("dedup_exact_normalized", """SELECT sha256(trim(regexp_replace(lower("text"), '\s+', ' ', 'g'))) AS content_hash,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY 1 ORDER BY content_hash""".stripMargin, (s, dir) =>
      Dedup.exactNormalized(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")),

    // the MinHash gate entry equals the exact all-pairs result because
    // banding recall at (16 bands x 4 rows) is 1-(1-j^4)^16 ≈ 0.9998 at
    // j=0.8 and ≈1 at the j≈1.0 duplicates this corpus actually contains;
    // banding completeness is additionally spec-proven (OperatorSpec)
    Gate("dedup_minhash", bruteJaccardSql(3, 0.8), (s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)),

    // full replay of the portable simhash scheme: per-token md5-derived
    // 64-bit hashes (identical bit pattern to the kernel's md5Hash64),
    // per-bit majority vote over the token multiset (strict >, matching
    // counts(b) > 0), signed-long packing (bit 63 via the min-long
    // literal), then the BRUTE-FORCE hamming <= 3 pair set — exactly what
    // the banded operator returns, since 4 bands over <= 3 differing bits
    // pigeonhole into one identical band. Empty-token docs get sig 0 on
    // both engines.
    Gate("dedup_simhash", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |tok AS (SELECT doc_id, unnest(ts) AS w FROM t),
         |h AS (SELECT doc_id,
         |        CAST(concat('0x', substring(md5(w), 1, 16)) AS UBIGINT) AS h
         |      FROM tok),
         |n AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
         |bits AS (SELECT doc_id, bb.b AS b,
         |           count(*) FILTER (WHERE ((h >> bb.b) & 1) = 1) AS c
         |         FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
         |         GROUP BY doc_id, bb.b),
         |sig AS (SELECT bits.doc_id,
         |          CAST(sum(CASE WHEN 2 * c > n THEN
         |                 CASE WHEN b = 63 THEN -9223372036854775808
         |                      ELSE (CAST(1 AS BIGINT) << CAST(b AS INT)) END
         |               ELSE 0 END) AS BIGINT) AS sig
         |        FROM bits JOIN n ON bits.doc_id = n.doc_id
         |        GROUP BY bits.doc_id),
         |d AS (SELECT t.doc_id, coalesce(sig.sig, 0) AS sig
         |      FROM t LEFT JOIN sig ON t.doc_id = sig.doc_id),
         |p AS (SELECT x.doc_id AS a, y.doc_id AS b,
         |        bit_count(xor(x.sig, y.sig)) AS hamming
         |      FROM d x JOIN d y ON x.doc_id < y.doc_id)
         |SELECT a, b, CAST(hamming AS BIGINT) AS hamming
         |FROM p WHERE hamming <= 3 ORDER BY a, b""".stripMargin, (s, dir) =>
      // portableHash: md5 token hashes make the signature — and so the
      // hamming-pair set — fully replayable in DuckDB (see oracle); the
      // banding is lossless here by pigeonhole (hamming <= 3 over 4
      // 16-bit bands forces one identical band), so the banded operator
      // equals the brute-force truth the oracle computes — PROVIDED no
      // bucket is capped: maxBucket = MaxValue enforces the completeness
      // claim by construction (a default-capped oversized band bucket,
      // e.g. many short docs sharing a sig-0 band at larger corpora,
      // would silently drop true pairs the oracle still counts).
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, bands = 4, maxBucket = Int.MaxValue,
        portableHash = true)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))),

    // exact: PPJoin prefix filtering is lossless, so the LSH-free
    // brute-force all-pairs Jaccard is the complete truth
    Gate("dedup_ngram_jaccard", bruteJaccardSql(3, 0.5), (s, dir) =>
      Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)),

    // directed containment truth: every ordered pair, |A∩B|/|A| — the
    // prefix-filtered operator must be lossless against it
    Gate("dedup_containment", s"""WITH sh AS (
         |  SELECT doc_id, ${ngramsSql(3)} AS sh
         |  FROM (SELECT doc_id, $ToksSql AS ts FROM documents)
         |), nz AS (SELECT doc_id, sh, len(sh) AS sz FROM sh WHERE len(sh) > 0),
         |p AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    len(list_intersect(x.sh, y.sh))::DOUBLE AS inter,
         |    x.sz::DOUBLE AS asz
         |  FROM nz x JOIN nz y ON x.doc_id != y.doc_id
         |)
         |SELECT a, b, round(inter / asz, 4) AS containment
         |FROM p WHERE inter / asz >= 0.8 ORDER BY a, b""".stripMargin, (s, dir) =>
      // the ASYMMETRIC near-dup face: directed |A∩B|/|A| >= 0.8 —
      // doc-in-doc containment symmetric Jaccard caps at |A|/|B|. The
      // corpus's planted containments sit >= 0.9 with nothing between
      // 0.3 and 0.9, so 0.8 is threshold-robust; the probe-side-only
      // prefix filter is lossless (exact verify), so the operator equals
      // the all-directed-pairs truth the oracle computes
      Dedup.ngramContainment(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.8)),

    // removal replay: same md5 windows, then first-occurrence ranking,
    // gaps-and-islands span merge, covered-position anti-join and an
    // ordered string_agg rebuild — the rebuilt documents' md5s must
    // match the kernel's array-lambda rebuild exactly
    Gate("dedup_substring_remove", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |b AS (SELECT doc_id, ts, len(ts) AS n FROM t),
         |w AS (SELECT doc_id, ts, n, unnest(range(0, n - 20 + 1)) AS pos
         |      FROM b WHERE n >= 20),
         |h AS (SELECT doc_id, pos,
         |        md5(array_to_string(list_slice(ts, pos + 1, pos + 20), ' ')) AS h
         |      FROM w),
         |r AS (SELECT doc_id, pos FROM (
         |        SELECT doc_id, pos,
         |          row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
         |        FROM h) WHERE rk > 1),
         |i AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER w2 > 20 THEN 1 ELSE 0 END AS brk
         |      FROM r WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)),
         |i2 AS (SELECT doc_id, pos,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isle
         |       FROM i),
         |sp AS (SELECT doc_id, isle, min(pos) AS s, max(pos) + 19 AS e
         |       FROM i2 GROUP BY doc_id, isle),
         |agg AS (SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS n_removed
         |        FROM sp GROUP BY doc_id),
         |cov AS (SELECT DISTINCT doc_id, unnest(range(s, e + 1)) AS tp FROM sp),
         |tok AS (SELECT doc_id, unnest(ts) AS tk,
         |          unnest(range(0, len(ts))) AS ti FROM b),
         |kept AS (SELECT tok.doc_id, tk, ti
         |         FROM tok LEFT JOIN cov
         |           ON tok.doc_id = cov.doc_id AND tok.ti = cov.tp
         |         WHERE cov.tp IS NULL),
         |txt AS (SELECT doc_id, md5(string_agg(tk, ' ' ORDER BY ti)) AS dedup_md5
         |        FROM kept GROUP BY doc_id)
         |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
         |  CAST(coalesce(agg.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(agg.n_removed, 0) AS BIGINT) AS n_removed,
         |  coalesce(txt.dedup_md5, md5('')) AS dedup_md5
         |FROM b LEFT JOIN agg USING (doc_id) LEFT JOIN txt USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin, (s, dir) =>
      // the REMOVAL face of substring dedup (Lee et al. ACL'22: detect,
      // then CUT): first global occurrence of each 20-token span keeps —
      // (doc, pos)-ordered, within-doc repeats included — later
      // occurrences' windows merge into maximal disjoint spans and their
      // tokens are removed; dedup_md5 hashes each rebuilt document, so
      // the cut itself is content-checked against DuckDB's full replay
      Dedup.substringRemoveDup(t(s, dir, "documents"), "doc_id", "text",
        window = 20, portableHash = true)
        .orderBy("doc_id")),

    // same md5-over-window arithmetic as Dedup.substringDupSpans: the
    // tokenizer parity is proven by text_tokens, md5 and the space-join
    // are engine-identical, so window hashes match bit-for-bit
    Gate("dedup_substring", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |b AS (SELECT doc_id, ts, len(ts) AS n FROM t),
         |w AS (SELECT doc_id, ts, n, unnest(range(0, n - 20 + 1)) AS pos
         |      FROM b WHERE n >= 20),
         |h AS (SELECT doc_id, pos,
         |        md5(array_to_string(list_slice(ts, pos + 1, pos + 20), ' ')) AS h
         |      FROM w),
         |d AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
         |                     FROM h GROUP BY h) WHERE nd >= 2),
         |m AS (SELECT doc_id, count(*) AS n_dup, min(pos) AS first_pos
         |      FROM h WHERE h IN (SELECT h FROM d) GROUP BY doc_id)
         |SELECT b.doc_id,
         |  CAST(CASE WHEN b.n >= 20 THEN b.n - 19 ELSE 0 END AS BIGINT) AS n_windows,
         |  CAST(coalesce(m.n_dup, 0) AS BIGINT) AS n_dup_windows,
         |  CAST(coalesce(m.first_pos, -1) AS BIGINT) AS first_dup_pos
         |FROM b LEFT JOIN m ON b.doc_id = m.doc_id
         |ORDER BY b.doc_id""".stripMargin, (s, dir) =>
      // corpus-level exact-substring duplicate spans (Lee et al. ACL'22,
      // fixed-window form): per doc, the count of 20-token windows that
      // repeat in >= 2 distinct documents. portableHash: the gate pays
      // md5 so DuckDB recomputes identical window keys; production uses
      // the default xxhash64 path (same plan, same spans, ~3x cheaper)
      Dedup.substringDupSpans(t(s, dir, "documents"), "doc_id", "text",
        window = 20, minDocs = 2, portableHash = true)
        .orderBy("doc_id")),

    // threshold 0.4 sits where the synthetic embeddings actually have
    // near-dup pairs (max pairwise cosine ~0.5-0.6); (L=32, k=3) makes the
    // per-pair miss probability at cosine 0.4 about 1e-4, so the LSH result
    // equals the exact all-pairs result on this data — verified against the
    // brute-force oracle below and in DedupSpec's recall test.
    // exact: both engines accumulate the dot/norms sequentially in double
    // over the float vectors, and round(4) absorbs any last-ulp drift
    Gate("dedup_embedding", """SELECT x.vec_id AS a, y.vec_id AS b,
        |  round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4) AS cosine
        |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
        |WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.4
        |ORDER BY a, b""".stripMargin, (s, dir) =>
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        EmbeddingDim, threshold = 0.4, nTables = 32, bitsPerTable = 3)),

    // exact truth via DuckDB's own cosine — rank ties broken by id on both
    // sides; round(4) absorbs last-ulp accumulation drift
    Gate("ann_bruteforce", """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |s AS (
        |  SELECT q.qid, e.vec_id AS id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS c
        |  FROM embeddings e, q
        |),
        |r AS (SELECT qid, id, c,
        |        row_number() OVER (PARTITION BY qid ORDER BY c DESC, id) AS rk
        |      FROM s)
        |SELECT qid, id, round(c, 4) AS cosine, rk FROM r WHERE rk <= 10
        |ORDER BY qid, rk""".stripMargin, (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.bruteForceTopK(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
    }),

    // exact truth via DuckDB's own cosine over the same double vectors;
    // both engines accumulate sequentially in double, and BOTH the score
    // and the threshold compare use the 4-decimal-rounded value, so
    // boundary membership is pinned the same way the top-k rankings are
    // (an unrounded compare could flip a last-ulp row in/out at 0.3)
    Gate("ann_range_search", """SELECT q.vec_id AS qid, e.vec_id AS id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cosine
        |FROM embeddings e
        |JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
        |  ON e.vec_id != q.vec_id
        |WHERE round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) >= 0.3
        |ORDER BY qid, id""".stripMargin, (s, dir) => {
      // radius search: every corpus vector with cosine >= 0.3 of each
      // query — data-dependent result size (the "everything similar
      // enough" face); 0.3 sits where the synthetic corpus has real
      // matches (max pairwise cosine ~0.5-0.6)
      val e = t(s, dir, "embeddings")
      SimilaritySearch.rangeSearch(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        threshold = 0.3)
    }),

    // full replay of the (L, k) hyperplane scheme in SQL (lshReplaySql):
    // candidate generation, scoring and top-k are all recomputed from
    // scratch by DuckDB — so the LSH result itself driver-hashes
    Gate("ann_lsh", s"""$lshReplaySql
         |SELECT qid, id, round(cs, 4) AS cosine, rk
         |FROM lr WHERE rk <= 10 ORDER BY qid, rk""".stripMargin, (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.lshTopK(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        EmbeddingDim, k = 10, nTables = 16, bitsPerTable = 4)
    }),

    Gate("ann_lsh_recall", s"""$lshReplaySql,
         |lsh AS (SELECT qid, id FROM lr WHERE rk <= 10),
         |bs AS (SELECT q.id AS qid, e.id, list_cosine_similarity(e.v, q.v) AS cs
         |       FROM c e CROSS JOIN (SELECT * FROM c WHERE id < 5) q),
         |br AS (SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY cs DESC, id) AS rk
         |       FROM bs),
         |bf AS (SELECT qid, id FROM br WHERE rk <= 10),
         |ov AS (SELECT bf.qid, count(*) FILTER (WHERE lsh.id IS NOT NULL) AS n_overlap
         |       FROM bf LEFT JOIN lsh ON bf.qid = lsh.qid AND bf.id = lsh.id
         |       GROUP BY bf.qid)
         |SELECT qid, CAST(n_overlap AS BIGINT) AS n_overlap,
         |  round(n_overlap / 10.0, 4) AS recall
         |FROM ov ORDER BY qid""".stripMargin, (s, dir) => {
      // recall@10 of the LSH top-k against the brute-force truth, per
      // query — the quality metric of the ann_lsh configuration as a
      // DRIVER-HASHED number: the signature scheme is deterministic given
      // the seed, and the oracle replays the same hyperplane signs in SQL
      // (plane coefficients inlined as literals, dot products summed in
      // the kernel's element order).
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      val lsh = SimilaritySearch.lshTopK(e, "vec_id", "embedding",
        qs, "vec_id", "embedding", EmbeddingDim,
        k = 10, nTables = 16, bitsPerTable = 4).select(col("qid"), col("id"))
      val bf = SimilaritySearch.bruteForceTopK(e, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 10).select(col("qid"), col("id"))
      val ov = bf.join(lsh, Seq("qid", "id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_overlap"))
      qs.select(col("vec_id").as("qid")).join(ov, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          round(coalesce(col("n_overlap"), lit(0L)) / 10.0, 4).as("recall"))
        .orderBy("qid")
    }),

    // full replay of IVF training + probing + search in SQL (ivfReplaySql)
    // — the trained model is recomputed from scratch by DuckDB, so the
    // approximate search result itself driver-hashes
    Gate("ann_ivf", s"""$ivfReplaySql
         |SELECT qid, id, round(cs, 4) AS cosine, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin, (s, dir) => {
      val e = t(s, dir, "embeddings")
      // sampled training: the 100 TB path — Lloyd iterations scan half
      // the corpus; assignment covers all of it. The half is selected by
      // id PARITY (not Bernoulli sample): deterministic across engines,
      // partitionings and runs, which lets the oracle replay the ENTIRE
      // training — md5-ordered init, three Lloyd rounds with 6-decimal
      // means, kernel-order cosines — in DuckDB SQL and hash-match the
      // search result end to end.
      val centroids = graft.operators.IvfIndex.train(
        e.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
        nCells = 16, sampleFraction = 1.0)
      val indexed = graft.operators.IvfIndex.index(e, "vec_id", "embedding", centroids)
      graft.operators.IvfIndex.search(indexed,
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        centroids, k = 10, nProbe = 4)
    }),

    // full SQ8 replay: per-dim calibration, identical fixed-order
    // quantize/dequantize arithmetic (floor of the same IEEE
    // expression), fold-order cosines — shortlist AND final page
    // recompute from scratch and driver-hash
    Gate("ann_sq8_rerank", s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |d AS (SELECT id, i, v[i] AS x
         |      FROM e, unnest(range(1, ${EmbeddingDim + 1})) AS r(i)),
         |st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM d GROUP BY i),
         |cd AS (SELECT d.id, d.i,
         |         CASE WHEN st.mx = st.mn THEN 0.0
         |              ELSE floor(((d.x - st.mn) / (st.mx - st.mn)) * 255) END
         |           * CASE WHEN st.mx = st.mn THEN 0.0
         |                  ELSE (st.mx - st.mn) / 255 END
         |           + st.mn AS xq
         |       FROM d JOIN st USING (i)),
         |dq AS (SELECT id, list(xq ORDER BY i) AS vq FROM cd GROUP BY id),
         |q AS (SELECT id AS qid, v AS qv FROM e WHERE id < 5),
         |ap AS (SELECT q.qid, dq.id, ${cosFoldSql("dq.vq", "q.qv")} AS ascore
         |       FROM dq CROSS JOIN q),
         |sh AS (SELECT qid, id FROM (
         |         SELECT qid, id, row_number() OVER (
         |           PARTITION BY qid ORDER BY ascore DESC, id) AS ark
         |         FROM ap) WHERE ark <= 40),
         |ex AS (SELECT sh.qid, sh.id, ${cosFoldSql("e.v", "q.qv")} AS cs
         |       FROM sh JOIN e ON e.id = sh.id JOIN q ON q.qid = sh.qid),
         |r AS (SELECT qid, id, cs, row_number() OVER (
         |        PARTITION BY qid ORDER BY cs DESC, id) AS rk FROM ex)
         |SELECT qid, id, round(cs, 4) AS cosine, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin, (s, dir) => {
      // 8-bit scalar quantization (FAISS SQ8-flat): calibrate per-dim
      // [min,max] over the corpus, scan DEQUANTIZED codes at 1/4 the
      // memory bandwidth, shortlist refine·k per query, exact re-rank
      // over original vectors. Fixed-order quantization arithmetic →
      // bit-identical doubles in the DuckDB replay.
      val e = t(s, dir, "embeddings")
      val (mn, mx) = graft.operators.SimilaritySearch.sq8Calibrate(e, "embedding")
      val enc = graft.operators.SimilaritySearch.sq8Encode(
        e, "vec_id", "embedding", mn, mx)
      graft.operators.SimilaritySearch.sq8Search(enc, e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", mn, mx,
        k = 10, refine = 4)
    }),

    // the same full training replay with the metadata predicate on the
    // candidate scan: pre-filtered search must equal "the filtered rows
    // were never in the probed cells"
    Gate("ann_ivf_filtered", s"""${ivfReplaySqlFor("a.id % 3 = 1")}
         |SELECT qid, id, round(cs, 4) AS cosine, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin, (s, dir) => {
      // FILTERED vector search — the metadata-predicate face every
      // production retrieval system needs (search only rows passing a
      // filter): the predicate applies to the INDEXED rows before
      // ranking (pre-filtering), so the candidate generation stays
      // cell-bucketed (probed-cells join) and the top-k ranks only
      // survivors — recall over the filtered set is exactly IVF's recall
      // (no post-filter k-starvation). Same replayable model as ann_ivf;
      // the oracle repeats the full training replay with the predicate
      // on the candidate scan.
      val e = t(s, dir, "embeddings")
      val centroids = graft.operators.IvfIndex.train(
        e.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
        nCells = 16, sampleFraction = 1.0)
      val indexed = graft.operators.IvfIndex.index(e, "vec_id", "embedding", centroids)
      graft.operators.IvfIndex.search(
        indexed.filter(pmod(col("vec_id"), lit(3)) === 1),
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        centroids, k = 10, nProbe = 4)
    }),

    // the same training replay with EVERY row as a query (the knn-join
    // shape): per-row cell probing, neighbor candidates from the probed
    // cells, self excluded, top-5 by exact cosine — the shuffle-join
    // plan must be execution-strategy-invisible vs this broadcast replay
    Gate("ann_knn_join", s"""${ivfTrainSql(16, "id % 2 = 0")},
         |q AS (SELECT id AS qid, v AS qv FROM av),
         |cr AS (SELECT q.qid, p.cell, ${cosFoldSql("q.qv", "p.c")} AS score
         |       FROM q CROSS JOIN c3 p),
         |probed AS (SELECT qid, cell FROM (
         |             SELECT qid, cell,
         |               row_number() OVER (PARTITION BY qid ORDER BY score DESC, cell DESC) AS rk
         |             FROM cr) WHERE rk <= 4),
         |cand AS (SELECT p.qid, a.id, a.v FROM probed p JOIN asg a USING (cell)
         |         WHERE a.id <> p.qid),
         |csc AS (SELECT cand.qid, cand.id, ${cosFoldSql("cand.v", "q.qv")} AS cs
         |        FROM cand JOIN q USING (qid)),
         |r AS (SELECT qid, id, cs,
         |        row_number() OVER (PARTITION BY qid ORDER BY cs DESC, id) AS rk
         |      FROM csc)
         |SELECT qid, id, round(cs, 4) AS cosine, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin, (s, dir) => {
      // k-NN JOIN — the corpus-sized-query-side shape (kNN graph
      // building, SemDeDup neighbor lists): EVERY embedding gets its 5
      // nearest neighbors through the IVF cells, probed queries meeting
      // the index in a SHUFFLE join on cell (no broadcast — the query
      // side is as big as the corpus). Self-matches excluded. Same
      // deterministic parity-trained model as ann_ivf, so the oracle
      // replays training + all-rows probing + the neighbor ranking.
      val e = t(s, dir, "embeddings")
      val centroids = graft.operators.IvfIndex.train(
        e.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
        nCells = 16, sampleFraction = 1.0)
      val indexed = graft.operators.IvfIndex.index(e, "vec_id", "embedding", centroids)
      graft.operators.IvfIndex.knnJoin(indexed, e, "vec_id", "embedding",
        centroids, k = 5, nProbe = 4, excludeSelf = true)
    }),

    // full replay of IVF-PQ training (coarse k-means + residual
    // codebooks) + encode + ADC search + exact re-rank in SQL
    // (pqReplaySql) — DuckDB recomputes the entire trained model from
    // scratch, so the compressed-index search result itself driver-hashes
    Gate("ann_ivfpq", s"""$pqReplaySql
         |SELECT qid, id, round(cs, 4) AS cosine, CAST(rk AS BIGINT) AS rk
         |FROM pr WHERE rk <= 10 ORDER BY qid, rk""".stripMargin, (s, dir) => {
      // IVF-PQ: sampled train (the 100 TB path), residual-coded index,
      // ADC scan over probed cells, exact re-rank of the shortlist.
      // The training half is selected by id PARITY (not Bernoulli):
      // deterministic across engines/partitionings, which lets the
      // oracle replay the ENTIRE training — coarse k-means, residual
      // codebooks, encode, ADC, re-rank — in DuckDB SQL and hash-match
      // the search result end to end (same scheme as ann_ivf).
      val e = t(s, dir, "embeddings")
      val model = graft.operators.PqIndex.train(
        e.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
        nCells = 16, m = 8, kCodes = 16, sampleFraction = 1.0)
      val enc = graft.operators.PqIndex.encode(e, "vec_id", "embedding", model)
      graft.operators.PqIndex.search(enc, e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", model,
        k = 10, nProbe = 4, refine = 4)
    }),

    // identical replay: the persisted variant trains the same model,
    // round-trips it (and the encoded index) through parquet
    // byte-identically (spec-asserted: saveModel/loadModel and
    // writeIndex/readIndex are exact), then serves the same search — so
    // the SAME SQL gates the from-disk path end to end
    Gate("ann_ivfpq_persisted", s"""$pqReplaySql
         |SELECT qid, id, round(cs, 4) AS cosine, CAST(rk AS BIGINT) AS rk
         |FROM pr WHERE rk <= 10 ORDER BY qid, rk""".stripMargin, (s, dir) => {
      // the 100 TB serving shape, gated end-to-end: model AND encoded
      // index are WRITTEN once (model as a small parquet table, index
      // partitionBy(cell)), then the search runs entirely from disk —
      // loadModel + readIndex, with the probed-cell join
      // dynamic-partition-pruning unprobed cell directories
      // (plan-asserted in PqIndexSpec)
      val e = t(s, dir, "embeddings")
      // same parity-sampled deterministic training as ann_ivfpq: the
      // model save/load and index write/read round-trips are
      // byte-identical (spec-asserted), so the SAME oracle SQL gates the
      // from-disk serving path end to end
      val model = graft.operators.PqIndex.train(
        e.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
        nCells = 16, m = 8, kCodes = 16, sampleFraction = 1.0)
      val idx = s"${Scratch.dir}/ivfpq_index"
      val mdl = s"${Scratch.dir}/ivfpq_model"
      graft.operators.PqIndex.saveModel(s, model, mdl)
      graft.operators.PqIndex.writeIndex(
        graft.operators.PqIndex.encode(e, "vec_id", "embedding", model), idx)
      graft.operators.PqIndex.search(
        graft.operators.PqIndex.readIndex(s, idx), e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        graft.operators.PqIndex.loadModel(s, mdl),
        k = 10, nProbe = 4, refine = 4)
    }),

    // same replay once more: build-on-half + append-the-rest produces the
    // SAME encoded row set as encode-all-at-once (same fixed model), so
    // the identical SQL gates the append path — arrival batching must be
    // invisible, and a wrong append (dropped rows, double-encode, stale
    // model) hash-mismatches
    Gate("ann_ivfpq_append", s"""$pqReplaySql
         |SELECT qid, id, round(cs, 4) AS cosine, CAST(rk AS BIGINT) AS rk
         |FROM pr WHERE rk <= 10 ORDER BY qid, rk""".stripMargin, (s, dir) => {
      // the daily-ingest path at scale, gated end-to-end: the persisted
      // index is BUILT from half the corpus (even ids), then the other
      // half arrives later and is appended under the SAME trained model
      // (appendToIndex — one narrow encode scan into the cell
      // directories, no retrain, no rebuild). The served search must be
      // byte-identical to encoding everything at once — which is exactly
      // what the ann_ivfpq training-replay oracle computes, so arrival
      // batching is proven invisible (the index is a set of (id, cell,
      // codes, norm) rows; append order cannot change it).
      val e = t(s, dir, "embeddings")
      val model = graft.operators.PqIndex.train(
        e.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
        nCells = 16, m = 8, kCodes = 16, sampleFraction = 1.0)
      val idx = s"${Scratch.dir}/ivfpq_append_index"
      graft.operators.PqIndex.writeIndex(
        graft.operators.PqIndex.encode(
          e.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding", model), idx)
      graft.operators.PqIndex.appendToIndex(
        e.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding", model, idx)
      graft.operators.PqIndex.search(
        graft.operators.PqIndex.readIndex(s, idx), e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", model,
        k = 10, nProbe = 4, refine = 4)
    }),

    // the same full training replay with odd ids absent from the ADC
    // scan: a tombstoned index must serve exactly the survivors' index
    Gate("ann_ivfpq_delete", s"""${pqReplaySqlFor("fr.id % 2 = 0")}
         |SELECT qid, id, round(cs, 4) AS cosine, CAST(rk AS BIGINT) AS rk
         |FROM pr WHERE rk <= 10 ORDER BY qid, rk""".stripMargin, (s, dir) => {
      // the CRUD-closing path at scale: HALF the corpus (odd ids) is
      // DELETED from the persisted index via the tombstone sidecar
      // (PqIndex.deleteFromIndex — cell-partitioned (id, cell) masks, no
      // retrain, no rebuild, no index rewrite), and the served search
      // must equal one over an index rebuilt from the survivors — which
      // is exactly what the training-replay oracle computes with its ADC
      // scan restricted to surviving ids (the model trains on even ids
      // and is untouched by the delete)
      val e = t(s, dir, "embeddings")
      val model = graft.operators.PqIndex.train(
        e.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
        nCells = 16, m = 8, kCodes = 16, sampleFraction = 1.0)
      val idx = Scratch.fresh(s, "ivfpq_delete_index")
      graft.operators.PqIndex.writeIndex(
        graft.operators.PqIndex.encode(e, "vec_id", "embedding", model), idx)
      graft.operators.PqIndex.deleteFromIndex(s,
        e.filter(pmod(col("vec_id"), lit(2)) === 1).select("vec_id"), "vec_id", idx)
      graft.operators.PqIndex.search(
        graft.operators.PqIndex.readIndex(s, idx), e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", model,
        k = 10, nProbe = 4, refine = 4)
    }),

    // mean unigram surprisal; the fold over the word-sorted term list
    // reproduces Spark's aggregate() addition order exactly
    Gate("text_lm_score", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |p AS (SELECT doc_id, unnest(ts) AS w FROM t),
         |m AS (SELECT doc_id, w, count(*) AS m FROM p GROUP BY 1, 2),
         |tf AS (SELECT w, sum(m) AS cnt FROM m GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS total FROM tf),
         |terms AS (
         |  SELECT doc_id,
         |    struct_pack(w := w, term := m.m::DOUBLE * -ln(cnt::DOUBLE / total::DOUBLE)) AS wt,
         |    m.m AS m
         |  FROM m JOIN tf USING (w) CROSS JOIN tot),
         |d AS (SELECT doc_id, list_sort(list(wt)) AS l, CAST(sum(m) AS BIGINT) AS n
         |      FROM terms GROUP BY doc_id)
         |SELECT doc_id, n AS n_words,
         |  round(list_reduce(list_prepend(0.0, list_transform(l, x -> x.term)),
         |        (a, x) -> a + x) / n, 4) AS avg_neg_logp
         |FROM d ORDER BY doc_id""".stripMargin, (s, dir) =>
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // duplicate-n-gram fractions + top-word share; short docs (<= n words)
    // are 0 by definition on both sides
    Gate("text_repetition", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents)
         |SELECT doc_id,
         |  CAST(len(ts) AS BIGINT) AS n_words,
         |  CASE WHEN len(ts) <= 2 THEN 0.0
         |       ELSE round(1.0 - ${distinctNgramsSql(2)}::DOUBLE / (len(ts) - 1)::DOUBLE, 4)
         |  END AS dup_2gram_frac,
         |  CASE WHEN len(ts) <= 3 THEN 0.0
         |       ELSE round(1.0 - ${distinctNgramsSql(3)}::DOUBLE / (len(ts) - 2)::DOUBLE, 4)
         |  END AS dup_3gram_frac,
         |  CASE WHEN len(ts) = 0 THEN 0.0
         |       ELSE round($TopTokenSql::DOUBLE / len(ts)::DOUBLE, 4)
         |  END AS top_word_frac
         |FROM t ORDER BY doc_id""".stripMargin, (s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // interpolated bigram surprisal: counts are exact integers on both
    // engines, the interpolation literals (0.5) are binary-exact, each
    // term's arithmetic mirrors the kernel expression shape, and the
    // per-doc sum folds over the (w1, w2)-sorted term list — the
    // text_lm_score determinism contract extended to bigrams
    Gate("text_bigram_lm", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |big AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
         |        FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
         |              FROM t WHERE len(ts) >= 2)),
         |m AS (SELECT doc_id, w1, w2, count(*) AS m FROM big GROUP BY 1, 2, 3),
         |uc AS (SELECT w, count(*) AS cnt
         |       FROM (SELECT unnest(ts) AS w FROM t) GROUP BY w),
         |tot AS (SELECT sum(cnt) AS total FROM uc),
         |bc AS (SELECT w1, w2, sum(m) AS bcnt FROM m GROUP BY 1, 2),
         |terms AS (SELECT m.doc_id, m.m,
         |    struct_pack(w1 := m.w1, w2 := m.w2,
         |      term := m.m::DOUBLE * -ln(
         |        0.5 * (bc.bcnt::DOUBLE / u1.cnt::DOUBLE)
         |        + 0.5 * (u2.cnt::DOUBLE / tot.total::DOUBLE))) AS wt
         |  FROM m JOIN bc USING (w1, w2)
         |  JOIN uc u1 ON u1.w = m.w1
         |  JOIN uc u2 ON u2.w = m.w2
         |  CROSS JOIN tot),
         |d AS (SELECT doc_id, list_sort(list(wt)) AS l,
         |        CAST(sum(m) AS BIGINT) AS n
         |      FROM terms GROUP BY doc_id)
         |SELECT doc_id, n AS n_bigrams,
         |  round(list_reduce(list_prepend(0.0, list_transform(l, x -> x.term)),
         |        (a, x) -> a + x) / n, 4) AS avg_neg_logp
         |FROM d ORDER BY doc_id""".stripMargin, (s, dir) =>
      // interpolated bigram LM surprisal (λ=0.5 — exactly representable,
      // so both engines interpolate with the same doubles); docs with
      // < 2 tokens have no bigram position and no row
      TextAnalysis.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // tf·idf replay with exact integer counts; both engines rank the
    // 4-decimal-rounded score with a word tiebreak (rounding first pins
    // one cross-engine order against ln()'s last-ulp freedom)
    Gate("text_keywords", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |p AS (SELECT doc_id, w, count(*) AS m
         |      FROM (SELECT doc_id, unnest(ts) AS w FROM t) GROUP BY 1, 2),
         |dfq AS (SELECT w, count(*) AS df FROM p GROUP BY w),
         |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM p),
         |sc AS (SELECT p.doc_id, p.w,
         |         round(p.m::DOUBLE * ln(nd.nd::DOUBLE / dfq.df::DOUBLE), 4) AS tfidf
         |       FROM p JOIN dfq USING (w) CROSS JOIN nd),
         |r AS (SELECT doc_id, w, tfidf,
         |        row_number() OVER (PARTITION BY doc_id
         |          ORDER BY tfidf DESC, w ASC) AS rk
         |      FROM sc)
         |SELECT doc_id, CAST(rk AS BIGINT) AS rk, w AS word, tfidf
         |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin, (s, dir) =>
      // TF-IDF top-3 keywords per doc; the rank compares the ROUNDED
      // score (word tiebreak) so ln()'s last ulp cannot flip the order
      // across engines — see tfidfKeywords
      TextAnalysis.tfidfKeywords(t(s, dir, "documents"), "doc_id", "text", k = 3)),

    // BM25 replay: same Lucene idf, same saturation arithmetic, N and
    // avgdl over ALL docs (zero-match docs count in the stats, score no
    // row) — the rank compares the rounded score with id tiebreak
    Gate("text_bm25", bm25ReplaySql, (s, dir) =>
      // BM25 ranked retrieval over the corpus (Lucene idf variant,
      // k1=1.2, b=0.75): query mixes the corpus's one rare term ('dup',
      // df≈25 of 500) with two common ones, so the idf weighting is
      // actually exercised — rare-term docs must outrank
      // high-tf-common-term docs. Rank compares the ROUNDED score with
      // id tiebreak (the tfidf/lm_score cross-engine contract)
      TextAnalysis.bm25Search(t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("dup", "vector", "batch"), k = 20)),

    // identical replay: the persisted postings round-trip writes the
    // same (tf, dl) rows and recomputes the same df/nd/avgdl, so the
    // from-disk serving path is gated by the SAME SQL as text_bm25 —
    // a wrong bucket prune (dropped postings) or stale stats
    // hash-mismatches
    Gate("text_bm25_indexed", bm25ReplaySql, (s, dir) => {
      // the PERSISTED serving shape of text_bm25 (ann_ivfpq_persisted's
      // pattern for text): postings written once partitionBy(bucket =
      // xxhash64(w) mod 64), the query's buckets computed driver-side
      // with the same hash, the scan directory-pruned to them
      // (plan-asserted in PlanSpec), df exact from the loaded lists —
      // the round trip is result-invisible, so the SAME oracle SQL
      // gates it
      val idx = Scratch.fresh(s, "bm25_index")
      TextAnalysis.buildBm25Index(t(s, dir, "documents"), "doc_id", "text",
        idx, nBuckets = 64)
      TextAnalysis.bm25SearchIndexed(s, idx, "doc_id",
        terms = Seq("dup", "vector", "batch"), k = 20)
    }),

    // build-half + append-half must serve the FULL-corpus replay: nd and
    // Σdl are additive (exact — integer token counts in double), per-doc
    // postings are batch-local (disjoint doc batches), df recomputes
    // from the union — so the appended store is replay-identical to a
    // one-shot build
    Gate("text_bm25_append", bm25ReplaySql, (s, dir) => {
      // INCREMENTAL index maintenance: build on the corpus's first half,
      // append the second half as a new-batch commit (one batch scan +
      // one postings fileset + one ADDITIVE stats row, atomic manifest
      // publish — O(batch), no rebuild). The search over the appended
      // store must equal the full-corpus replay — same oracle as
      // text_bm25/text_bm25_indexed: a lost posting, double-counted
      // stat, or wrong bucket hash-mismatches.
      val idx = Scratch.fresh(s, "bm25_append_index")
      val docs = t(s, dir, "documents")
      TextAnalysis.buildBm25Index(docs.filter(col("doc_id") < 250),
        "doc_id", "text", idx, nBuckets = 64)
      TextAnalysis.appendToBm25Index(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", idx, tag = 1L)
      TextAnalysis.bm25SearchIndexed(s, idx, "doc_id",
        terms = Seq("dup", "vector", "batch"), k = 20)
    }),

    // the post-takedown store recomputed from scratch: surviving hashes
    // are those NO banned doc carries (the hash's duplicates vanish with
    // it), keepers/batches unchanged for everything untouched
    Gate("dedup_takedown", """WITH h AS (SELECT doc_id, sha256("text") AS ch FROM documents),
        |banned AS (SELECT DISTINCT ch FROM h WHERE doc_id % 10 = 3)
        |SELECT ch AS content_hash, min(doc_id) AS keep_id,
        |  CAST(CASE WHEN min(doc_id) < 2000 THEN 0 ELSE 1 END AS BIGINT)
        |    AS arrival_batch
        |FROM h WHERE ch NOT IN (SELECT ch FROM banned)
        |GROUP BY ch ORDER BY content_hash""".stripMargin, (s, dir) => {
      // TAKEDOWN on the persisted dedup store (copyright/PII removal —
      // the forget face every long-lived training pipeline needs): the
      // corpus ingests in two batches, then every doc with id ≡3 mod 10
      // has its CONTENT HASH tombstoned in one atomic commit — the
      // hash's keeper (and every duplicate it suppressed) leaves the
      // served store immediately, while untouched hashes keep their
      // first-arrival keeper and batch. The oracle recomputes the store
      // minus the banned hash set from scratch: a leaked tombstoned
      // hash, a lost untouched row, or a drifted keeper mismatches.
      val store = Scratch.fresh(s, "dedup_takedown_store")
      val docs = t(s, dir, "documents")
      graft.operators.DedupStore.ingest(
        s, docs.filter(col("doc_id") < 2000), "doc_id", "text", store, 0L)
      graft.operators.DedupStore.ingest(
        s, docs.filter(col("doc_id") >= 2000), "doc_id", "text", store, 1L)
      graft.operators.DedupStore.takedown(
        s, docs.filter(pmod(col("doc_id"), lit(10L)) === 3L), "text",
        store, tag = 2L)
      graft.operators.DedupStore.read(s, store)
        .select(col("content_hash"), col("keep_id"),
          col("arrival_batch").cast("long").as("arrival_batch"))
        .orderBy("content_hash")
    }),

    // tombstone delete: the served search must equal the replay over
    // the SURVIVING corpus — df, nd and avgdl all post-delete
    Gate("text_bm25_delete", bm25ReplaySqlFor("doc_id % 2 = 0"), (s, dir) => {
      // tombstone DELETE on the persisted index (PqIndex's
      // ann_ivfpq_delete pattern for text): build over the full corpus,
      // delete the odd-id half — ONE doc-id tombstone fileset + ONE
      // NEGATIVE additive stats row (nd/Σdl are exact integer-valued
      // sums, subtraction is exact), atomic manifest publish, O(batch +
      // store ids) via the dl-bearing ids filesets (never a postings
      // rescan). Serving anti-joins the tombstones BEFORE df, so the
      // search must equal the replay over the survivors — a leaked
      // deleted doc, stale df, or unsubtracted stat hash-mismatches.
      val idx = Scratch.fresh(s, "bm25_delete_index")
      val docs = t(s, dir, "documents")
      TextAnalysis.buildBm25Index(docs, "doc_id", "text", idx, nBuckets = 64)
      TextAnalysis.deleteFromBm25Index(s, idx,
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1L).select("doc_id"),
        tag = 1L)
      TextAnalysis.bm25SearchIndexed(s, idx, "doc_id",
        terms = Seq("dup", "vector", "batch"), k = 20)
    }),

    // compaction is content-invisible: the collapsed-fileset store
    // serves the identical full-corpus ranking
    Gate("text_bm25_compact", bm25ReplaySql, (s, dir) => {
      // index COMPACTION (DedupStore.compactStore's contract for text):
      // two ingest batches' per-batch postings/ids/stats filesets
      // collapse to ONE each (bucket partitioning kept — queries still
      // directory-prune), committed as a new version, superseded
      // filesets left for vacuum. Content-invisible: the same
      // full-corpus oracle as text_bm25/_indexed/_append gates the
      // round trip — this is the steady-state face that stops serve
      // cost growing with ingest batch count.
      val idx = Scratch.fresh(s, "bm25_compact_index")
      val docs = t(s, dir, "documents")
      TextAnalysis.buildBm25Index(docs.filter(col("doc_id") < 250),
        "doc_id", "text", idx, nBuckets = 64)
      TextAnalysis.appendToBm25Index(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", idx, tag = 1L)
      TextAnalysis.compactBm25Index(s, idx)
      TextAnalysis.bm25SearchIndexed(s, idx, "doc_id",
        terms = Seq("dup", "vector", "batch"), k = 20)
    }),

    // compaction is content-invisible BY the additive algebra: the
    // merged-fileset store serves the same one-shot PMI
    Gate("text_colloc_compact", collocReplaySql, (s, dir) => {
      // count-store COMPACTION: two arrival batches' uni/big/tot
      // filesets merge to ONE each (counts summed — the additive
      // algebra makes the rewrite content-invisible by construction),
      // then vacuum reclaims the superseded filesets and the store
      // still serves — the same one-shot PMI oracle gates the whole
      // compact-then-reclaim round trip.
      val store = Scratch.fresh(s, "colloc_compact_store")
      val docs = t(s, dir, "documents")
      TextAnalysis.buildCountStore(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), "text", store,
        nBuckets = 16)
      TextAnalysis.appendToCountStore(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), "text", store,
        tag = 1L)
      TextAnalysis.compactCountStore(s, store)
      TextAnalysis.vacuumCountStore(s, store, keepLast = 1, graceMs = 0L)
      TextAnalysis.collocationsFromStore(s, store, minCount = 5L, k = 50)
    }),

    // same rule thresholds and unrounded double comparisons as
    // Curation.qualityFilter's defaults
    Gate("pipeline_quality_filter", s"""WITH t AS (SELECT doc_id, lang, source, $ToksSql AS ts FROM documents),
         |m AS (
         |  SELECT doc_id, lang, source,
         |    CAST(len(ts) AS BIGINT) AS nw,
         |    CASE WHEN len(ts) = 0 THEN 0.0
         |         ELSE list_sum(list_transform(ts, x -> len(x)))::DOUBLE / len(ts)::DOUBLE END AS awl,
         |    CASE WHEN len(ts) <= 2 THEN 0.0
         |         ELSE 1.0 - ${distinctNgramsSql(2)}::DOUBLE / (len(ts) - 1)::DOUBLE END AS dup2,
         |    CASE WHEN len(ts) = 0 THEN 0.0
         |         ELSE $TopTokenSql::DOUBLE / len(ts)::DOUBLE END AS topw
         |  FROM t
         |)
         |SELECT doc_id, lang, source FROM m
         |WHERE nw BETWEEN 30 AND 100000 AND awl BETWEEN 3.0 AND 10.0
         |  AND dup2 <= 0.1 AND topw <= 0.2
         |ORDER BY doc_id""".stripMargin, (s, dir) =>
      graft.operators.Curation.qualityFilter(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // same md5 keys, same mod-8 shards, same within-shard ranks — the
    // shuffle must be engine- and partitioning-invariant by construction
    Gate("pipeline_shuffle_shard", """WITH k AS (SELECT doc_id,
        |             md5('run42:' || CAST(doc_id AS VARCHAR)) AS _k
        |           FROM documents),
        |s AS (SELECT doc_id, _k,
        |        CAST(concat('0x', substring(_k, 1, 8)) AS BIGINT) % 8 AS shard
        |      FROM k)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY _k, doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin, (s, dir) =>
      // deterministic global shuffle + sharding — the training-export
      // tail: seeded md5 order (identical on any partitioning), shard =
      // key mod 8, position = rank WITHIN the shard (no global
      // row-numbering — a global window funnels the corpus through one
      // task; per-shard ranks keep every task at corpus/nShards rows)
      graft.operators.Curation.shuffleShard(
        t(s, dir, "documents").select("doc_id"), "doc_id", "run42", 8)
        .orderBy("shard", "pos")),

    // DSIR replay: same md5 buckets (the text_hash_embed hash bridge),
    // same add-one smoothing, per-doc fold over the bucket-sorted term
    // list (the lm_score float-summing contract)
    Gate("pipeline_dsir", s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS ts FROM documents),
         |f AS (SELECT doc_id, lang = 'en' AS is_t,
         |        CAST(concat('0x', substring(md5(w), 1, 8)) AS BIGINT) % 256 AS b
         |      FROM (SELECT doc_id, lang, unnest(ts) AS w FROM t)),
         |rc AS (SELECT b, count(*) AS rc FROM f GROUP BY b),
         |tc AS (SELECT b, count(*) AS tc FROM f WHERE is_t GROUP BY b),
         |tot AS (SELECT count(*) AS rt,
         |          count(*) FILTER (WHERE is_t) AS tt FROM f),
         |r AS (SELECT rc.b,
         |        ln(((coalesce(tc, 0) + 1)::DOUBLE / (tt + 256)::DOUBLE)
         |          / ((rc + 1)::DOUBLE / (rt + 256)::DOUBLE)) AS lr
         |      FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot),
         |m AS (SELECT doc_id, b, count(*) AS m FROM f GROUP BY doc_id, b),
         |terms AS (SELECT doc_id,
         |            struct_pack(b := m.b, term := m.m::DOUBLE * r.lr) AS wt,
         |            m.m AS m
         |          FROM m JOIN r USING (b)),
         |d AS (SELECT doc_id, list_sort(list(wt)) AS l,
         |        CAST(sum(m) AS BIGINT) AS n
         |      FROM terms GROUP BY doc_id)
         |SELECT doc_id, n AS n_tokens,
         |  round(list_reduce(list_prepend(0.0, list_transform(l, x -> x.term)),
         |        (a, x) -> a + x), 4) AS log_weight
         |FROM d ORDER BY doc_id""".stripMargin, (s, dir) =>
      // DSIR importance weights, target = the English subset (the
      // "select data that looks like the trusted set" face): every doc
      // scored by its hashed-unigram target/raw log likelihood ratio.
      // md5 buckets + exact counts + bucket-sorted folds make the whole
      // model replayable; English docs must trend positive, others
      // negative — the oracle recomputes every weight exactly
      graft.operators.Curation.dsirWeights(t(s, dir, "documents"),
        "doc_id", "text", targetPred = col("lang") === "en", buckets = 256)
        .orderBy("doc_id")),

    // SemDeDup-style semantic dedup (cluster-bounded cosine dedup).
    // Clustering intentionally skips cross-cluster pairs — that
    // approximation IS the algorithm — and the oracle replays it
    // faithfully: IvfIndex.train is bit-deterministic and DuckDB-
    // replayable (md5 init, 6-decimal means), so the oracle recomputes
    // the SAME clustering in SQL and applies the same within-cell
    // lower-id-neighbor drop. Training runs on the full corpus here
    // (replayable); the Bernoulli-sampled train path stays gated by
    // dedup_semantic_planted, and the nClusters=1 == brute-force
    // equivalence stays spec-proven in OperatorSpec.
    // full replay of the SemDeDup gate: recompute the 8-cell k-means in
    // SQL (ivfTrainSql — bit-deterministic by md5 init + 6-decimal
    // means), keep cells with 2..100000 members (the operator's
    // degenerate-cell guard), drop every id with a lower-id SAME-CELL
    // neighbor at kernel-order cosine >= 0.4 (cluster-bounded pairing IS
    // the algorithm — cross-cell near-dups are intentionally kept), and
    // return the survivors with their labels
    Gate("dedup_semantic", s"""${ivfTrainSql(8, "TRUE")},
         |okc AS (SELECT cell FROM (SELECT cell, count(*) AS csz FROM asg GROUP BY cell)
         |        WHERE csz BETWEEN 2 AND 100000),
         |pp AS (SELECT a.id, a.cell, a.v FROM asg a JOIN okc USING (cell)),
         |drp AS (SELECT DISTINCT y.id
         |        FROM pp x JOIN pp y ON x.cell = y.cell AND x.id < y.id
         |        WHERE ${cosFoldSql("x.v", "y.v")} >= 0.4)
         |SELECT e.vec_id, CAST(e.label AS BIGINT) AS label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM drp)
         |ORDER BY vec_id""".stripMargin, (s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        nClusters = 8, threshold = 0.4, sampleFraction = 1.0)
        .select(col("vec_id"), col("label").cast("long").as("label"))
        .orderBy("vec_id")),

    // planted-family truth: survivors = ids with no lower-id neighbor at
    // cosine >= 0.99999 over the replicated corpus (NaN guard mirrors
    // graft_cosine's 0.0 on zero vectors — both engines keep the row)
    Gate("dedup_semantic_planted", """WITH p AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings
        |  WHERE vec_id % 10 = 0),
        |d AS (SELECT DISTINCT y.vec_id
        |      FROM p x JOIN p y ON x.vec_id < y.vec_id
        |      WHERE NOT isnan(list_cosine_similarity(x.v, y.v))
        |        AND list_cosine_similarity(x.v, y.v) >= 0.99999)
        |SELECT vec_id FROM p
        |WHERE vec_id NOT IN (SELECT vec_id FROM d)
        |ORDER BY vec_id""".stripMargin, (s, dir) => {
      // the CLUSTERED (nClusters>1) semantic-dedup path under a DRIVER
      // hash check: every 10th vector is replicated under a higher id, so
      // at threshold 0.99999 the only qualifying pairs are the planted
      // identical copies (natural pairwise cosine on this corpus tops out
      // ~0.6). Identical vectors get identical centroid distances and
      // land in the same k-means cell, so the cluster-bounded survivor
      // set provably equals the global survivor set — which IS
      // SQL-expressible (no lower-id neighbor at cosine >= t).
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = e.unionAll(
        e.filter(pmod(col("vec_id"), lit(10)) === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      Dedup.semanticDedup(planted, "vec_id", "embedding",
        nClusters = 8, threshold = 0.99999, sampleFraction = 0.5)
        .select(col("vec_id")).orderBy("vec_id")
    }),

    // identical pattern strings (interpolated from Curation) under Java
    // regex and RE2; 'g' mirrors Spark's replace-all default
    Gate("pipeline_pii", {
      import graft.operators.Curation.{EmailRe, PhoneRe, Ipv4Re}
      s"""WITH p AS (
         |  SELECT doc_id,
         |    substring("text", 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com tel +1-555-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '$Ipv4Re')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g'), '$Ipv4Re', '[IP]', 'g')
         |    AS text_redacted
         |FROM p ORDER BY doc_id""".stripMargin
    }, (s, dir) => {
      // the synthetic corpus carries no PII, so the gate plants a
      // deterministic contact line per document and scrubs it back out —
      // the regex kernels, not the data, are what is under test
      val docs = t(s, dir, "documents")
      val planted = docs.select(col("doc_id"),
        concat(
          substring(col("text"), 1, 40),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com tel +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" host 10."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".0.1")).as("text"))
      graft.operators.Curation.redactPii(planted, "doc_id", "text")
        .orderBy("doc_id")
    }),

    Gate("pipeline_url_filter", {
      val blockedSql = BlockedDomains.map(d => s"'$d'").mkString("[", ", ", "]")
      s"""WITH p AS (
         |  SELECT doc_id, lang,
         |    substring("text", 1, 30) || ' see https://site'
         |      || CAST(doc_id % 20 AS VARCHAR) || '.example.org/p/'
         |      || CAST(doc_id AS VARCHAR) || ' and http://ok.example.com/'
         |      || CAST(doc_id AS VARCHAR) AS t
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, lang,
         |    regexp_extract_all(coalesce(t, ''), '${graft.operators.Curation.UrlDomainRe}', 1) AS domains
         |  FROM p)
         |SELECT doc_id, lang, CAST(len(domains) AS BIGINT) AS n_urls
         |FROM d WHERE NOT list_has_any(domains, $blockedSql)
         |ORDER BY doc_id""".stripMargin
    }, (s, dir) => {
      // like pipeline_pii, URLs are planted deterministically (the corpus
      // has none): each doc cites one of 20 rotating domains plus one
      // always-good domain; the 5 blocked domains remove ~25% of docs
      val docs = t(s, dir, "documents")
      val planted = docs.select(col("doc_id"), col("lang"),
        concat(substring(col("text"), 1, 30),
          lit(" see https://site"), pmod(col("doc_id"), lit(20)).cast("string"),
          lit(".example.org/p/"), col("doc_id").cast("string"),
          lit(" and http://ok.example.com/"), col("doc_id").cast("string"))
          .as("text"))
      graft.operators.Curation.urlFilter(planted, "doc_id", "text", BlockedDomains)
        .select("doc_id", "lang", "n_urls")
        .orderBy("doc_id")
    }),

    // full training replay (bpeReplaySql): DuckDB relearns all 64 merge
    // rules from scratch — argmax, tie-break and greedy apply all
    // recomputed — so the rule table itself driver-hashes
    Gate("pipeline_bpe", bpeReplaySql, (s, dir) =>
      // BPE tokenizer training (Sennrich ACL'16): 64 merge rules learned
      // from the corpus vocabulary. The corpus is scanned once (tokenize →
      // word count); training then runs the INCREMENTAL algorithm on the
      // collected vocabulary — per round, argmax pair by
      // (count DESC, lhs, rhs) from a lazy max-heap, then ONLY the words
      // containing the winning pair are re-counted (greedy
      // non-overlapping merge), so round cost tracks affected words, not
      // vocab. Both steps are engine-portable, so the oracle replays the
      // entire 64-round training in DuckDB SQL. corpus_symbols (weighted
      // symbol total AFTER each merge) independently validates the
      // greedy apply: under overlapping pairs fewer merges fire than
      // pairs counted.
      graft.operators.Bpe.train(t(s, dir, "documents"), "text", merges = BpeMerges)
        .orderBy("round")),

    // byte-level training replay over the multi-byte-seeded corpus
    Gate("pipeline_bpe_bytes", bpeBytesReplaySql, (s, dir) =>
      // BYTE-LEVEL BPE training (the real-LLM-tokenizer symbol model:
      // GPT-2's bytes_to_unicode alphabet): words split into UTF-8 BYTES
      // mapped to printable symbols, merges learned over those — a
      // multi-byte character is several symbols until the data re-merges
      // it. The corpus is seeded with 2-byte characters (a→ä, e→é) so
      // this gate provably differs from code-point training. Same
      // incremental trainer, same full round-by-round DuckDB replay (v0
      // rendered by a hex walk over encode(word) through the 256-entry
      // byte→symbol map).
      graft.operators.Bpe.train(
        t(s, dir, "documents")
          .withColumn("text", translate(col("text"), "ae", "äé")),
        "text", merges = BpeBytesMerges, byteLevel = true)
        .orderBy("round")),

    // training replay up to the final vocab v64, then the per-doc encode
    // as a tokens-to-vocab join (bpeApplySql) — the applied tokenizer's
    // output driver-hashes end to end
    Gate("pipeline_bpe_apply", bpeApplySql, (s, dir) => {
      // the inference side of BPE, gated end-to-end: train the 64 merge
      // rules (bit-deterministic, DuckDB-replayable), then ENCODE the
      // whole corpus under them — per-doc subword token counts, the
      // actual 100 TB tokenizer workload (one narrow scan; the per-word
      // work is BpeOps' bounded O(len^2) kernel, rule-count-independent).
      // Docs with zero tokens have no row, mirroring the oracle's
      // tokens-to-vocab join.
      val docs = t(s, dir, "documents")
      val rules = graft.operators.Bpe.train(docs, "text", merges = BpeMerges)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.encodeSymbolCounts(docs, "doc_id", "text", rules)
        .orderBy("doc_id")
    }),

    // same md5-bucket arithmetic as TextAnalysis.hashedBow; the squared
    // norm sums integer-valued doubles (exact), so division + round(4)
    // bit-match across engines
    Gate("text_hash_embed", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |b AS (SELECT doc_id, list_transform(ts,
         |        x -> CAST(concat('0x', substring(md5(x), 1, 8)) AS BIGINT) % 64) AS bs
         |      FROM t),
         |c AS (SELECT doc_id, list_transform(range(0, 64),
         |        k -> CAST(len(list_filter(bs, x -> x = k)) AS DOUBLE)) AS cs
         |      FROM b),
         |n AS (SELECT doc_id, cs,
         |        sqrt(list_reduce(list_prepend(0.0,
         |          list_transform(cs, x -> x * x)), (a, x) -> a + x)) AS nrm
         |      FROM c),
         |e AS (SELECT doc_id,
         |        CASE WHEN nrm = 0 THEN cs
         |             ELSE list_transform(cs, x -> round(x / nrm, 4)) END AS emb
         |      FROM n)
         |SELECT doc_id,
         |  array_to_string(list_transform(emb,
         |    x -> CAST(CAST(x AS DECIMAL(10,4)) AS VARCHAR)), ',') AS embedding
         |FROM e ORDER BY doc_id""".stripMargin, (s, dir) =>
      // hashing-trick featurization: md5-bucketed token counts,
      // l2-normalized — the model-free bridge from text to the
      // embedding-space operators. The gate emits the vector as ONE
      // comma-joined string of decimal(10,4)-rendered elements: the
      // driver's pandas harness sorts/hashes frames and cannot hash an
      // array column, and decimal formatting (unlike double→string) is
      // bit-identical across Spark and DuckDB ("0.1234" / "0.0000").
      graft.operators.TextAnalysis.hashedBow(
        t(s, dir, "documents"), "doc_id", "text", dim = 64)
        .select(col("doc_id"),
          array_join(transform(col("embedding"),
            x => x.cast("decimal(10,4)").cast("string")), ",").as("embedding"))
        .orderBy("doc_id")),

    // the full text→features→dedup chain against one SQL truth: embeddings
    // via the text_hash_embed CTEs, survivors = docs with no lower-id
    // neighbor at cosine >= 0.95. NaN guard: zero vectors give NaN here
    // but 0.0 from graft_cosine — both must keep the row.
    Gate("pipeline_embed_dedup", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents
         |          WHERE doc_id < 2000),
         |b AS (SELECT doc_id, list_transform(ts,
         |        x -> CAST(concat('0x', substring(md5(x), 1, 8)) AS BIGINT) % 64) AS bs
         |      FROM t),
         |c AS (SELECT doc_id, list_transform(range(0, 64),
         |        k -> CAST(len(list_filter(bs, x -> x = k)) AS DOUBLE)) AS cs
         |      FROM b),
         |n AS (SELECT doc_id, cs,
         |        sqrt(list_reduce(list_prepend(0.0,
         |          list_transform(cs, x -> x * x)), (a, x) -> a + x)) AS nrm
         |      FROM c),
         |e AS (SELECT doc_id,
         |        CASE WHEN nrm = 0 THEN cs
         |             ELSE list_transform(cs, x -> round(x / nrm, 4)) END AS emb
         |      FROM n),
         |d AS (SELECT DISTINCT y.doc_id
         |      FROM e x JOIN e y ON x.doc_id < y.doc_id
         |      WHERE NOT isnan(list_cosine_similarity(x.emb, y.emb))
         |        AND list_cosine_similarity(x.emb, y.emb) >= 0.95)
         |SELECT doc_id FROM e
         |WHERE doc_id NOT IN (SELECT doc_id FROM d)
         |ORDER BY doc_id""".stripMargin, (s, dir) =>
      // the embedding-space composition chain, end-to-end: text →
      // hashed-BoW features → semantic dedup survivors. nClusters=1 makes
      // semanticDedup equal brute-force global survivors (spec-proven),
      // which IS SQL-expressible — so the whole chain gets one exact
      // oracle (the clustered scale path is gated by dedup_semantic).
      // doc_id < 2000 bounds the brute-force truth face to a fixed
      // corpus at any SF; quadratic cost is inherent to an exact oracle,
      // not to the operator.
      graft.operators.Dedup.semanticDedup(
        graft.operators.TextAnalysis.hashedBow(
          t(s, dir, "documents").filter(col("doc_id") < 2000),
          "doc_id", "text", dim = 64),
        "doc_id", "embedding", nClusters = 1, threshold = 0.95)
        .select("doc_id").orderBy("doc_id")),

    // same chunk arithmetic as Curation.chunkDocuments: stride 48 = 64-16,
    // nChunks = max(1, ceil((n-16)/48)), window = tokens[start, start+64)
    Gate("pipeline_chunk", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |n AS (SELECT doc_id, ts, len(ts) AS n FROM t WHERE len(ts) > 0),
         |c AS (SELECT doc_id, ts, n,
         |        unnest(range(0, greatest(1, (n - 16 + 47) // 48))) AS chunk_id
         |      FROM n)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS chunk_tokens,
         |  array_to_string(list_slice(ts, chunk_id * 48 + 1,
         |    least(chunk_id * 48 + 64, n)), ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin, (s, dir) =>
      // context-window chunking: 64-token windows, 16-token overlap —
      // the shuffle-free split ahead of packing/embedding
      graft.operators.Curation.chunkDocuments(
        t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")),

    Gate("text_langid", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |h AS (SELECT doc_id, $HitsCols FROM t)
         |SELECT doc_id, $LangCaseSql AS lang_pred FROM h ORDER BY doc_id""".stripMargin, (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), graft.functions.TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // identical integer counts; the log argument is fixed-order double
    // arithmetic, round(4) pins the cross-engine rank (bm25 contract)
    Gate("text_collocations", collocReplaySql, (s, dir) =>
      // PMI collocation mining (Church & Hanks; word2vec's phrase pass):
      // adjacent pairs scored ln((c12/B)/((c1/T)(c2/T))), minCount
      // suppresses the hapax-PMI explosion, top-50 by rounded score.
      // Two vocab-sized aggregates + broadcast marginals + TakeOrdered —
      // no corpus-sized shuffle beyond the count tables.
      TextAnalysis.collocations(t(s, dir, "documents"), "text",
        minCount = 5L, k = 50)),

    // the incrementally-built count store serves the IDENTICAL PMI —
    // counts are additive integers, so the one-shot scan replays it
    Gate("text_collocations_inc", collocReplaySql, (s, dir) => {
      // the INCREMENTAL face of corpus statistics: unigram/bigram/total
      // counts committed per ingest batch (hash-bucketed filesets,
      // atomic manifest publish — the BM25/dedup store pattern), PMI
      // served by a plain additive merge. Two arrival batches (doc_id
      // parity) must equal the one-shot corpus scan EXACTLY — counts
      // are integers and the PMI arithmetic is the identical fixed
      // order, so the one-shot oracle replays with no tolerance. An
      // append is O(batch), never a corpus rescan.
      val store = Scratch.fresh(s, "colloc_store")
      val docs = t(s, dir, "documents")
      TextAnalysis.buildCountStore(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), "text", store,
        nBuckets = 16)
      TextAnalysis.appendToCountStore(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), "text", store,
        tag = 1L)
      TextAnalysis.collocationsFromStore(s, store, minCount = 5L, k = 50)
    }),

    // full quality-surface mirror: bpeish token count re-expressed without
    // lookarounds (RE2) as letter-runs + digit-runs + non-alnum-non-space
    // chars; composite score recomputed with the same double arithmetic
    // and associativity as TextFunctions.qualityScore
    Gate("text_quality", s"""WITH t AS (
         |  SELECT doc_id, "text", $ToksSql AS ts FROM documents
         |), m AS (
         |  SELECT doc_id, "text", ts, $HitsCols,
         |    CAST(len(ts) AS BIGINT) AS n_words,
         |    CAST(len(regexp_extract_all("text", '\\p{L}+'))
         |       + len(regexp_extract_all("text", '\\p{N}+'))
         |       + len(regexp_extract_all("text", '[^\\p{L}\\p{N}\\s]')) AS BIGINT) AS n_tokens,
         |    CAST(length("text") AS BIGINT) AS n_chars,
         |    CASE WHEN length("text") = 0 THEN 0.0
         |         ELSE len(regexp_extract_all("text", '[[:punct:]]'))::DOUBLE / length("text")::DOUBLE END AS pr,
         |    CASE WHEN len(ts) = 0 THEN 0.0
         |         ELSE ${hitsSql("en")}::DOUBLE / len(ts)::DOUBLE END AS sw,
         |    CASE WHEN len(ts) = 0 THEN 0.0
         |         ELSE list_sum(list_transform(ts, x -> len(x)))::DOUBLE / len(ts)::DOUBLE END AS awl
         |  FROM t
         |)
         |SELECT doc_id, $LangCaseSql AS lang_pred, n_words, n_tokens, n_chars,
         |  round(pr, 4) AS punct_ratio, round(sw, 4) AS stopword_ratio, round(awl, 4) AS avg_word_len,
         |  round(least(n_words::DOUBLE / 100.0, 1.0) * 0.3
         |      + greatest(0.0, 1.0 - pr * 4.0) * 0.3
         |      + least(sw * 3.0, 1.0) * 0.2
         |      + (CASE WHEN awl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 4) AS quality
         |FROM m ORDER BY doc_id""".stripMargin, (s, dir) =>
      TextAnalysis.analyze(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    Gate("text_tokens", """SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(lower("text"), '[^\p{L}\p{N}]+'),
        |      x -> len(x) > 0)) AS n_words,
        |  length("text") AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin, (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        // long-typed to match DuckDB's BIGINT len()/length()
        graft.functions.TextFunctions.wordCount(col("text")).cast("long").as("n_words"),
        length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")),

    Gate("text_vocab", s"""WITH w AS (SELECT unnest($ToksSql) AS word FROM documents),
         |c AS (SELECT word, count(*) AS n FROM w GROUP BY word)
         |SELECT word, CAST(n AS BIGINT) AS n FROM c
         |ORDER BY n DESC, word LIMIT 100""".stripMargin, (s, dir) =>
      // corpus vocabulary builder (the tokenizer-training / vocab-pruning
      // input): global top-100 words by frequency. One (word) groupBy of
      // narrow rows; the global top-k compiles to TakeOrderedAndProject
      // (per-partition partial top-k, merged on the driver) — no full
      // sort of the vocabulary at any scale
      t(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(100)),

    // full replay of the portable winnowing fingerprint (Schleimer et al.
    // SIGMOD'03; gate params k=5, w=4): per-position 5-gram hashes via
    // the md5 32-bit bridge (engine-identical values), per-window minima
    // over 4-gram windows, distinct set. n_hashes counts the set and
    // fp_xor is the order-insensitive xor fold, so both engines agree
    // however their arrays are ordered. Short docs: < k chars -> empty
    // fingerprint; <= w-1 windows -> the single global min.
    Gate("text_fingerprint", """WITH s AS (SELECT doc_id, lower("text") AS s,
        |             length(lower("text")) AS n FROM documents),
        |h AS (SELECT doc_id,
        |        CASE WHEN n < 5 THEN CAST([] AS BIGINT[])
        |             ELSE list_transform(range(0, n - 5 + 1),
        |               i -> CAST(concat('0x',
        |                 substring(md5(substring(s, CAST(i + 1 AS INT), 5)), 1, 8))
        |                 AS BIGINT))
        |        END AS hs
        |      FROM s),
        |f AS (SELECT doc_id,
        |        CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
        |             WHEN len(hs) - 3 <= 0 THEN [list_min(hs)]
        |             ELSE list_distinct(list_transform(range(0, len(hs) - 4 + 1),
        |               j -> list_min(hs[CAST(j + 1 AS INT):CAST(j + 4 AS INT)])))
        |        END AS fp
        |      FROM h)
        |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_hashes,
        |  abs(list_reduce(list_prepend(CAST(0 AS BIGINT), fp),
        |    (a, x) -> xor(a, x))) AS fp_xor
        |FROM f ORDER BY doc_id""".stripMargin, (s, dir) =>
      // portableHash: 32-bit md5-derived k-gram hashes so DuckDB can
      // recompute the SAME winnowing fingerprint (see oracle); the
      // xor-fold checksum is order-insensitive, so both engines agree on
      // the distinct-minima SET regardless of array order
      TextAnalysis.fingerprints(t(s, dir, "documents"), "doc_id", "text",
        portableHash = true)
        .select(col("doc_id"), size(col("fingerprint")).cast("long").as("n_hashes"),
          abs(aggregate(col("fingerprint"), lit(0L), (a, x) => a.bitwiseXOR(x))).as("fp_xor"))
        .orderBy("doc_id")),

    // the incremental store's per-batch union must equal the SAME
    // brute-force truth as the one-shot operator: arrival batching is
    // provably invisible (deterministic banding + exactly-once emission)
    Gate("dedup_incremental_minhash", bruteJaccardSql(3, 0.8), (s, dir) => {
      // incremental NEAR-dup maintenance (operators.NearDupStore): the
      // corpus arrives in three id-range batches, each banded and checked
      // against the persisted LSH bucket + signature store — O(batch +
      // matched buckets), no history rescan. Banding is a pure function
      // of the text, so the UNION of per-batch pair outputs equals the
      // one-shot Dedup.minhashLsh result, whose truth is the same
      // brute-force Jaccard oracle as dedup_minhash (banding recall 1 at
      // these params). Each pair is emitted exactly once — by the batch
      // its later member arrives in. Store cleared first: idempotent gate.
      val store = Scratch.fresh(s, "neardup_store")
      val docs = t(s, dir, "documents")
      Seq(col("doc_id") < 1000,
          col("doc_id") >= 1000 && col("doc_id") < 3000,
          col("doc_id") >= 3000)
        .map(cond => graft.operators.NearDupStore.ingest(
          s, docs.filter(cond), "doc_id", "text", store,
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8))
        .reduce(_ unionByName _)
        .orderBy("a", "b")
    }),

    // one-shot truth for the incremental store: with id-range arrival
    // batches the first-arrival keeper IS the global min id, and the
    // arrival batch that first contributed a hash is the keeper's id
    // range — the oracle re-derives what the store recorded at ingest
    Gate("dedup_incremental", """SELECT sha256("text") AS content_hash, min(doc_id) AS keep_id,
        |  CAST(CASE WHEN min(doc_id) < 1000 THEN 0
        |            WHEN min(doc_id) < 3000 THEN 1 ELSE 2 END AS BIGINT) AS arrival_batch
        |FROM documents GROUP BY sha256("text")
        |ORDER BY content_hash""".stripMargin, (s, dir) => {
      // incremental exact-dedup maintenance, gated end-to-end: the corpus
      // arrives as three id-range batches, each deduped against the
      // persisted hash store (first-arrival-wins) and appended —
      // O(batch + store-join) per step, no history rescan. Id-range
      // arrival makes the incremental keeper equal the one-shot global
      // min, so the final store is SQL-expressible; arrival_batch is
      // carried by the STORE (written at ingest time) while the oracle
      // re-derives it from the keeper's id range — a genuine
      // first-arrival-semantics check, not an echo. The store dir is
      // cleared first so re-runs cannot leak prior state.
      val store = Scratch.fresh(s, "dedup_store")
      val docs = t(s, dir, "documents")
      Seq((0, col("doc_id") < 1000),
          (1, col("doc_id") >= 1000 && col("doc_id") < 3000),
          (2, col("doc_id") >= 3000)).foreach { case (tag, cond) =>
        graft.operators.DedupStore.ingest(
          s, docs.filter(cond), "doc_id", "text", store, tag)
        ()
      }
      graft.operators.DedupStore.read(s, store)
        .select(col("content_hash"), col("keep_id"),
          col("arrival_batch").cast("long").as("arrival_batch"))
        .orderBy("content_hash")
    }),

    // components == 30-min sessions on the chain graph, so the truth is
    // gaps-and-islands; epoch_us on both sides (Spark floors ns->us the
    // same way DuckDB's TIMESTAMP read does)
    Gate("dedup_cluster", """WITH x AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) <= 1800000000
        |         THEN 0 ELSE 1 END AS new_s
        |  FROM events
        |), y AS (
        |  SELECT event_id, user_id,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM x
        |)
        |SELECT event_id,
        |  CAST(MIN(event_id) OVER (PARTITION BY user_id, sess) AS BIGINT) AS component
        |FROM y ORDER BY event_id""".stripMargin, (s, dir) => {
      // Connected-components duplicate clustering, driven on a graph with
      // a SQL-checkable truth: consecutive same-user events within 30 min
      // form chain edges, so components == sessions and the component
      // label (min reachable event_id) is DuckDB-computable via
      // gaps-and-islands. The operator itself is the generic transitive
      // closure used on near-dup pairs (see Components.clusterSurvivors).
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id"), col("ts"))
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val pairs = ev
        .withColumn("prev_id", lag("event_id", 1).over(w))
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev_id").isNotNull && col("gap_us") <= 1800L * 1000000L)
        .select(col("prev_id").as("a"), col("event_id").as("b"))
      val comp = graft.operators.Components.connectedComponents(pairs)
      ev.join(comp, ev("event_id") === comp("id"), "left")
        .select(col("event_id"),
          coalesce(col("comp"), col("event_id")).as("component"))
        .orderBy("event_id")
    }),

    // survivors of chain-edge components == one doc per sha256 group
    Gate("dedup_cluster_survivors", """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY sha256("text"))
        |ORDER BY doc_id""".stripMargin, (s, dir) => {
      // the full dedup pipeline, end-to-end: PAIRS (exact-dup edges) →
      // connected components → one survivor per cluster. Edges are a
      // CHAIN per duplicate group (consecutive doc_ids), not a clique:
      // a group of n copies contributes n-1 edges whose transitive
      // closure the pointer jumping must actually compute, while DuckDB
      // can still reproduce the survivor set (component min == group
      // min, since every group is one chain).
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val w = Window.partitionBy("h").orderBy("doc_id")
      val pairs = docs
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .withColumn("prev", lag("doc_id", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("a"), col("doc_id").as("b"))
      graft.operators.Components.clusterSurvivors(docs, "doc_id", pairs)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    Gate("pipeline_holdout", """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY sha256('holdout' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN rk <= 20 THEN 'val' ELSE 'train' END AS split
        |FROM r ORDER BY doc_id""".stripMargin, (s, dir) =>
      // exact-size eval holdout: 20 val docs per language, hash-ordered
      graft.operators.Curation.holdoutSplit(
        t(s, dir, "documents"), "doc_id", "lang", valPerGroup = 20)
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")),

    // same derived-rate arithmetic (double ops in the same order) and the
    // same multiplicative-hash uniform as Curation.mixToTarget
    Gate("pipeline_mix", """WITH tok AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(regexp_split_to_array(lower("text"), '[^\p{L}\p{N}]+'),
        |         x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents
        |), tgt AS (
        |  SELECT * FROM (VALUES ('en', 0.5), ('de', 0.2), ('fr', 0.15),
        |                        ('es', 0.1), ('zh', 0.05)) AS t(lang, target)
        |), tot AS (
        |  SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tokens_g
        |  FROM tok GROUP BY lang
        |), capd AS (
        |  SELECT tot.lang, tokens_g, target, tokens_g / target AS cap
        |  FROM tot JOIN tgt USING (lang)
        |), c AS (SELECT min(cap) AS c FROM capd),
        |rates AS (SELECT lang, c.c * target / tokens_g AS rate FROM capd, c)
        |SELECT doc_id, lang, n_tokens
        |FROM tok JOIN rates USING (lang)
        |WHERE (((doc_id % 1048576) * 2654435761) % 1048576) / 1048576.0 < rate
        |ORDER BY doc_id""".stripMargin, (s, dir) =>
      // data mixing: downsample so output token mass follows the target
      // language shares; rates are DERIVED from corpus token totals
      graft.operators.Curation.mixToTarget(t(s, dir, "documents"),
        "doc_id", "text", "lang", MixTargets)),

    // same token counts and hash gate as pipeline_mix, targets derived:
    // w = pow(tokens, 0.5), rate = min_h(tokens_h/w_h) * w_g / tokens_g
    // (normalization cancels algebraically), rounded to 12 decimals on
    // both engines so pow's last-ulp license cannot flip the compare
    Gate("pipeline_mix_temperature", """WITH tok AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(regexp_split_to_array(lower("text"), '[^\p{L}\p{N}]+'),
        |         x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents
        |), tot AS (
        |  SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tokens_g
        |  FROM tok GROUP BY lang
        |), wt AS (
        |  SELECT lang, tokens_g, pow(CAST(tokens_g AS DOUBLE), 0.5) AS w FROM tot
        |), m AS (SELECT min(CAST(tokens_g AS DOUBLE) / w) AS m FROM wt),
        |rates AS (SELECT lang,
        |            round(m.m * w / CAST(tokens_g AS DOUBLE), 12) AS rate
        |          FROM wt, m)
        |SELECT doc_id, lang, n_tokens
        |FROM tok JOIN rates USING (lang)
        |WHERE (((doc_id % 1048576) * 2654435761) % 1048576) / 1048576.0 < rate
        |ORDER BY doc_id""".stripMargin, (s, dir) =>
      // temperature-scaled mixing (mT5/XLM-R): targets DERIVED from the
      // corpus (w = tokens^0.5 — alpha 0.5 flattens toward uniform, so
      // low-resource languages up-weight), most-constrained group kept
      // whole; the Σw normalization cancels algebraically so no
      // cross-group float sum exists to drift, and the rate rounds to 12
      // decimals so pow()'s last ulp can't flip the hash-gate compare
      graft.operators.Curation.temperatureMix(t(s, dir, "documents"),
        "doc_id", "text", "lang", alpha = 0.5)),

    // the text_lm_score replay joined with source; tercile cutoffs via
    // quantile_cont at the same double literals Scala's 1.0/3 and 2.0/3
    // render to, rounded 4dp like the scores; CASE assignment
    Gate("pipeline_ccnet_buckets", s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |p AS (SELECT doc_id, unnest(ts) AS w FROM t),
         |m AS (SELECT doc_id, w, count(*) AS m FROM p GROUP BY 1, 2),
         |tf AS (SELECT w, sum(m) AS cnt FROM m GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS total FROM tf),
         |terms AS (
         |  SELECT doc_id,
         |    struct_pack(w := w, term := m.m::DOUBLE * -ln(cnt::DOUBLE / total::DOUBLE)) AS wt,
         |    m.m AS m
         |  FROM m JOIN tf USING (w) CROSS JOIN tot),
         |d AS (SELECT doc_id, list_sort(list(wt)) AS l, CAST(sum(m) AS BIGINT) AS n
         |      FROM terms GROUP BY doc_id),
         |sc AS (SELECT doc_id,
         |         round(list_reduce(list_prepend(0.0, list_transform(l, x -> x.term)),
         |               (a, x) -> a + x) / n, 4) AS avg_neg_logp
         |       FROM d),
         |j AS (SELECT sc.doc_id, dd.source, sc.avg_neg_logp
         |      FROM sc JOIN documents dd USING (doc_id)),
         |c AS (SELECT source,
         |        round(quantile_cont(avg_neg_logp, 0.3333333333333333), 4) AS c1,
         |        round(quantile_cont(avg_neg_logp, 0.6666666666666666), 4) AS c2
         |      FROM j GROUP BY source)
         |SELECT j.doc_id, j.source, j.avg_neg_logp,
         |  CASE WHEN j.avg_neg_logp <= c.c1 THEN 'head'
         |       WHEN j.avg_neg_logp <= c.c2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM j JOIN c USING (source)
         |ORDER BY j.doc_id""".stripMargin, (s, dir) =>
      // CCNet head/middle/tail perplexity split per source: tercile
      // CUTOFFS from exact interpolated percentiles (rounded 4dp like
      // the scores — the calibration-then-threshold deployment shape;
      // approx_percentile is the documented 100 TB swap), assignment by
      // broadcast CASE compare — both engines replay the same buckets
      graft.operators.Curation.ccnetBuckets(t(s, dir, "documents"),
        "doc_id", "text", "source")),

    Gate("pipeline_pack", """WITH tok AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(regexp_split_to_array(lower("text"), '[^\p{L}\p{N}]+'),
        |         x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor((CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) / 512) AS BIGINT) AS shard
        |FROM tok ORDER BY doc_id""".stripMargin, (s, dir) =>
      // token-budget shard packing per language, 512 tokens per shard
      graft.operators.Curation.packShards(t(s, dir, "documents"),
        "doc_id", "text", "lang", budget = 512)),

    Gate("pipeline_decontaminate", s"""WITH g AS (
         |  SELECT doc_id, unnest(${ngramsSql(5)}) AS g
         |  FROM (SELECT doc_id, $ToksSql AS ts FROM documents)
         |), ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 25),
         |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (g) WHERE g.doc_id >= 25)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id >= 25 AND doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id""".stripMargin, (s, dir) => {
      // n-gram decontamination: docs 0..24 stand in for the eval set;
      // surviving training docs share no word 5-gram with any of them
      val docs = t(s, dir, "documents")
      graft.operators.Curation.decontaminate(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
        "doc_id", "text", n = 5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // survivors = training docs sharing no word 5-gram with the eval set
    // brute-force eval×train Jaccard >= 0.5 over 3-gram shingle sets —
    // same inter/(a+b-inter) arithmetic as the fuzzy screen's verify
    Gate("pipeline_decontaminate_fuzzy", s"""WITH sh AS (
         |  SELECT doc_id, ${ngramsSql(3)} AS sh
         |  FROM (SELECT doc_id, $ToksSql AS ts FROM documents)
         |), nz AS (SELECT doc_id, sh, len(sh) AS sz FROM sh WHERE len(sh) > 0),
         |p AS (
         |  SELECT tr.doc_id,
         |    len(list_intersect(tr.sh, ev.sh))::DOUBLE AS inter,
         |    tr.sz::DOUBLE AS a, ev.sz::DOUBLE AS b
         |  FROM nz tr, nz ev
         |  WHERE tr.doc_id >= 25 AND ev.doc_id < 25),
         |bad AS (SELECT DISTINCT doc_id FROM p
         |        WHERE inter / (a + b - inter) >= 0.5)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id >= 25 AND doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id""".stripMargin, (s, dir) => {
      // NEAR-duplicate decontamination: the exact-5-gram screen above
      // misses paraphrases; this drops any training doc whose 3-gram
      // Jaccard with an eval doc reaches 0.5 (the corpus's planted
      // near-dups straddle eval/train, so the fuzzy screen drops docs
      // the exact screen at n=5 would keep). Eval postings broadcast,
      // shared-gram candidates only, exact set-Jaccard verify.
      val docs = t(s, dir, "documents")
      graft.operators.Curation.decontaminateFuzzy(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
        "doc_id", "text", n = 3, threshold = 0.5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // quality rules -> exact-dedup survivors -> greedy shard packing,
    // with the same thresholds/arithmetic as the single-stage oracles
    Gate("pipeline_e2e", s"""WITH t AS (SELECT doc_id, lang, "text", $ToksSql AS ts FROM documents),
         |m AS (
         |  SELECT doc_id, lang, "text", ts,
         |    CAST(len(ts) AS BIGINT) AS nw,
         |    CASE WHEN len(ts) = 0 THEN 0.0
         |         ELSE list_sum(list_transform(ts, x -> len(x)))::DOUBLE / len(ts)::DOUBLE END AS awl,
         |    CASE WHEN len(ts) <= 2 THEN 0.0
         |         ELSE 1.0 - ${distinctNgramsSql(2)}::DOUBLE / (len(ts) - 1)::DOUBLE END AS dup2,
         |    CASE WHEN len(ts) = 0 THEN 0.0
         |         ELSE $TopTokenSql::DOUBLE / len(ts)::DOUBLE END AS topw
         |  FROM t),
         |q AS (
         |  SELECT doc_id, lang, "text", CAST(len(ts) AS BIGINT) AS n_tokens FROM m
         |  WHERE nw BETWEEN 30 AND 100000 AND awl BETWEEN 3.0 AND 10.0
         |    AND dup2 <= 0.1 AND topw <= 0.2),
         |k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY sha256("text")),
         |s AS (SELECT q.doc_id, q.lang, q.n_tokens FROM q JOIN k USING (doc_id))
         |SELECT doc_id, lang, n_tokens,
         |  CAST(floor((CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |         ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) / 512) AS BIGINT) AS shard
         |FROM s ORDER BY doc_id""".stripMargin, (s, dir) => {
      // the curation flagship, end-to-end: structural quality filter →
      // exact dedup survivors (among the filtered set) → token-budget
      // shard packing per language. Each stage is individually oracled
      // above; this entry proves they COMPOSE (one oracle over the chain)
      val docs = t(s, dir, "documents")
      val filtered = graft.operators.Curation.qualityFilter(docs, "doc_id", "text")
      val survivors = Dedup.exactSurvivors(filtered, "doc_id", "text")
      graft.operators.Curation.packShards(survivors, "doc_id", "text", "lang", budget = 512)
    }),

    // full byte-level container replay (mmManifestOracleSql): DuckDB
    // re-parses the files the gate wrote — PNG IHDR, recursive RIFF and
    // ISO-BMFF walks, a JPEG marker walk for the decoded frame dims —
    // and recomputes the byte stats with the kernel's exact fold order
    Gate("mm_manifest", mmManifestOracleSql, (s, dir) => {
      // the REAL on-ramp at the gate: materialize media files from the
      // documents table, then ingest them through Spark's binaryFile
      // source (distributed file-split scan) — the synthetic
      // manifestFromDocuments path stays library-only for file-less
      // corpora. media_id is re-derived from the file NAME so the output
      // is deterministic across scratch locations.
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val mediaDir = Multimodal.writeMediaFixture(
        docs, "doc_id", "text", s"${Scratch.dir}/mm_media")
      val manifest = Multimodal.ingestBinaryFiles(s, mediaDir)
        .withColumn("media_id",
          regexp_extract(col("uri"), "media_(\\d+)\\.", 1).cast("long"))
      // width/height are REAL decoded dimensions for the PNG rows
      // (javax.imageio) AND real tkhd track dimensions for the MP4 rows
      // AND real decoded-frame dimensions for the AVI/MJPEG rows;
      // sample_rate/channels/audio_ms are REAL parsed WAV properties
      // (javax.sound.sampled); video_ms is the REAL mvhd movie duration
      // (MP4) or avih-rate x frame-count (AVI); n_frames counts the
      // REALLY DECODED JPEG frames of the AVI rows (ImageIO per 00dc
      // chunk — zero for MP4, the JDK having no H.264 codec);
      // frames_decoded carries that limitation IN THE SCHEMA (true only
      // where the feature vector comes from decoded pixels), re-derived
      // by the oracle from its own container walk
      Multimodal.extractFeatures(s, manifest).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("byte_mean"), col("byte_entropy"), col("width"), col("height"),
          col("sample_rate"), col("channels"), col("audio_ms"), col("video_ms"),
          col("n_frames"), col("frames_decoded"))
        .orderBy("media_id")
    }),
  )

  // ---- DuckDB mirrors of the text kernels (oracle SQL building blocks).
  // Tokenization: graft.functions.expr.WordTokens keeps letter/digit runs,
  // lower-cased — on this corpus identical to the regex split below (the
  // text_tokens oracle proves the count parity at both SFs).
  private val ToksSql =
    """list_filter(regexp_split_to_array(lower("text"), '[^\p{L}\p{N}]+'), x -> len(x) > 0)"""

  // SQL-literal replay of RandomPlanes.planes + VectorOps.hyperplaneSig:
  // an array of one BIGINT key per LSH table, bit b set when the dot of v
  // with plane b is >= 0. The dot is an explicit left-associative sum in
  // the kernel's element order, and Double.toString round-trips exactly
  // (DuckDB parses E-notation), so the literal planes ARE the kernel's.
  // NaN guard: Scala's `s >= 0.0` is FALSE for NaN while DuckDB orders
  // NaN above every number (TRUE), so the sign test spells the kernel's
  // semantics out explicitly rather than relying on a NaN-free corpus.
  private def lshKeysSql(dim: Int, nTables: Int, bits: Int, seed: Long): String =
    (0 until nTables).map { t =>
      val planes = graft.functions.RandomPlanes.planes(dim, bits, seed + t)
      planes.zipWithIndex.map { case (plane, b) =>
        val dot = plane.zipWithIndex
          .map { case (cf, i) => s"($cf)*v[${i + 1}]" }.mkString(" + ")
        s"(CASE WHEN isnan($dot) THEN 0 WHEN ($dot) >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }.mkString("[", ", ", "]")

  // shared WITH-chain replaying lshTopK (gate params L=16, k=4, seed 42,
  // queries = vec_id < 5) up to `lr`: LSH candidates scored by cosine and
  // ranked per query. The plane coefficients are deterministic (splitmix64
  // of the seed) and inlined as literals; each dot product is an explicit
  // left-associative sum in the kernel's element order; sign bits pack
  // exactly like VectorOps.hyperplaneSig.
  private lazy val lshReplaySql: String =
    s"""WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |sg AS (SELECT id, ${lshKeysSql(EmbeddingDim, nTables = 16, bits = 4, seed = 42L)} AS ks FROM c),
       |cb AS (SELECT id, r.t AS t, ks[r.t + 1] AS key
       |       FROM sg CROSS JOIN (SELECT unnest(range(0, 16)) AS t) r),
       |qb AS (SELECT id AS qid, t, key FROM cb WHERE id < 5),
       |cand AS (SELECT DISTINCT qb.qid, cb.id
       |         FROM cb JOIN qb ON cb.t = qb.t AND cb.key = qb.key),
       |sc AS (SELECT cand.qid, cand.id, list_cosine_similarity(cv.v, qv.v) AS cs
       |       FROM cand JOIN c cv ON cand.id = cv.id JOIN c qv ON cand.qid = qv.id),
       |lr AS (SELECT qid, id, cs,
       |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, id) AS rk
       |       FROM sc)""".stripMargin

  // SQL-literal replay of VectorOps.cosine's arithmetic: dot and both
  // squared norms are LEFT folds in element order starting from 0.0
  // (exactly the kernel's accumulator loop — double addition is order-
  // sensitive, so the fold shape IS the contract), nn = sqrt(na)*sqrt(nb),
  // 0.0 when nn = 0.
  private def dotFoldSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${EmbeddingDim + 1}), " +
      s"i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  private def cosFoldSql(a: String, b: String): String = {
    val nn = s"(sqrt(${dotFoldSql(a, a)}) * sqrt(${dotFoldSql(b, b)}))"
    s"(CASE WHEN $nn = 0 THEN 0.0 ELSE ${dotFoldSql(a, b)} / $nn END)"
  }

  // Parameterized replay of IvfIndex.train (iters=3, seed 42) plus the
  // full-corpus assignment — the shared core of the ann_ivf, ann_ivfpq
  // and dedup_semantic oracles: init takes the `nCells` sampled vectors
  // with the smallest md5('ivf42:'||id) strings (cell = rank in that
  // order), each Lloyd round reassigns by argmax kernel-order cosine
  // (ties -> highest cell, matching greatest() over (score, cell)
  // structs) and recomputes means rounded to 6 decimals (both engines
  // round their sub-ulp-divergent avg() to the same decimal — the
  // rounding in IvfIndex.train exists exactly so this lockstep holds),
  // empty cells keep their previous centroid. Produces CTEs: av (corpus
  // as DOUBLE[]), s (train sample via `sampleWhere`), c0..c3
  // (centroids), asg (full-corpus assignment: id, v, cell).
  private def ivfTrainSql(nCells: Int, sampleWhere: String): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH av AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
              |s AS (SELECT id, v FROM av WHERE $sampleWhere),
              |c0 AS (SELECT row_number() OVER (ORDER BY md5('ivf42:' || CAST(id AS VARCHAR)), id) - 1 AS cell, v AS c
              |       FROM s ORDER BY md5('ivf42:' || CAST(id AS VARCHAR)), id LIMIT $nCells)""".stripMargin
    for (k <- 1 to 3) {
      val prev = s"c${k - 1}"
      sb ++= s""",
                |sc$k AS (SELECT s.id, s.v, p.cell, ${cosFoldSql("s.v", "p.c")} AS score
                |        FROM s CROSS JOIN $prev p),
                |b$k AS (SELECT id, v, cell FROM (
                |          SELECT id, v, cell,
                |            row_number() OVER (PARTITION BY id ORDER BY score DESC, cell DESC) AS rk
                |          FROM sc$k) WHERE rk = 1),
                |e$k AS (SELECT cell, u.i AS i, round(avg(v[u.i]), 6) AS m
                |        FROM b$k CROSS JOIN (SELECT unnest(range(1, ${EmbeddingDim + 1})) AS i) u
                |        GROUP BY cell, u.i),
                |m$k AS (SELECT cell, list(m ORDER BY i) AS c FROM e$k GROUP BY cell),
                |c$k AS (SELECT p.cell, coalesce(m$k.c, p.c) AS c
                |        FROM $prev p LEFT JOIN m$k USING (cell))""".stripMargin
    }
    sb ++= s""",
              |asc0 AS (SELECT av.id, av.v, p.cell, ${cosFoldSql("av.v", "p.c")} AS score
              |         FROM av CROSS JOIN c3 p),
              |asg AS (SELECT id, v, cell FROM (
              |          SELECT id, v, cell,
              |            row_number() OVER (PARTITION BY id ORDER BY score DESC, cell DESC) AS rk
              |          FROM asc0) WHERE rk = 1)""".stripMargin
    sb.toString
  }

  // Probe CTEs shared by the ann_ivf and ann_ivfpq search replays:
  // queries (id < 5), per-query cell ranking (score DESC, cell DESC =
  // Spark's reversed array_sort over (score, cell) structs), top-nProbe=4.
  private lazy val probeSql: String =
    s""",
       |q AS (SELECT id AS qid, v AS qv FROM av WHERE id < 5),
       |cr AS (SELECT q.qid, p.cell, ${cosFoldSql("q.qv", "p.c")} AS score
       |       FROM q CROSS JOIN c3 p),
       |probed AS (SELECT qid, cell FROM (
       |             SELECT qid, cell,
       |               row_number() OVER (PARTITION BY qid ORDER BY score DESC, cell DESC) AS rk
       |             FROM cr) WHERE rk <= 4)""".stripMargin

  // Full replay of IvfIndex train+index+search (gate params nCells=16,
  // iters=3, seed 42, train half = even ids, nProbe=4, k=10): training
  // via ivfTrainSql, probing via probeSql, then top-10 per query by
  // kernel-order cosine DESC, id ASC over the probed cells' members.
  // `candPred` (over `a.id`) restricts the candidate scan — the oracle
  // face of FILTERED vector search: a served search over a
  // predicate-filtered index must equal this replay with the filtered
  // rows simply absent from the probed cells' members.
  // BM25 replay (Lucene idf, k1=1.2, b=0.75; query = one rare + two
  // common terms so the idf weighting is exercised): exact integer
  // tf/df counts, 4-decimal-rounded score with id tiebreak. Shared by
  // text_bm25 (in-query stats) and text_bm25_indexed (persisted
  // postings) — the round trip must be result-invisible.
  // PMI collocation replay (Church & Hanks counts, ln of exact integer
  // ratios rounded to 4, (w1, w2) tiebreak) — shared by the one-shot
  // scan (text_collocations), the incremental count store
  // (text_collocations_inc) and its compaction (text_colloc_compact):
  // counts are additive integers, so all three serve identical rows.
  private lazy val collocReplaySql: String =
    s"""WITH t AS (SELECT $ToksSql AS ts FROM documents),
       |uni AS (SELECT unnest(ts) AS w FROM t),
       |u AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
       |tt AS (SELECT CAST(sum(c) AS DOUBLE) AS t_total FROM u),
       |bp AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
       |       FROM t, unnest(range(1, len(ts))) AS r(i)
       |       WHERE len(ts) >= 2),
       |b AS (SELECT w1, w2, count(*) AS n FROM bp GROUP BY w1, w2),
       |bt AS (SELECT CAST(sum(n) AS DOUBLE) AS b_total FROM b)
       |SELECT b.w1, b.w2, b.n,
       |  round(ln((CAST(b.n AS DOUBLE) / bt.b_total) /
       |    ((CAST(u1.c AS DOUBLE) / tt.t_total) *
       |     (CAST(u2.c AS DOUBLE) / tt.t_total))), 4) AS pmi
       |FROM b
       |JOIN u u1 ON u1.w = b.w1
       |JOIN u u2 ON u2.w = b.w2
       |CROSS JOIN bt CROSS JOIN tt
       |WHERE b.n >= 5
       |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin

  private lazy val bm25ReplaySql: String = bm25ReplaySqlFor("true")

  /** `docPred` (over documents) restricts the replay's corpus — the
    * oracle face of a tombstone delete: a served search over a
    * tombstone-masked index must equal this replay with the deleted
    * docs simply absent (df, nd and avgdl all recomputed over the
    * survivors).
    */
  private def bm25ReplaySqlFor(docPred: String): String =
    s"""WITH d AS (SELECT doc_id, $ToksSql AS ts FROM documents
       |           WHERE $docPred),
       |st AS (SELECT count(*)::DOUBLE AS nd, avg(len(ts))::DOUBLE AS avgdl FROM d),
       |tf AS (SELECT doc_id, w, count(*)::DOUBLE AS tf, max(dl)::DOUBLE AS dl
       |       FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS w FROM d)
       |       WHERE w IN ('dup', 'vector', 'batch') GROUP BY doc_id, w),
       |dfr AS (SELECT w, count(*)::DOUBLE AS df FROM tf GROUP BY w),
       |sc AS (SELECT doc_id,
       |         round(sum(ln(1.0 + (st.nd - dfr.df + 0.5) / (dfr.df + 0.5))
       |           * tf.tf * 2.2
       |           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))), 4) AS score
       |       FROM tf JOIN dfr USING (w) CROSS JOIN st GROUP BY doc_id),
       |r AS (SELECT doc_id, score,
       |        row_number() OVER (ORDER BY score DESC, doc_id) AS rk
       |      FROM sc)
       |SELECT doc_id, CAST(rk AS BIGINT) AS rk, score
       |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin

  private def ivfReplaySqlFor(candPred: String): String =
    ivfTrainSql(16, "id % 2 = 0") + probeSql + s""",
      |cand AS (SELECT p.qid, a.id, a.v FROM probed p JOIN asg a USING (cell)
      |         WHERE $candPred),
      |csc AS (SELECT cand.qid, cand.id, ${cosFoldSql("cand.v", "q.qv")} AS cs
      |        FROM cand JOIN q USING (qid)),
      |r AS (SELECT qid, id, cs,
      |        row_number() OVER (PARTITION BY qid ORDER BY cs DESC, id) AS rk
      |      FROM csc)""".stripMargin

  private lazy val ivfReplaySql: String = ivfReplaySqlFor("true")

  // Full replay of PqIndex train+encode+search (gate params: coarse =
  // ann_ivf's 16-cell k-means on the even-id half; m=8 subspaces of d=8,
  // kCodes=16, 3 Lloyd rounds; nProbe=4, k=10, refine=4):
  //  - residuals r = v - centroid(cell) (exact double subtraction of
  //    6-decimal-rounded centroid literals — bit-identical both engines);
  //  - codebook init: the 16 sample residuals with the smallest
  //    md5('pq42:'||id) strings seed entry c of EVERY subspace
  //    (PqIndex.train's driver-side slice);
  //  - each Lloyd round encodes (argmin per (row, sub) of the kernel-order
  //    L2 fold over (r[sub*8+i] - e[i])²; ties -> LOWEST code, matching
  //    the kernel's strict <) and re-means per (sub, code) rounded to 6;
  //    empty codes keep their previous entry;
  //  - encode assigns every corpus row its m codes against the final
  //    codebooks, norm = sqrt(kernel-order dot(v, v));
  //  - ADC: lut(sub, code) = kernel-order dot of the query subvector
  //    with the codebook entry; approx = (dot(qv, centroid) + Σ_sub lut)
  //    / (qnorm·norm) with the Σ in ascending-sub fold order and -1.0 on
  //    a zero denominator (the kernel's guard);
  //  - shortlist = top k·refine=40 per query by approx DESC, id ASC;
  //    final = top 10 of the shortlist by exact kernel-order cosine.
  private lazy val pqReplaySql: String = pqReplaySqlFor("true")

  /** `survivorPred` (over `fr.id`) restricts the ADC candidate scan to
    * surviving index rows — the oracle face of a tombstone delete: a
    * served search over a masked index must equal this replay with the
    * deleted ids simply absent from the scan.
    */
  private def pqReplaySqlFor(survivorPred: String): String = {
    val d = 8; val kCodes = 16
    def distFold(r: String, sub: String, e: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}), " +
        s"i -> ($r[$sub*$d + i] - $e[i]) * ($r[$sub*$d + i] - $e[i]))), (a, x) -> a + x)"
    val sb = new StringBuilder
    sb ++= ivfTrainSql(16, "id % 2 = 0")
    sb ++= s""",
      |rs AS (SELECT a.id, a.cell,
      |         list_transform(range(1, ${EmbeddingDim + 1}), i -> a.v[i] - p.c[i]) AS r
      |       FROM asg a JOIN c3 p USING (cell) WHERE a.id % 2 = 0),
      |cbseed AS (SELECT row_number() OVER (ORDER BY md5('pq42:' || CAST(id AS VARCHAR)), id) - 1 AS code, r
      |           FROM rs ORDER BY md5('pq42:' || CAST(id AS VARCHAR)), id LIMIT $kCodes),
      |cb0 AS (SELECT u.sub, cbseed.code, list_slice(cbseed.r, u.sub*$d + 1, u.sub*$d + $d) AS e
      |        FROM cbseed CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) u)""".stripMargin
    for (k <- 1 to 3) {
      val prev = s"cb${k - 1}"
      sb ++= s""",
        |pd$k AS (SELECT rs.id, cb.sub, cb.code, ${distFold("rs.r", "cb.sub", "cb.e")} AS dist
        |         FROM rs CROSS JOIN $prev cb),
        |pa$k AS (SELECT id, sub, code FROM (
        |           SELECT id, sub, code,
        |             row_number() OVER (PARTITION BY id, sub ORDER BY dist ASC, code ASC) AS rk
        |           FROM pd$k) WHERE rk = 1),
        |pm$k AS (SELECT a.sub, a.code, u.i, round(avg(r2.r[a.sub*$d + u.i]), 6) AS mm
        |         FROM pa$k a JOIN rs r2 USING (id)
        |         CROSS JOIN (SELECT unnest(range(1, ${d + 1})) AS i) u
        |         GROUP BY a.sub, a.code, u.i),
        |pl$k AS (SELECT sub, code, list(mm ORDER BY i) AS e FROM pm$k GROUP BY sub, code),
        |cb$k AS (SELECT p.sub, p.code, coalesce(l.e, p.e) AS e
        |         FROM $prev p LEFT JOIN pl$k l ON p.sub = l.sub AND p.code = l.code)""".stripMargin
    }
    sb ++= probeSql
    sb ++= s""",
      |fr AS (SELECT a.id, a.cell, a.v,
      |         list_transform(range(1, ${EmbeddingDim + 1}), i -> a.v[i] - p.c[i]) AS r
      |       FROM asg a JOIN c3 p USING (cell)),
      |ed AS (SELECT fr.id, cb.sub, cb.code, ${distFold("fr.r", "cb.sub", "cb.e")} AS dist
      |       FROM fr CROSS JOIN cb3 cb),
      |ea AS (SELECT id, sub, code FROM (
      |         SELECT id, sub, code,
      |           row_number() OVER (PARTITION BY id, sub ORDER BY dist ASC, code ASC) AS rk
      |         FROM ed) WHERE rk = 1),
      |nrm AS (SELECT id, sqrt(${dotFoldSql("v", "v")}) AS nrm FROM av),
      |qn AS (SELECT qid, sqrt(${dotFoldSql("qv", "qv")}) AS qnorm FROM q),
      |qd AS (SELECT p.qid, p.cell, ${dotFoldSql("q.qv", "c.c")} AS qdotc
      |       FROM probed p JOIN q USING (qid) JOIN c3 c USING (cell)),
      |lut AS (SELECT q.qid, cb.sub, cb.code,
      |          list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}),
      |            i -> q.qv[cb.sub*$d + i] * cb.e[i])), (a, x) -> a + x) AS lv
      |        FROM q CROSS JOIN cb3 cb),
      |adc AS (SELECT p.qid, fr.id, fr.cell,
      |          list_reduce(list_prepend(0.0, list(l.lv ORDER BY l.sub)), (a, x) -> a + x) AS adcsum
      |        FROM probed p JOIN fr ON fr.cell = p.cell
      |        JOIN ea ON ea.id = fr.id
      |        JOIN lut l ON l.qid = p.qid AND l.sub = ea.sub AND l.code = ea.code
      |        WHERE $survivorPred
      |        GROUP BY p.qid, fr.id, fr.cell),
      |apx AS (SELECT a.qid, a.id,
      |          CASE WHEN qn.qnorm * n.nrm = 0 THEN -1.0
      |               ELSE (qd.qdotc + a.adcsum) / (qn.qnorm * n.nrm) END AS approx
      |        FROM adc a JOIN qd ON qd.qid = a.qid AND qd.cell = a.cell
      |        JOIN qn ON qn.qid = a.qid JOIN nrm n ON n.id = a.id),
      |sl AS (SELECT qid, id FROM (
      |         SELECT qid, id,
      |           row_number() OVER (PARTITION BY qid ORDER BY approx DESC, id ASC) AS rka
      |         FROM apx) WHERE rka <= 40),
      |ex AS (SELECT sl.qid, sl.id, ${cosFoldSql("cv.v", "qv2.v")} AS cs
      |       FROM sl JOIN av cv ON cv.id = sl.id JOIN av qv2 ON qv2.id = sl.qid),
      |pr AS (SELECT qid, id, cs,
      |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, id) AS rk
      |       FROM ex)""".stripMargin
    sb.toString
  }

  // Full replay of Bpe.train (8 merges), unrolled round by round like the
  // Lloyd replays: v0 = weighted vocab with each word rendered (c1)(c2)…,
  // round r = argmax adjacent pair by (cnt DESC, lhs, rhs) over v_{r-1}
  // then ONE non-overlapping left-to-right replace — Spark's
  // UTF8String.replace and DuckDB's replace() share that exact greedy
  // semantics, and parens never occur inside a symbol (tokens are alnum
  // runs), so "(l)(r)" matches exactly at symbol boundaries. cs_r checks
  // the weighted symbol total AFTER each merge.
  // AS MATERIALIZED on every per-round CTE: the round chain references
  // each v_{r-1} several times, and DuckDB's inliner would otherwise
  // re-expand the whole prefix per reference — measured exponential
  // (~3x/round); materialized, the replay runs round-linear
  private val BpeSymRe = """\(([^)]*)\)"""

  /** Gate depth of the BPE training replay. 64 rounds (vs the round-8
    * gate's 8) exercises the incremental trainer well past where the old
    * full-rescan implementation's replace chain stopped being plausible,
    * while the unrolled DuckDB replay (5 materialized CTEs per round)
    * stays comfortably inside oracle runtime at sf0.01.
    */
  private val BpeMerges = 64

  /** Gate depth of the BYTE-level training replay: shallower than the
    * code-point gate (the byte chain's v0 rendering walks hex pairs per
    * word), still deep enough that merges demonstrably reassemble
    * multi-byte UTF-8 characters from raw bytes.
    */
  private val BpeBytesMerges = 32

  /** 256-entry DuckDB list literal: byte value b (1-based index b+1) →
    * '(' + its [[graft.operators.Bpe.byteToUnicode]] symbol + ')' — the
    * byte-level counterpart of the '(.)' per-character wrap.
    */
  private lazy val BpeByteMapSql: String =
    graft.operators.Bpe.byteToUnicode
      .map(s => "'(" + s.replace("'", "''") + ")'").mkString("[", ",", "]")

  /** The shared WITH-chain of the BPE oracles: vocab v0 plus, per round
    * r, the pair counts, argmax rule m_r, merged vocab v_r and weighted
    * symbol total cs_r — the full training replay. Both the train oracle
    * (rule table) and the apply oracle (per-doc encode under the learned
    * rules) compose on top of v8/m_r. `byteLevel` swaps v0's rendering
    * from per-code-point parens to the per-UTF-8-BYTE mapped alphabet
    * (hex walk over encode(word), byte value → mapped symbol via
    * [[BpeByteMapSql]]); everything after v0 — counts, argmax, replace
    * merges, symbol totals — is symbol-model-independent and identical.
    */
  private def bpeChainSqlFor(merges: Int, textSql: String,
      byteLevel: Boolean): String = {
    val symRe = BpeSymRe
    val backref = """(\1)"""
    val toks = ToksSql.replace("\"text\"", textSql)
    val v0s =
      if (byteLevel)
        s"""array_to_string(list_transform(
           |           range(len(hex(encode(word)))//2),
           |           i -> ($BpeByteMapSql)[CAST('0x'||substr(hex(encode(word)), CAST(2*i+1 AS INT), 2) AS INT)+1]), '')""".stripMargin
      else s"regexp_replace(word, '(.)', '$backref', 'g')"
    val sb = new StringBuilder
    sb ++= s"""WITH btok AS (SELECT unnest($toks) AS word FROM documents),
              |v0 AS MATERIALIZED (SELECT word, count(*) AS n,
              |         $v0s AS s
              |       FROM btok GROUP BY word)""".stripMargin
    for (r <- 1 to merges) {
      sb ++= s""",
                |sy$r AS MATERIALIZED (SELECT n, regexp_extract_all(s, '$symRe', 1) AS syms FROM v${r - 1}),
                |pp$r AS MATERIALIZED (SELECT n, syms, unnest(range(1, len(syms))) AS i
                |        FROM sy$r WHERE len(syms) >= 2),
                |pc$r AS MATERIALIZED (SELECT syms[i] AS lhs, syms[i+1] AS rhs, sum(n) AS cnt
                |        FROM pp$r GROUP BY 1, 2),
                |m$r AS MATERIALIZED (SELECT lhs, rhs, cnt FROM pc$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
                |v$r AS MATERIALIZED (SELECT word, n,
                |         replace(s, (SELECT '('||lhs||')('||rhs||')' FROM m$r),
                |                    (SELECT '('||lhs||rhs||')' FROM m$r)) AS s
                |       FROM v${r - 1}),
                |cs$r AS MATERIALIZED (SELECT sum(n * len(regexp_extract_all(s, '$symRe', 1))) AS t FROM v$r)""".stripMargin
    }
    sb.toString
  }

  private def bpeChainSql: String =
    bpeChainSqlFor(BpeMerges, "\"text\"", byteLevel = false)

  private def bpeRulesSql(merges: Int): String =
    (1 to merges).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, lhs, rhs, CAST(cnt AS BIGINT) AS pair_count,
         |  (SELECT CAST(t AS BIGINT) FROM cs$r) AS corpus_symbols FROM m$r""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\nORDER BY round")

  private lazy val bpeReplaySql: String = bpeChainSql + bpeRulesSql(BpeMerges)

  // byte-level variant: the corpus is seeded with MULTI-BYTE characters
  // (a→ä, e→é — U+00E4/U+00E9, two UTF-8 bytes each) so byte-level
  // training measurably differs from code-point training: 0xC3-prefixed
  // byte pairs must be re-merged from data before any larger unit forms
  private val BpeBytesTextSql = """translate("text", 'ae', 'äé')"""
  private lazy val bpeBytesReplaySql: String =
    bpeChainSqlFor(BpeBytesMerges, BpeBytesTextSql, byteLevel = true) +
      bpeRulesSql(BpeBytesMerges)

  // apply face: every corpus word's post-merge rendering lives in the
  // final vN (the vocab is built from this same corpus), so the per-doc
  // encode is one tokens-to-vocab join summing each word's symbol count —
  // exactly what Bpe.encodeSymbolCounts computes with its bounded kernel
  // applying the learned rules in training order
  private lazy val bpeApplySql: String =
    bpeChainSql + s""",
      |dt AS (SELECT doc_id, unnest($ToksSql) AS word FROM documents)
      |SELECT dt.doc_id,
      |  CAST(sum(len(regexp_extract_all(v$BpeMerges.s, '$BpeSymRe', 1))) AS BIGINT) AS n_bpe_tokens
      |FROM dt JOIN v$BpeMerges USING (word)
      |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin

  private def swListSql(lang: String): String =
    graft.functions.TextFunctions.stopwords(lang).map(w => s"'$w'").mkString("[", ",", "]")

  private def hitsSql(lang: String): String =
    s"len(list_filter(ts, x -> list_contains(${swListSql(lang)}, x)))"

  private val LangsSorted = graft.functions.TextFunctions.stopwords.keys.toSeq.sorted

  // same argmax + tie-break order as TextFunctions.langId (sorted keys,
  // first language reaching the max wins; 'und' when every score is 0)
  private val BestSql = LangsSorted.map(l => s"h_$l").mkString("greatest(", ",", ")")
  private val LangCaseSql =
    s"CASE WHEN $BestSql <= 0 THEN 'und' " +
      LangsSorted.map(l => s"WHEN h_$l = $BestSql THEN '$l'").mkString(" ") +
      " ELSE 'und' END"
  private val HitsCols = LangsSorted.map(l => s"${hitsSql(l)} AS h_$l").mkString(", ")

  /** DuckDB mirror of HashFunctions.shingles: distinct sorted space-joined
    * lower-cased word n-grams.
    */
  private def ngramsSql(n: Int): String =
    s"""list_sort(list_distinct(list_transform(
       |    generate_series(1, greatest(len(ts) - ${n - 1}, 0)),
       |    i -> array_to_string(ts[i:i+${n - 1}], ' '))))""".stripMargin

  /** DuckDB mirror of the repetition metrics: count of DISTINCT word
    * n-grams (only referenced where len(ts) > n, so generate_series is
    * non-empty) and mode token multiplicity (TopTokenCount kernel).
    */
  private def distinctNgramsSql(n: Int): String =
    s"""len(list_distinct(list_transform(generate_series(1, len(ts) - ${n - 1}),
       |      i -> array_to_string(ts[i:i+${n - 1}], ' '))))""".stripMargin

  private val TopTokenSql =
    "list_max(list_transform(list_distinct(ts), w -> len(list_filter(ts, x -> x = w))))"

  /** Brute-force all-pairs n-gram Jaccard >= threshold — exact truth for
    * the LSH-pruned similarity joins (quadratic, fine at oracle scale).
    * Jaccard is computed with the same double arithmetic as verifyJaccard:
    * inter / (|a| + |b| - inter), rounded to 4.
    */
  private def bruteJaccardSql(n: Int, threshold: Double): String =
    s"""WITH sh AS (
       |  SELECT doc_id, ${ngramsSql(n)} AS sh
       |  FROM (SELECT doc_id, $ToksSql AS ts FROM documents)
       |), nz AS (SELECT doc_id, sh, len(sh) AS sz FROM sh WHERE len(sh) > 0),
       |p AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b,
       |    len(list_intersect(x.sh, y.sh))::DOUBLE AS inter,
       |    x.sz::DOUBLE AS asz, y.sz::DOUBLE AS bsz
       |  FROM nz x JOIN nz y ON x.doc_id < y.doc_id
       |)
       |SELECT a, b, round(inter / (asz + bsz - inter), 4) AS jaccard
       |FROM p WHERE inter / (asz + bsz - inter) >= $threshold ORDER BY a, b""".stripMargin

  // ---- mm_manifest oracle: byte-level replay of the media feature
  // extraction. DuckDB reads the fixture files the gate itself wrote
  // (read_blob over the fixed Scratch path — the same literal-path
  // contract as the meta_footer oracle: a table function takes a path,
  // not a view, and Verify runs before the oracle), hex-encodes each
  // payload, and PARSES the containers in SQL:
  //  - PNG: signature check + IHDR (the spec-mandated first chunk) dims;
  //  - WAV/AVI: a recursive RIFF chunk walk (LIST boxes descended, odd
  //    sizes padded) — WAV rate/channels/blockAlign from `fmt `, frames
  //    from `data` size; AVI usPerFrame/totalFrames from `avih` and the
  //    frame count from its `00dc`/`00db` chunks;
  //  - first AVI frame dims: a JPEG marker walk to SOF0-3 — the SAME
  //    dimensions ImageIO's real decode reports for the frame;
  //  - MP4: a recursive ISO-BMFF box walk (moov/trak descended) — mvhd
  //    timescale+duration (both box versions), tkhd 16.16-fixed dims with
  //    the kernel's first-nonzero-else-first track selection.
  // Byte stats replay the kernel loop exactly: the mean's byte sum is
  // exact integer arithmetic; entropy is the ascending-byte-value left
  // fold of -p*ln(p)/ln(2); round_even == Math.rint (half-even).
  // Residual cross-engine risk, accepted: ln() may differ from Java's
  // Math.log in the last ulp, so a 4-decimal entropy landing within
  // ~1e-14 of a .00005 boundary could round apart (~1e-10 per file —
  // the same accepted class as the k-means round(6) lockstep).
  /** Big-endian unsigned int read from hex column `h` at 0-based byte
    * offset `off` (an SQL expression), `nBytes` wide.
    */
  private def beSql(h: String, off: String, nBytes: Int): String =
    s"CAST('0x' || substring($h, 2*($off) + 1, ${2 * nBytes}) AS BIGINT)"

  /** Little-endian unsigned int: byte pairs of the hex read in reverse. */
  private def leSql(h: String, off: String, nBytes: Int): String = {
    val parts = (nBytes - 1).to(0, -1)
      .map(i => s"substring($h, 2*(($off) + $i) + 1, 2)").mkString(" || ")
    s"CAST('0x' || $parts AS BIGINT)"
  }

  /** Raw hex of the 4-byte tag at `off` (blob bytes are not UTF-8, so
    * tags compare as hex literals, never via decode()).
    */
  private def tagSql(h: String, off: String): String =
    s"substring($h, 2*($off) + 1, 8)"

  /** Hex literal of an ASCII 4cc, for comparison against [[tagSql]]. */
  private def ccHex(tag: String): String =
    "'" + tag.getBytes("ISO-8859-1").map(b => f"$b%02X").mkString + "'"

  private lazy val mmManifestOracleSql: String = {
    val mediaGlob = s"${Scratch.dir}/mm_media/media_*"
    s"""WITH RECURSIVE files AS (
       |  SELECT CAST(regexp_extract(filename, 'media_(\\d+)\\.', 1) AS BIGINT) AS media_id,
       |         lower(regexp_extract(filename, '\\.([a-z0-9]+)$$', 1)) AS ext,
       |         hex(content) AS h,
       |         CAST(octet_length(content) AS BIGINT) AS n
       |  FROM read_blob('$mediaGlob')
       |),
       |kinds AS (
       |  SELECT *, CASE ext WHEN 'png' THEN 'image' WHEN 'wav' THEN 'audio'
       |                     WHEN 'mp4' THEN 'video' WHEN 'avi' THEN 'video'
       |                     ELSE 'binary' END AS kind
       |  FROM files
       |),
       |bytes AS (
       |  SELECT media_id, n, unnest(range(0, n)) AS i FROM kinds
       |),
       |bvals AS (
       |  SELECT b.media_id, ${beSql("k.h", "b.i", 1)} AS v
       |  FROM bytes b JOIN kinds k USING (media_id)
       |),
       |hist AS (
       |  SELECT media_id, v, CAST(count(*) AS BIGINT) AS c FROM bvals GROUP BY 1, 2
       |),
       |stats AS (
       |  SELECT k.media_id,
       |         round_even(CAST(sum(c * v) AS DOUBLE) / k.n * 10000, 0) / 10000 AS byte_mean,
       |         round_even(
       |           list_reduce(
       |             list_prepend(0.0, list(CAST(c AS DOUBLE) / k.n ORDER BY v)),
       |             (acc, p) -> acc - p * ln(p) / ln(2)) * 10000, 0) / 10000 AS byte_entropy
       |  FROM hist JOIN kinds k USING (media_id)
       |  GROUP BY k.media_id, k.n
       |),
       |png AS (
       |  SELECT media_id,
       |         CASE WHEN substring(h, 1, 16) = '89504E470D0A1A0A'
       |              AND ${tagSql("h", "12")} = ${ccHex("IHDR")}
       |              THEN ${beSql("h", "16", 4)} ELSE 0 END AS width,
       |         CASE WHEN substring(h, 1, 16) = '89504E470D0A1A0A'
       |              AND ${tagSql("h", "12")} = ${ccHex("IHDR")}
       |              THEN ${beSql("h", "20", 4)} ELSE 0 END AS height
       |  FROM kinds WHERE ext = 'png'
       |),
       |rwalk(media_id, h, off, lim) AS (
       |  SELECT media_id, h, CAST(12 AS BIGINT), n FROM kinds
       |  WHERE ext IN ('wav', 'avi') AND ${tagSql("h", "0")} = ${ccHex("RIFF")}
       |  UNION ALL
       |  SELECT media_id, h, s.nx.o, s.nx.l FROM (
       |    SELECT media_id, h, off, lim,
       |           ${tagSql("h", "off")} AS cc, ${leSql("h", "off + 4", 4)} AS sz
       |    FROM rwalk WHERE off + 8 <= lim
       |  ) t, LATERAL (SELECT unnest(list_filter([
       |        struct_pack(o := t.off + 8 + t.sz + (t.sz % 2), l := t.lim),
       |        CASE WHEN t.cc = ${ccHex("LIST")} AND t.sz >= 4
       |             THEN struct_pack(o := t.off + 12, l := t.off + 8 + t.sz) END],
       |      x -> x IS NOT NULL AND x.o + 8 <= x.l)) AS nx) s
       |  WHERE t.off + 8 + t.sz <= t.lim
       |),
       |rchunks AS (
       |  SELECT media_id, off, ${tagSql("h", "off")} AS cc,
       |         ${leSql("h", "off + 4", 4)} AS sz, off + 8 AS ds, h
       |  FROM rwalk WHERE off + 8 <= lim
       |),
       |wav AS (
       |  SELECT f.media_id,
       |         ${leSql("f.h", "f.ds + 4", 4)} AS sample_rate,
       |         ${leSql("f.h", "f.ds + 2", 2)} AS channels,
       |         CAST(d.sz / ${leSql("f.h", "f.ds + 12", 2)} AS BIGINT) AS frames
       |  FROM (SELECT * FROM rchunks WHERE cc = ${ccHex("fmt ")}) f
       |  JOIN (SELECT * FROM rchunks WHERE cc = ${ccHex("data")}) d USING (media_id)
       |),
       |avih AS (
       |  SELECT media_id, ${leSql("h", "ds", 4)} AS us_per_frame,
       |         ${leSql("h", "ds + 16", 4)} AS total_frames
       |  FROM rchunks WHERE cc = ${ccHex("avih")}
       |),
       |avifr AS (
       |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
       |         min(ds) AS first_ds, any_value(h) AS h
       |  FROM rchunks
       |  WHERE substring(cc, 5, 4) IN ('6463', '6462') AND sz > 0
       |  GROUP BY media_id
       |),
       |bwalk(media_id, h, off, lim) AS (
       |  SELECT media_id, h, CAST(0 AS BIGINT), n FROM kinds WHERE ext = 'mp4'
       |  UNION ALL
       |  SELECT media_id, h, s.nx.o, s.nx.l FROM (
       |    SELECT media_id, h, off, lim,
       |           ${tagSql("h", "off + 4")} AS bt, ${beSql("h", "off", 4)} AS sz
       |    FROM bwalk WHERE off + 8 <= lim
       |  ) t, LATERAL (SELECT unnest(list_filter([
       |        struct_pack(o := t.off + t.sz, l := t.lim),
       |        CASE WHEN t.bt IN (${ccHex("moov")}, ${ccHex("trak")},
       |                           ${ccHex("mdia")}, ${ccHex("minf")}, ${ccHex("stbl")})
       |             THEN struct_pack(o := t.off + 8, l := t.off + t.sz) END],
       |      x -> x IS NOT NULL AND x.o + 8 <= x.l)) AS nx) s
       |  WHERE t.sz >= 8 AND t.off + t.sz <= t.lim
       |),
       |boxes AS (
       |  SELECT media_id, off, ${tagSql("h", "off + 4")} AS bt,
       |         ${beSql("h", "off", 4)} AS sz, off + 8 AS ds, h
       |  FROM bwalk WHERE off + 8 <= lim
       |),
       |mvhd AS (
       |  SELECT media_id,
       |         CASE WHEN ${beSql("h", "ds", 1)} = 1
       |              THEN ${beSql("h", "ds + 20", 4)} ELSE ${beSql("h", "ds + 12", 4)} END AS timescale,
       |         CASE WHEN ${beSql("h", "ds", 1)} = 1
       |              THEN ${beSql("h", "ds + 24", 8)} ELSE ${beSql("h", "ds + 16", 4)} END AS duration
       |  FROM boxes WHERE bt = ${ccHex("mvhd")}
       |),
       |tkhd AS (
       |  SELECT media_id, width, height FROM (
       |    SELECT media_id,
       |           ${beSql("h", "off + sz - 8", 2)} AS width,
       |           ${beSql("h", "off + sz - 4", 2)} AS height,
       |           row_number() OVER (PARTITION BY media_id
       |             ORDER BY CASE WHEN ${beSql("h", "off + sz - 8", 2)} != 0
       |                            AND ${beSql("h", "off + sz - 4", 2)} != 0
       |                      THEN 0 ELSE 1 END, off) AS rk
       |    FROM boxes WHERE bt = ${ccHex("tkhd")}
       |  ) WHERE rk = 1
       |),
       |stsd AS ( -- first sample entry's codec fourcc:
       |          -- ver/flags(4) + entry_count(4) + entry size(4) + fourcc
       |  SELECT media_id, ${tagSql("h", "ds + 12")} AS codec
       |  FROM boxes WHERE bt = ${ccHex("stsd")}
       |),
       |stsz AS ( -- ver/flags(4) + uniform_size(4) + sample_count(4)
       |  SELECT media_id, ${beSql("h", "ds + 8", 4)} AS n_samples
       |  FROM boxes WHERE bt = ${ccHex("stsz")}
       |),
       |stco AS ( -- ver/flags(4) + entry_count(4) + first chunk offset:
       |          -- the FIRST sample starts there under both the fixture's
       |          -- chunk layouts (kernel walks the full stsc mapping)
       |  SELECT media_id, h, ${beSql("h", "ds + 8", 4)} AS first_off
       |  FROM boxes WHERE bt = ${ccHex("stco")}
       |),
       |jwalk(media_id, h, off) AS (
       |  SELECT media_id, h, first_ds + 2 FROM avifr
       |  WHERE substring(h, 2*first_ds + 1, 4) = 'FFD8'
       |  UNION ALL
       |  SELECT c.media_id, c.h, c.first_off + 2
       |  FROM stco c JOIN stsd d USING (media_id)
       |  WHERE d.codec IN (${ccHex("jpeg")}, ${ccHex("mjpa")})
       |    AND substring(c.h, 2*c.first_off + 1, 4) = 'FFD8'
       |  UNION ALL
       |  SELECT media_id, h, off + 2 + ${beSql("h", "off + 2", 2)} FROM jwalk
       |  WHERE substring(h, 2*off + 1, 2) = 'FF'
       |    AND substring(h, 2*off + 3, 2) NOT IN ('C0','C1','C2','C3','D8','D9','DA')
       |),
       |jsof AS (
       |  SELECT media_id, ${beSql("h", "off + 5", 2)} AS height,
       |         ${beSql("h", "off + 7", 2)} AS width
       |  FROM jwalk
       |  WHERE substring(h, 2*off + 1, 2) = 'FF'
       |    AND substring(h, 2*off + 3, 2) IN ('C0','C1','C2','C3')
       |)
       |SELECT k.media_id, k.kind, k.n AS n_bytes,
       |  s.byte_mean, s.byte_entropy,
       |  CAST(CASE k.ext WHEN 'png' THEN p.width WHEN 'avi' THEN j.width
       |                  WHEN 'mp4' THEN t.width ELSE 0 END AS INT) AS width,
       |  CAST(CASE k.ext WHEN 'png' THEN p.height WHEN 'avi' THEN j.height
       |                  WHEN 'mp4' THEN t.height ELSE 0 END AS INT) AS height,
       |  CAST(coalesce(w.sample_rate, 0) AS INT) AS sample_rate,
       |  CAST(coalesce(w.channels, 0) AS INT) AS channels,
       |  CAST(coalesce(round_even(w.frames * 1000.0 / w.sample_rate, 0), 0) AS BIGINT) AS audio_ms,
       |  CAST(CASE k.ext
       |    WHEN 'avi' THEN coalesce(round_even(a.us_per_frame * a.total_frames / 1000.0, 0), 0)
       |    WHEN 'mp4' THEN coalesce(round_even(m.duration * 1000.0 / m.timescale, 0), 0)
       |    ELSE 0 END AS BIGINT) AS video_ms,
       |  CAST(CASE k.ext
       |    WHEN 'avi' THEN coalesce(fr.n_frames, 0)
       |    WHEN 'mp4' THEN CASE WHEN d.codec IN (${ccHex("jpeg")}, ${ccHex("mjpa")})
       |                         THEN coalesce(z.n_samples, 0) ELSE 0 END
       |    ELSE 0 END AS INT) AS n_frames,
       |  (CASE k.ext
       |    WHEN 'avi' THEN coalesce(fr.n_frames, 0) > 0
       |    WHEN 'mp4' THEN d.codec IN (${ccHex("jpeg")}, ${ccHex("mjpa")})
       |                    AND coalesce(z.n_samples, 0) > 0
       |    ELSE false END) AS frames_decoded
       |FROM kinds k
       |JOIN stats s USING (media_id)
       |LEFT JOIN png p USING (media_id)
       |LEFT JOIN wav w USING (media_id)
       |LEFT JOIN avih a USING (media_id)
       |LEFT JOIN avifr fr USING (media_id)
       |LEFT JOIN jsof j USING (media_id)
       |LEFT JOIN mvhd m USING (media_id)
       |LEFT JOIN tkhd t USING (media_id)
       |LEFT JOIN stsd d USING (media_id)
       |LEFT JOIN stsz z USING (media_id)
       |ORDER BY k.media_id""".stripMargin
  }
}
