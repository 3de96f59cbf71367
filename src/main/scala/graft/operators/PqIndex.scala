package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.expr.GraftFunctions

/** IVF-PQ approximate nearest neighbor (Jégou et al., "Product
  * quantization for nearest neighbor search", TPAMI 2011; the FAISS
  * IVFPQ design re-expressed as DataFrame plans).
  *
  * The corpus is coarse-quantized into IVF cells (reusing
  * [[IvfIndex]]), and each vector's RESIDUAL (v - cell centroid) is
  * product-quantized: split into `m` subspaces, each encoded as the index
  * of its nearest entry in a per-subspace codebook of `kCodes` entries.
  * The stored index row is (id, cell, m codes, norm) — m bytes-worth of
  * codes instead of dim floats, a ~32× compression at (dim=64, m=8).
  *
  * Search is asymmetric-distance (ADC): per query, one O(dim·kCodes) LUT
  * of subspace dot products, then every candidate row scores in O(m)
  * lookups — `approx_dot(q,v) ≈ dot(q, centroid_cell) + Σ_sub
  * lut(sub, code_sub)` (dot distributes over the residual decomposition).
  * The top `k·refine` by approximate cosine are re-ranked exactly by
  * joining the candidate ids (narrow) back to the raw vector table.
  *
  * Scale shape: training samples the corpus; encoding is one narrow scan
  * (at 100 TB the encoded index is written `partitionBy(cell)` once);
  * a query batch broadcasts (qid, lut, cell) rows and touches
  * nProbe/nCells of the CODES, never the vectors — only the re-rank
  * reads ~k·refine full vectors per query via an id shuffle join.
  */
object PqIndex {

  /** Trained model: IVF centroids (dense, cell == array index) plus flat
    * residual codebooks — codebooks(sub*kCodes + c) is entry c of
    * subspace sub. Small (nCells·dim + m·kCodes·dim doubles): rides into
    * codegen as reference objects.
    */
  case class Model(centroids: Array[(Int, Array[Double])],
      codebooks: Array[Array[Double]], m: Int, kCodes: Int) {
    require(centroids.nonEmpty && codebooks.length == m * kCodes,
      s"codebooks must hold m*kCodes entries, got ${codebooks.length}")
    val dim: Int = centroids(0)._2.length
    val d: Int = dim / m
  }

  private def centroidLit(centroids: Array[(Int, Array[Double])]) =
    typedLit(centroids.sortBy(_._1).map(_._2.toSeq).toSeq)

  private def asDouble(df: DataFrame, idCol: String, vecCol: String,
      id: String, v: String): DataFrame =
    df.select(col(idCol).as(id), transform(col(vecCol), x => x.cast("double")).as(v))

  /** Train coarse centroids + residual codebooks with `iters` Lloyd
    * iterations each, on a seeded `sampleFraction` of the corpus (the
    * 100 TB path — FAISS trains IVFPQ on a sample the same way).
    * Deterministic AND engine-replayable: md5-seeded init orderings and
    * 6-decimal-rounded Lloyd means (both coarse and codebook) make the
    * trained model bit-identical under any merge order and let the
    * ann_ivfpq oracle recompute it from scratch in DuckDB SQL.
    * (Bernoulli `sampleFraction` is partitioning-dependent; a caller
    * needing a cross-engine-replayable sample pre-filters
    * deterministically, e.g. `id % 2 = 0`, and passes 1.0.)
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, m: Int = 8, kCodes: Int = 16, iters: Int = 3,
      seed: Long = 42L, sampleFraction: Double = 1.0): Model = {
    val centroids = IvfIndex.train(corpus, idCol, vecCol, nCells, iters, seed, sampleFraction)
    val dim = centroids(0)._2.length
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val d = dim / m

    val base = if (sampleFraction < 1.0) corpus.sample(sampleFraction, seed) else corpus
    val v = asDouble(base, idCol, vecCol, "id", "v")
    // residuals feed the init collect plus every Lloyd iteration —
    // materialize once
    val resid = IvfIndex.assign(v, centroids)
      .withColumn("r", zip_with(col("v"),
        element_at(centroidLit(centroids), col("cell") + 1), (x, c) => x - c))
      .select(col("id"), col("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // init: the kCodes residual vectors with the smallest seeded hash
    // seed entry c of EVERY subspace — any spread-out pick works for
    // Lloyd init, and one driver-side slice beats a per-subspace
    // row_number window. md5 (not xxhash64): the SAME stable pseudo-
    // random ordering is reproducible character-for-character in DuckDB,
    // which lets the ann_ivfpq oracle replay codebook training in SQL
    // (engine-portable hashing, same scheme as IvfIndex.train's init).
    val seeds = resid
      .withColumn("h", md5(concat(lit(s"pq$seed:"), col("id").cast("string"))))
      .orderBy(col("h").asc, col("id").asc).limit(kCodes)
      .select("r").collect()
      .map(_.getSeq[Double](0).toArray)
    val codebooks = Array.tabulate(m * kCodes) { i =>
      val sub = i / kCodes; val c = i % kCodes
      if (c < seeds.length) seeds(c).slice(sub * d, sub * d + d)
      else Array.fill(d)(0.0)
    }

    // Lloyd: assignment is ONE pqEncode kernel call per row (against a
    // zero coarse centroid — `r` is already the residual), so all m
    // subspaces train in the same pass with no per-candidate expression
    // trees; new entry = element-wise member mean, computed as `d`
    // codegen'd avg(sv[i]) aggregate columns so the map-side partial
    // aggregate reduces each partition to one row per (sub, code) BEFORE
    // the exchange — the shuffle is O(m·kCodes × partitions × d) doubles,
    // not the n·m·d element rows a posexplode formulation would move
    val zeroCentroid = lit(Array.fill(dim)(0.0))
    var it = 0
    while (it < iters) {
      val snapshot = codebooks.map(_.clone()) // plan-captured; never mutated
      // round(6) on every codebook mean, for the same two reasons as
      // IvfIndex.train: the trained model becomes bit-identical under any
      // partial-aggregation merge order, and both engines round their
      // sub-ulp-divergent avg() to the same decimal — which is what lets
      // the ann_ivfpq oracle replay the whole training in DuckDB SQL
      val els = (0 until d).map(i => round(avg(col("sv")(i)), 6).as(s"mu$i"))
      val means = resid
        .withColumn("codes",
          graft.functions.expr.GraftFunctions.pqEncode(col("r"), zeroCentroid, snapshot, m, kCodes))
        .select(explode(array((0 until m).map { s =>
          struct(lit(s).as("sub"), col("codes")(s).as("code"),
            slice(col("r"), s * d + 1, d).as("sv"))
        }: _*)).as("e"))
        .select(col("e.sub").as("sub"), col("e.code").as("code"), col("e.sv").as("sv"))
        .groupBy("sub", "code").agg(els.head, els.tail: _*)
        .collect()
      means.foreach { r =>
        val entry = codebooks(r.getInt(0) * kCodes + r.getInt(1))
        var i = 0
        while (i < d) { entry(i) = r.getDouble(i + 2); i += 1 }
      }
      // entries that lost all members keep their previous value
      it += 1
    }
    resid.unpersist()
    Model(centroids, codebooks, m, kCodes)
  }

  /** Encode the FULL corpus: (id, cell, codes, norm). At scale this is the
    * one narrow pass whose output is written `partitionBy(cell)` and
    * reused by every query batch.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val v = asDouble(corpus, idCol, vecCol, "id", "v")
    IvfIndex.assign(v, model.centroids)
      .select(col("id"), col("cell"),
        GraftFunctions.pqEncode(col("v"),
          element_at(centroidLit(model.centroids), col("cell") + 1),
          model.codebooks, model.m, model.kCodes).as("codes"),
        sqrt(GraftFunctions.dot(col("v"), col("v"))).as("norm"))
  }

  /** Persist a trained model as one small parquet table: centroid rows
    * (kind='centroid', idx=cell) and codebook rows (kind='codebook',
    * idx=sub*kCodes+code), with (m, kCodes) on every row. At scale the
    * model is trained once and saved next to the encoded index; query
    * jobs load it instead of retraining.
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: Model,
      path: String): Unit = {
    import spark.implicits._
    val rows =
      model.centroids.toSeq.map { case (cell, c) =>
        ("centroid", cell, c.toSeq, model.m, model.kCodes) } ++
      model.codebooks.toSeq.zipWithIndex.map { case (e, i) =>
        ("codebook", i, e.toSeq, model.m, model.kCodes) }
    rows.toDF("kind", "idx", "vec", "m", "kCodes")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model saved by [[saveModel]] — the driver-side collect is
    * nCells + m·kCodes rows, the same small footprint train() returns.
    */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path).collect()
    require(rows.nonEmpty, s"no model rows at $path")
    val m = rows.head.getAs[Int]("m")
    val kCodes = rows.head.getAs[Int]("kCodes")
    def vecs(kind: String): Array[(Int, Array[Double])] = rows
      .filter(_.getAs[String]("kind") == kind)
      .map(r => (r.getAs[Int]("idx"), r.getAs[Seq[Double]]("vec").toArray))
      .sortBy(_._1)
    Model(vecs("centroid"), vecs("codebook").map(_._2), m, kCodes)
  }

  // ---- persisted index: manifest-versioned commits ---------------------
  //
  // The on-disk index is a mini snapshot table (the [[SnapshotTable]]
  // commit pattern over IMMUTABLE cell-partitioned filesets):
  //
  //   <path>/data/vNNNNN_<nonce>/cell=K/part-*.parquet   encoded rows
  //   <path>/tomb/vNNNNN_<nonce>/cell=K/part-*.parquet   (id, cell) masks
  //
  // and a version is a [[FilesetLog]] manifest of `D <file>` (data) and
  // `T <file>` (tombstone) entries. Every maintenance op (append, delete,
  // compact) writes NEW filesets first and then publishes the next
  // manifest exclusively — so a reader that planned against version v keeps
  // serving v's immutable files however many maintenance ops land after
  // it; there is NO delete+rename window in which the live index is
  // missing files. A crash mid-op leaves orphan filesets (invisible;
  // removed by [[vacuumIndex]]), never a half-rewritten index.
  // Maintenance is SINGLE-WRITER (an orchestrated pipeline step): a lost
  // manifest race surfaces as [[SnapshotTable.CommitConflict]] to the
  // maintainer instead of rebasing.

  /** All committed index versions, ascending (a fileset without a
    * manifest — a crashed maintenance op — is not a version).
    */
  def versions(spark: org.apache.spark.sql.SparkSession, path: String): Seq[Long] =
    FilesetLog.versions(spark, path)

  def currentVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Long] = FilesetLog.current(spark, path)

  /** A version's live file lists: encoded data files and tombstone files. */
  private case class IndexFiles(data: Seq[String], tomb: Seq[String])

  private def filesOf(spark: org.apache.spark.sql.SparkSession, path: String,
      v: Long): IndexFiles = {
    val es = FilesetLog.entries(spark, path, v)
    IndexFiles(es.filter(_.kind == "D").map(_.file), es.filter(_.kind == "T").map(_.file))
  }

  private def commit(spark: org.apache.spark.sql.SparkSession, path: String,
      v: Long, data: Seq[String], tomb: Seq[String]): Unit =
    FilesetLog.commit(spark, path, v,
      data.map(FilesetLog.Entry("D", None, _)) ++ tomb.map(FilesetLog.Entry("T", None, _)))

  /** Write `df` cell-partitioned as a new fileset under `<path>/<sub>` for
    * version `v` and return the written files (possibly empty —
    * partitionBy writes nothing for an empty frame). Filesets are
    * immutable once a manifest references them.
    */
  private def writeFileset(df: DataFrame, path: String, sub: String, v: Long): Seq[String] =
    FilesetLog.writeFileset(df, FilesetLog.fileset(path, sub, v), Seq("cell"))

  private val CellRe = """.*/cell=(\d+)/[^/]*$""".r
  private def cellOfPath(p: String): Int = p match {
    case CellRe(c) => c.toInt
    case _ => throw new IllegalArgumentException(s"not a cell-partitioned file: $p")
  }

  /** Read a manifest file list so `cell` comes back as a PARTITION
    * column — which is what lets the probed-cell join plant a dynamic
    * partition-pruning filter on the scan, exactly as a plain
    * partitioned read would. Partition inference cannot span several
    * fileset roots under one basePath (conflicting-directory error), so
    * the files are grouped by fileset and each group reads with ITS root
    * as basePath; the groups union. After [[writeIndex]] or
    * [[compactIndex]] the manifest holds one data fileset, so the common
    * serving read is a single partitioned scan.
    */
  private def readFiles(spark: org.apache.spark.sql.SparkSession,
      path: String, files: Seq[String], cols: Seq[String]): DataFrame = {
    require(files.nonEmpty,
      s"index at $path: this version references no data files " +
        "(writeIndex of an empty frame commits no files) — " +
        "reduceLeft over zero filesets would crash opaquely")
    val byFileset = files.groupBy(p => p.substring(0, p.lastIndexOf("/cell=")))
      .toSeq.sortBy(_._1)
    byFileset.map { case (root, fs) =>
      spark.read.option("basePath", root).parquet(fs: _*)
        .select(cols.map(col): _*)
    }.reduce(_ unionByName _)
  }

  /** Persist an encoded index as version 1 — `partitionBy(cell)`, the
    * one-time write at scale: each coarse cell becomes a directory per
    * fileset, so a query batch's probed-cell join touches nProbe/nCells
    * of the files, not the corpus. Replaces any existing index at `path`
    * (the old overwrite semantics).
    */
  def writeIndex(encoded: DataFrame, path: String): Unit = {
    val spark = encoded.sparkSession
    FilesetLog.fs(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)
    val files = writeFileset(encoded, path, "data", 1L)
    commit(spark, path, 1L, files, Nil)
  }

  /** Append newly-ingested vectors to a persisted index WITHOUT
    * retraining: encode under the same model, write the batch as a new
    * fileset, commit version n+1 = (old files) ++ (batch files). This is
    * the daily-ingest path at scale — the coarse centroids and codebooks
    * stay fixed between offline retrains, so appends are one narrow
    * encode scan; quality for drifting distributions degrades gracefully
    * until the next retrain.
    *
    * An append SUPERSEDES any earlier delete of the same id: the
    * superseded tombstones' cells are rewritten copy-on-write (survivor
    * rows into a fresh fileset, superseded rows dropped) and the
    * tombstone set is rewritten without them — so delete-then-reinsert,
    * the usual update path, serves exactly the new row instead of either
    * staying masked or reviving the old copy next to it. Appends with no
    * superseded delete (the common case) detect that with one small
    * manifest-side semi-join and skip the rewrite. Everything lands in
    * new filesets before the single manifest publish: concurrent readers
    * keep their pinned version throughout, and a crash leaves orphans
    * for [[vacuumIndex]], never a half-rewritten index.
    */
  def appendToIndex(corpus: DataFrame, idCol: String, vecCol: String,
      model: Model, path: String): Unit = {
    val spark = corpus.sparkSession
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no index under $path — writeIndex first"))
    val fl = filesOf(spark, path, v)
    val enc = encode(corpus, idCol, vecCol, model)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val encFiles = writeFileset(enc, path, "data", v + 1)
      var dataFiles = fl.data ++ encFiles
      var tombFiles = fl.tomb
      if (fl.tomb.nonEmpty) {
        val masked = readFiles(spark, path, fl.tomb, Seq("id", "cell"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val superseded = masked.join(enc.select(col("id"), col("cell")),
            Seq("id", "cell"), "left_semi")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // bounded by nCells, a model constant
            val cells = superseded.select("cell").distinct().collect()
              .map(_.getInt(0)).toSet
            if (cells.nonEmpty) {
              // copy-on-write rewrite of the affected cells' OLD files
              val affected = fl.data.filter(p => cells.contains(cellOfPath(p)))
              val survivors = readFiles(spark, path, affected,
                  Seq("id", "cell", "codes", "norm"))
                .join(superseded, Seq("id", "cell"), "left_anti")
              val survFiles = writeFileset(survivors, path, "data", v + 1)
              dataFiles = fl.data.filterNot(affected.toSet) ++ survFiles ++ encFiles
              tombFiles = writeFileset(
                masked.join(enc.select(col("id"), col("cell")),
                  Seq("id", "cell"), "left_anti"), path, "tomb", v + 1)
            }
          } finally { superseded.unpersist(); () }
        } finally { masked.unpersist(); () }
      }
      commit(spark, path, v + 1, dataFiles, tombFiles)
    } finally { enc.unpersist(); () }
  }

  /** Compact tombstones away — the "periodic re-encode" the delete path
    * promises, made a real operator. Only the cells that actually carry
    * tombstones are rewritten (survivors into a fresh fileset), and
    * version n+1 references no tombstone files, so a compacted index
    * serves identical results through a plan with NO anti-join and no
    * per-query tombstone cost. The affected-cell collect is bounded by
    * nCells (a model constant). The commit is the atomic manifest
    * publish: a reader pinned to version n keeps its files (immutable
    * until [[vacuumIndex]]) — compaction is safe against concurrent
    * readers, unlike the pre-manifest delete+rename design.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val vOpt = currentVersion(spark, path)
    if (vOpt.isEmpty) return
    val v = vOpt.get
    val fl = filesOf(spark, path, v)
    if (fl.tomb.isEmpty) return // nothing masked: compaction is a no-op
    val masked = readFiles(spark, path, fl.tomb, Seq("id", "cell"))
    val cells = masked.select("cell").distinct().collect().map(_.getInt(0)).toSet
    val affected = fl.data.filter(p => cells.contains(cellOfPath(p)))
    val survivors = readFiles(spark, path, affected, Seq("id", "cell", "codes", "norm"))
      .join(masked, Seq("id", "cell"), "left_anti")
    val survFiles = writeFileset(survivors, path, "data", v + 1)
    commit(spark, path, v + 1, fl.data.filterNot(affected.toSet) ++ survFiles, Nil)
  }

  /** DELETE vectors from a persisted index WITHOUT rewriting it: the
    * deleted ids' cells are resolved by one narrow join against the
    * index itself, and the resulting (id, cell) masks are written as a
    * cell-partitioned tombstone fileset referenced by version n+1 —
    * [[readIndex]] anti-joins them out at serve time, cell-co-partitioned
    * on both sides, so a probed-cell query only ever reads the probed
    * cells' tombstones. This closes the CRUD loop (takedowns, dedup
    * survivors) without retrain or rebuild; [[compactIndex]] periodically
    * rewrites the affected cells, and a later [[appendToIndex]] of a
    * deleted id supersedes its tombstone (re-insert serves the new row).
    * Ids not in the index tombstone nothing (idempotent; a re-delete
    * masks rows already masked and changes nothing served).
    *
    * The cell resolution is FOOTER-PRUNED: per-file id [min, max] from
    * the filesets' parquet footers ([[SkippingIndex.statsRows]], KB-sized
    * reads) keep only the files whose id range intersects a deleted id,
    * so a delete batch against an id-clustered index costs
    * O(files) footer reads + a scan of the intersecting files — not the
    * O(index) full (id, cell) scan. Files without usable stats are
    * conservatively read; a stats build failure degrades to reading all
    * files (correct, unpruned). Returns the pruning decision as evidence.
    */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, idCol: String, path: String): SkippingIndex.Prune = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no index under $path — writeIndex first"))
    val fl = filesOf(spark, path, v)
    val del = ids.select(col(idCol).cast("long").as("__k")).distinct()
    val kept =
      try {
        val stats = SkippingIndex.statsRows(spark, fl.data, Seq("id"))
        del.join(broadcast(stats),
            col("id_min").isNull || col("id_max").isNull ||
              (col("__k") >= col("id_min") && col("__k") <= col("id_max")))
          .select("file").distinct().collect().map(_.getString(0)).toSeq.sorted
      } catch {
        case scala.util.control.NonFatal(_) => fl.data // degrade, stay correct
      }
    val prune = SkippingIndex.Prune(fl.data.length, kept.length, kept)
    if (kept.isEmpty) return prune // no file can hold a deleted id: no-op
    val idx = readFiles(spark, path, kept, Seq("id", "cell"))
    val dest = FilesetLog.fileset(path, "tomb", v + 1)
    val newTomb = FilesetLog.writeFileset(
      idx.join(del.select(col("__k").as("id")), Seq("id")), dest, Seq("cell"))
    if (newTomb.isEmpty) {
      // nothing resolved to an index row: no-op, drop the empty fileset
      FilesetLog.fs(spark, path).delete(new org.apache.hadoop.fs.Path(dest), true)
    } else commit(spark, path, v + 1, fl.data, fl.tomb ++ newTomb)
    prune
  }

  /** Read a persisted index version (default: current) into the `search`
    * input shape. The version's file list is PINNED here — concurrent
    * appends/deletes/compactions commit new manifests over immutable
    * files and cannot disturb this frame (read what you pinned, the
    * [[SnapshotTable.read]] contract). `cell` returns as a partition
    * column, so joining it against the broadcast probed-cells side
    * dynamic-partition-prunes the unprobed files. Tombstoned rows
    * ([[deleteFromIndex]]) are anti-joined out on (id, cell) — both
    * sides cell-partitioned — so a served search equals one over an
    * index rebuilt from the survivors (gated: ann_ivfpq_delete).
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"no index under $path"))
    val fl = filesOf(spark, path, v)
    val raw = readFiles(spark, path, fl.data, Seq("id", "cell", "codes", "norm"))
    if (fl.tomb.isEmpty) raw
    else raw.join(readFiles(spark, path, fl.tomb, Seq("id", "cell")),
      Seq("id", "cell"), "left_anti")
  }

  /** Drop every index version but the last `keepLast` and delete data /
    * tombstone files no retained manifest references — except files
    * younger than `graceMs` (an in-flight maintenance op writes its
    * filesets BEFORE its manifest publish; the same hazard and default
    * as [[SnapshotTable.vacuum]]). Returns the deleted file paths. Run
    * only when no reader is pinned below the retention horizon.
    */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      keepLast: Int = 1,
      graceMs: Long = SnapshotTable.DefaultVacuumGraceMs): Seq[String] =
    FilesetLog.vacuum(spark, path, Seq("data", "tomb"), keepLast, graceMs)

  /** Top-k per query: ADC scan over the `nProbe` best cells' codes, then
    * exact cosine re-rank of the top `k * refine` shortlist against the
    * raw vectors (`corpus` — joined by candidate id only).
    */
  def search(encoded: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, model: Model,
      k: Int = 10, nProbe: Int = 4, refine: Int = 4): DataFrame = {
    val centLit = centroidLit(model.centroids)
    val q = asDouble(queries, qidCol, qvecCol, "qid", "qv")
      .withColumn("qnorm", sqrt(GraftFunctions.dot(col("qv"), col("qv"))))
      .withColumn("lut", GraftFunctions.pqLut(col("qv"), model.codebooks, model.m, model.kCodes))
    // per probed cell the query carries only (lut, qnorm, qdotc) — the
    // broadcast side never ships query vectors into the ADC scan; cell
    // ranking is one nearestCells kernel call (see IvfIndex.assign)
    val probed = q.withColumn("cell",
      explode(GraftFunctions.nearestCells(col("qv"),
        IvfIndex.denseCentroids(model.centroids), nProbe)))
      .withColumn("qdotc", GraftFunctions.dot(col("qv"), element_at(centLit, col("cell") + 1)))
      .select("qid", "qnorm", "lut", "cell", "qdotc")
    val denom = col("qnorm") * col("norm")
    val cand = encoded.join(broadcast(probed), Seq("cell"))
      .withColumn("approx", when(denom === 0.0, -1.0).otherwise(
        (col("qdotc") + GraftFunctions.pqAdc(col("codes"), col("lut"), model.kCodes)) / denom))
    val shortlist = TopK.perKey(cand, "qid",
        Seq(col("approx").desc, col("id").asc), k * refine, "rka")
      .select("qid", "id")
    val cv = asDouble(corpus, idCol, vecCol, "id", "v")
    val qv = asDouble(queries, qidCol, qvecCol, "qid", "qv")
    val exact = shortlist.join(cv, "id").join(broadcast(qv), "qid")
      .withColumn("cosine", GraftFunctions.cosine(col("v"), col("qv")))
    TopK.perKey(exact, "qid", Seq(col("cosine").desc, col("id").asc), k, "rk")
      .select(col("qid"), col("id"), round(col("cosine"), 4).as("cosine"),
        col("rk").cast("long").as("rk"))
      .orderBy("qid", "rk")
  }
}
