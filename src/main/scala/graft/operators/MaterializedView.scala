package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate MATERIALIZED VIEW over a
  * [[SnapshotTable]] — the lakehouse "incremental view maintenance"
  * primitive (Delta/Materialize-style): the view holds
  * `groupBy(keys) → (n_rows, per-value-column (non-null count, Σcents))`
  * for one snapshot version, and a refresh advances it to the current
  * version by applying only the CDC DELTA between the two versions
  * ([[SnapshotTable.changes]] — O(files touched), never a table rescan),
  * merged into the view with one key-domain-sized full-outer join.
  * Per-refresh cost is O(delta + |view|), independent of the TABLE's row
  * count — the whole point at 100 TB, where "recompute the aggregate
  * nightly" rescans everything and "maintain from CDC" touches only what
  * changed. At larger key domains the view fileset would be hash-bucketed
  * by key so the merge co-partitions; the merge is already a plain
  * shuffle join that AQE sizes.
  *
  * GROUP KEYS: one column or several (`keyCols: Seq[String]` — real
  * views group by dimension TUPLES). Multi-key views store the key
  * columns under their ORIGINAL names; the single-`keyCol` overloads
  * keep the legacy stored name `key` (existing views and their readers
  * are untouched). The merge join is NULL-SAFE (`<=>` per key column),
  * so a NULL group — which `groupBy` creates and an equality join would
  * silently duplicate — merges correctly.
  *
  * AGGREGATE ALGEBRA (the supported shape, enforced by the API): the
  * maintained state is the INVERTIBLE family — row count, per-column
  * non-null count, per-column integer-cents sum — from which the view
  * serves `count` / `sum` / `avg` per value column. min/max are
  * deliberately NOT supported: they have no inverse (deleting the
  * current max forces a rescan of the key's rows), so they cannot be
  * maintained from a delta; recompute-on-refresh or a sketch (KLL
  * extremes) is the right tool for those, and this API never pretends
  * otherwise.
  *
  * EXACTNESS (what lets a refreshed view hash-equal a from-scratch
  * rebuild, and the DuckDB full-recompute oracle): every summed value is
  * converted to integer CENTS at ingestion — `round(value·100)` is
  * exact for the ≤2-decimal currency values this targets — so every
  * sum is INT64 arithmetic: associative, commutative, order-free.
  * Incremental (+post −pre) maintenance is then algebraically identical
  * to recomputation, with no float-accumulation-order drift possible.
  * Served `sum_*`/`avg_*` divide once by 100 (and once by the non-null
  * count) at read time — the same fixed-order double ops on every engine.
  *
  * The view is itself a [[FilesetLog]] store: each refresh publishes the
  * merged aggregate fileset in ONE atomic manifest commit that carries a
  * VERSION SENTINEL entry — the snapshot version the view reflects plus
  * the aggregate schema — so a refresh that EMPTIES the view (every key
  * reaches n_rows = 0) still commits a well-formed version that
  * serve()/refresh()/reflectedVersion() handle as the empty aggregate,
  * not a crash. A crash between write and publish leaves the previous
  * view serving (never a torn view), and concurrent readers get snapshot
  * isolation like every manifest store here. Old view versions are
  * vacuumable via [[FilesetLog]]-style reclamation of unreferenced agg
  * filesets.
  */
object MaterializedView {

  private val AggKind = "A"
  // sentinel entry: tag = reflected snapshot version, payload = the agg
  // fileset's schema JSON (what makes a ZERO-file view servable)
  private val VersionKind = "V"

  /** The aggregate-state column names generated for the value columns
    * (n_rows plus n_/s_ per column) must stay collision-free, and
    * serve()'s schema-driven derivation (s_ prefix → value column,
    * everything unprefixed → key column) must stay unambiguous — both
    * enforced HERE, at create/refresh time, not discovered as an
    * ambiguous-column error mid-merge. `keys` maps source column →
    * stored name.
    */
  private def validateCols(keys: Seq[(String, String)],
      valueCols: Seq[String]): Unit = {
    require(valueCols.nonEmpty, "need at least one value column")
    require(valueCols.distinct.size == valueCols.size,
      s"duplicate value columns: ${valueCols.diff(valueCols.distinct).distinct
        .mkString(", ")} — each would generate the same n_/s_ state columns")
    require(!valueCols.contains("rows"),
      "a value column named 'rows' would generate n_rows, colliding with " +
        "the view's row counter — rename it upstream")
    val stored = keys.map(_._2)
    require(stored.distinct.size == stored.size,
      s"duplicate key columns: ${stored.diff(stored.distinct).distinct.mkString(", ")}")
    stored.foreach { k =>
      require(k != "n_rows" && !k.startsWith("n_") && !k.startsWith("s_"),
        s"view key column '$k' collides with the aggregate-state namespace " +
          "(n_rows / n_* / s_*) — alias it upstream")
    }
    val keySrcs = keys.map(_._1).toSet
    require(!valueCols.exists(keySrcs.contains),
      "a view key cannot also be a value column")
  }

  /** Create the view at `mvDir` reflecting `tableDir`'s CURRENT version:
    * one full aggregation scan (paid once — every later refresh is
    * delta-sized). Returns the snapshot version the view reflects.
    */
  def create(spark: SparkSession, tableDir: String, mvDir: String,
      keyCol: String, valueCol: String): Long =
    create(spark, tableDir, mvDir, keyCol, Seq(valueCol))

  def create(spark: SparkSession, tableDir: String, mvDir: String,
      keyCol: String, valueCols: Seq[String]): Long =
    createImpl(spark, tableDir, mvDir, Seq(keyCol -> "key"), valueCols)

  /** Multi-column group key: the view groups by the tuple and stores
    * each key column under its own name — `serve` returns them as-is.
    */
  def create(spark: SparkSession, tableDir: String, mvDir: String,
      keyCols: Seq[String], valueCols: Seq[String]): Long =
    createImpl(spark, tableDir, mvDir, keyCols.map(c => c -> c), valueCols)

  private def createImpl(spark: SparkSession, tableDir: String, mvDir: String,
      keys: Seq[(String, String)], valueCols: Seq[String]): Long = {
    require(keys.nonEmpty, "need at least one key column")
    validateCols(keys, valueCols)
    require(FilesetLog.current(spark, mvDir).isEmpty,
      s"a materialized view already exists under $mvDir — refresh() it")
    val v = SnapshotTable.currentVersion(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no snapshot table under $tableDir"))
    // s_<c> is 0 (not NULL) for a key with no non-null values: the
    // refresh merge is pure INT64 addition, and serve() re-imposes SQL
    // sum semantics (NULL when n_<c> = 0) at read time
    val aggs: Seq[Column] = count(lit(1)).as("n_rows") +:
      valueCols.flatMap(c => Seq(
        count(col(c)).as(s"n_$c"),
        coalesce(sum(round(col(c) * 100).cast("long")), lit(0L)).as(s"s_$c")))
    val agg = SnapshotTable.read(spark, tableDir, Some(v))
      .groupBy(keys.map { case (src, st) => col(src).as(st) }: _*)
      .agg(aggs.head, aggs.tail: _*)
    commitView(spark, mvDir, agg, v)
    v
  }

  /** Advance the view to the table's current version by applying the
    * CDC delta (fromV, toV]: inserts and update POST-images add, deletes
    * and update PRE-images subtract — counts and cent-sums are all
    * signed INT64, so the merge is exact and order-free. Keys whose row
    * count reaches zero leave the view (an all-keys-zero refresh commits
    * the EMPTY view, which serves as zero rows). No-op (and no new view
    * version) when the view is already current. Returns
    * (fromVersion, toVersion).
    *
    * `tableKeyCol` is the TABLE's merge key (what
    * [[SnapshotTable.changes]] diffs rows by); `keyCol`/`keyCols` is the
    * VIEW's group key — they are usually different (a view groups by a
    * dimension, the table merges by its primary key). `ignoreCols`
    * forwards to [[SnapshotTable.changes]]: columns whose churn is not a
    * content change (typically the upsert's versionCol) — without it a
    * version-only rewrite emits cancelling update pre/post pairs, which
    * net to zero but inflate the delta with spurious rows.
    */
  def refresh(spark: SparkSession, tableDir: String, mvDir: String,
      tableKeyCol: String, keyCol: String, valueCol: String): (Long, Long) =
    refresh(spark, tableDir, mvDir, tableKeyCol, keyCol, Seq(valueCol), Nil)

  def refresh(spark: SparkSession, tableDir: String, mvDir: String,
      tableKeyCol: String, keyCol: String, valueCols: Seq[String],
      ignoreCols: Seq[String]): (Long, Long) =
    refreshImpl(spark, tableDir, mvDir, tableKeyCol, Seq(keyCol -> "key"),
      valueCols, ignoreCols)

  /** Multi-column group-key refresh — pair of the Seq `create`. */
  def refresh(spark: SparkSession, tableDir: String, mvDir: String,
      tableKeyCol: String, keyCols: Seq[String], valueCols: Seq[String],
      ignoreCols: Seq[String]): (Long, Long) =
    refreshImpl(spark, tableDir, mvDir, tableKeyCol, keyCols.map(c => c -> c),
      valueCols, ignoreCols)

  private def refreshImpl(spark: SparkSession, tableDir: String, mvDir: String,
      tableKeyCol: String, keys: Seq[(String, String)], valueCols: Seq[String],
      ignoreCols: Seq[String]): (Long, Long) = {
    require(keys.nonEmpty, "need at least one key column")
    validateCols(keys, valueCols)
    val keySrcs = keys.map(_._1)
    require(!(keySrcs.exists(ignoreCols.contains) ||
        valueCols.exists(ignoreCols.contains)),
      "ignoreCols cannot cover a view key or a value column — their " +
        "changes ARE the content the view maintains")
    val (v0, es, schema) = currentState(spark, mvDir)
    val v1 = SnapshotTable.currentVersion(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no snapshot table under $tableDir"))
    require(v1 >= v0, s"table at v$v1 is OLDER than the view's v$v0 — " +
      "was the table replaced? rebuild the view (a restore commits a NEW " +
      "version and refreshes fine)")
    if (v1 == v0) return (v0, v0)
    // a vacuum that dropped v0's manifest breaks the CDC base — fail
    // with the remedy, not the manifest log's bare missing-version error
    require(SnapshotTable.versions(spark, tableDir).contains(v0),
      s"the view reflects v$v0 but that version was vacuumed from " +
        s"$tableDir — the CDC delta can no longer be computed; rebuild " +
        "the view (delete it and create()), or keep vacuum retention " +
        "above the refresh cadence")
    val storedKeys = keys.map(_._2)
    val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    val deltaCols: Seq[Column] = sum(col("sg")).as("dn") +:
      valueCols.flatMap(c => Seq(
        sum(col(s"dnn_$c")).as(s"dnn_$c"),
        sum(col(s"ds_$c")).as(s"ds_$c")))
    val delta = SnapshotTable.changes(spark, tableDir, tableKeyCol, v0, v1,
        ignoreCols)
      .select(keys.map { case (src, st) => col(src).as(st) } ++
        (sign.as("sg") +:
          valueCols.flatMap(c => Seq(
            (sign * when(col(c).isNotNull, 1L).otherwise(0L)).as(s"dnn_$c"),
            (sign * coalesce(round(col(c) * 100).cast("long"), lit(0L)))
              .as(s"ds_$c")))): _*)
      .groupBy(storedKeys.map(col): _*)
      .agg(deltaCols.head, deltaCols.tail: _*)
    val old = readAgg(spark, es, schema).alias("o")
    val dl = delta.alias("d")
    // NULL-SAFE key equality: groupBy puts NULL groups in both sides;
    // a plain equality join would fail to merge them (two rows, one of
    // them stale). `<=>` per key column merges NULL with NULL.
    val joinCond = storedKeys.map(k => col(s"o.$k") <=> col(s"d.$k"))
      .reduce(_ && _)
    val mergedCols: Seq[Column] =
      storedKeys.map(k => coalesce(col(s"o.$k"), col(s"d.$k")).as(k)) ++
        ((coalesce(col("o.n_rows"), lit(0L)) + coalesce(col("d.dn"), lit(0L)))
          .as("n_rows") +:
          valueCols.flatMap(c => Seq(
            (coalesce(col(s"o.n_$c"), lit(0L)) + coalesce(col(s"d.dnn_$c"), lit(0L)))
              .as(s"n_$c"),
            (coalesce(col(s"o.s_$c"), lit(0L)) + coalesce(col(s"d.ds_$c"), lit(0L)))
              .as(s"s_$c"))))
    // coalesce picks the NON-NULL side's key for the output row; a
    // genuinely-NULL merged key coalesces NULL + NULL = NULL — correct
    val merged = old.join(dl, joinCond, "full_outer")
      .select(mergedCols: _*)
      .filter(col("n_rows") > 0)
    commitView(spark, mvDir, merged, v1)
    (v0, v1)
  }

  /** The view's aggregate, served from its CURRENT committed version:
    * (key columns, n_rows, then per value column `sum_<c>` and `avg_<c>`)
    * — sum = cents / 100; avg = sum / non-null count, NULL for a key with
    * no non-null values (`sum_<c>` too — SQL sum semantics). One double
    * division chain per cell, the same fixed order every engine replays.
    * An empty view serves zero rows under the full schema (the sentinel
    * carries it). Key and value columns are derived from the committed
    * schema: `s_`-prefixed fields name the value columns, unprefixed
    * non-`n_rows` fields are the keys (single-`keyCol` views store one
    * key field literally named `key`).
    */
  def serve(spark: SparkSession, mvDir: String): DataFrame = {
    val (_, es, schema) = currentState(spark, mvDir)
    val raw = readAgg(spark, es, schema)
    val valueCols = schema.fieldNames.toSeq
      .filter(_.startsWith("s_")).map(_.drop(2))
    val keyCols = schema.fieldNames.toSeq.filter(n =>
      n != "n_rows" && !n.startsWith("n_") && !n.startsWith("s_"))
    raw.select(keyCols.map(col) ++ (col("n_rows") +:
      valueCols.flatMap(c => Seq(
        when(col(s"n_$c") > 0, col(s"s_$c").cast("double") / 100.0)
          .as(s"sum_$c"),
        when(col(s"n_$c") > 0,
          col(s"s_$c").cast("double") / 100.0 / col(s"n_$c")).as(s"avg_$c")))): _*)
  }

  /** The snapshot version the current view reflects (freshness probe). */
  def reflectedVersion(spark: SparkSession, mvDir: String): Long =
    currentState(spark, mvDir)._1

  /** Reclaim old view versions and their unreferenced agg filesets
    * (crashed refreshes included) — [[FilesetLog.vacuum]]'s grace
    * contract, run by the single maintainer between refreshes. Returns
    * deleted paths. A long-lived view refreshed hourly otherwise
    * accumulates one superseded agg fileset per refresh.
    */
  def vacuumView(spark: SparkSession, mvDir: String, keepLast: Int = 1,
      graceMs: Long = SnapshotTable.DefaultVacuumGraceMs): Seq[String] =
    FilesetLog.vacuum(spark, mvDir, Seq("agg"), keepLast, graceMs)

  /** (reflected snapshot version, agg entries, agg schema) of the
    * CURRENT view version. The version sentinel is authoritative;
    * pre-sentinel manifests (agg entries only) fall back to the agg
    * tag + on-read schema — EXCEPT the pre-multi-aggregate `sum_cents`
    * layout, which is REJECTED loudly: serve() would silently drop its
    * aggregate column and refresh() would throw unresolved-column
    * errors mid-merge, so the honest answer is "rebuild", stated up
    * front.
    */
  private def currentState(spark: SparkSession,
      mvDir: String): (Long, Seq[FilesetLog.Entry], org.apache.spark.sql.types.StructType) = {
    val m = FilesetLog.current(spark, mvDir).getOrElse(
      throw new IllegalArgumentException(s"no view under $mvDir — create() first"))
    val all = FilesetLog.entries(spark, mvDir, m)
    val aggs = all.filter(_.kind == AggKind)
    all.find(_.kind == VersionKind) match {
      case Some(s) =>
        (s.tag.get, aggs, org.apache.spark.sql.types.DataType.fromJson(s.file)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      case None =>
        // legacy manifest: version rides the agg tags; schema from the files
        val v0 = aggs.flatMap(_.tag).distinct match {
          case Seq(t) => t
          case other => throw new IllegalStateException(
            s"view manifest must carry one snapshot version, got $other")
        }
        val schema = spark.read.parquet(aggs.map(_.file): _*).schema
        if (schema.fieldNames.contains("sum_cents"))
          throw new IllegalStateException(
            s"the view under $mvDir was written by a pre-multi-aggregate " +
              "version (sum_cents layout) — this version cannot serve or " +
              "refresh it faithfully; rebuild the view (delete the " +
              "directory and create() it against the current table)")
        (v0, aggs, schema)
    }
  }

  private def readAgg(spark: SparkSession, es: Seq[FilesetLog.Entry],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (es.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(es.map(_.file): _*)

  /** Streaming maintenance: tail a change-row feed (the
    * [[SnapshotTable.maintainStream]] shape — post-images plus
    * `_deleted` tombstones), upsert each micro-batch into the table AND
    * advance the view to the fresh version in the same foreachBatch —
    * the view is then CONTINUOUSLY fresh, one delta-sized refresh per
    * commit, never a rescan. Arrival batching is invisible: per-key
    * latest-wins makes the table content slicing-independent, and the
    * view's integer-cents algebra makes k incremental refreshes equal
    * one (or a from-scratch rebuild) exactly. The refresh delta ignores
    * `versionCol` churn (the upsert's own bookkeeping column, never view
    * content), so carry-over rewrites don't inflate it.
    */
  def maintainStream(spark: SparkSession, changesDir: String,
      schema: org.apache.spark.sql.types.StructType,
      tableDir: String, mvDir: String, tableKeyCol: String,
      versionCol: String, tieCol: String, keyCol: String, valueCol: String,
      checkpoint: String,
      maxFilesPerTrigger: Int = 1): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(changesDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // persist: the batch is consumed three times per trigger
        // (emptiness probe, prune-key distinct, merge) — read the feed
        // file once (the documented foreachBatch-reuse pattern)
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (!b.isEmpty) {
            SnapshotTable.upsert(b.sparkSession, tableDir, b,
              tableKeyCol, versionCol, tieCol)
            refresh(b.sparkSession, tableDir, mvDir,
              tableKeyCol, keyCol, Seq(valueCol), Seq(versionCol))
            ()
          }
        } finally { b.unpersist(); () }
      }
      .start()

  private def commitView(spark: SparkSession, mvDir: String, agg: DataFrame,
      snapshotV: Long): Unit = {
    val m = FilesetLog.current(spark, mvDir).getOrElse(0L)
    val files = FilesetLog.writeFileset(agg,
      FilesetLog.fileset(mvDir, "agg", m + 1))
    // the sentinel makes the commit self-describing even with ZERO agg
    // files (schema JSON is space-free; Entry parsing splits on at most
    // 3 fields anyway)
    FilesetLog.commit(spark, mvDir, m + 1,
      FilesetLog.Entry(VersionKind, snapshotV, agg.schema.json) +:
        files.map(FilesetLog.Entry(AggKind, snapshotV, _)))
  }
}
