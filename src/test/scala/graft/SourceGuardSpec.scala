package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guards for call patterns that compile but cost too much,
  * or that break another caller on a shared session. */
class SourceGuardSpec extends AnyFunSuite {

  /** The argument lists of every call to `marker` (which ends in `(`) in
    * `code`, comments stripped first.
    */
  private def calls(code: String, marker: String): Seq[String] = {
    val bare = uncommented(code)
    Iterator.iterate(bare.indexOf(marker))(i => bare.indexOf(marker, i + 1))
      .takeWhile(_ >= 0).map { i =>
        val start = i + marker.length
        var (depth, j) = (1, start)
        while (depth > 0 && j < bare.length) {
          bare(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          j += 1
        }
        bare.substring(start, j - 1)
      }.toSeq
  }

  /** `code` with its comments removed. */
  private def uncommented(code: String): String =
    code.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  private def openCalls(code: String): Seq[String] = calls(code, "ParquetFileReader.open(")

  /** The top-level arguments of an argument list: split at commas outside
    * nested parentheses. */
  private def arguments(args: String): Seq[String] = {
    val (parts, last, _) = args.foldLeft((Vector.empty[String], "", 0)) {
      case ((done, cur, depth), ch) => ch match {
        case '(' => (done, cur + ch, depth + 1)
        case ')' => (done, cur + ch, depth - 1)
        case ',' if depth == 0 => (done :+ cur.trim, "", depth)
        case _ => (done, cur + ch, depth)
      }
    }
    parts :+ last.trim
  }

  private def oneArgument(args: String): Boolean = arguments(args).length == 1

  /** `parallelize(` calls whose slice count is the literal 1: rows the
    * driver already holds, shipped to one task to be collected back. */
  private def oneSliceParallelize(code: String): Seq[String] =
    calls(code, "parallelize(").filter(a => arguments(a).lift(1).contains("1"))

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  private def source(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("the scan tells a one-argument ParquetFileReader.open from one with read options") {
    val calls = openCalls(
      """val a = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        |// ParquetFileReader.open(in) in a comment is not a call
        |val b = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
        |  HadoopReadOptions.builder(conf).build())""".stripMargin)
    assert(calls.map(oneArgument) == Seq(true, false), calls)
  }

  test("src/main opens parquet footers with read options, never the one-argument open") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val offenders = scalaFiles(root).flatMap { f =>
      openCalls(source(f)).filter(oneArgument).map(a => s"${f.getPath}: open($a)")
    }
    // the one-argument open builds a fresh Hadoop Configuration per file
    // (~12 ms) — pass HadoopReadOptions.builder(conf), as
    // MetadataInspector.openReader does
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the scan finds parallelize calls with a literal slice count of 1") {
    val found = oneSliceParallelize(
      """sc.parallelize(rows, 1)
        |sc.parallelize(Seq(1, 2), math.max(1, n))
        |// sc.parallelize(rows, 1) in a comment is not a call
        |sc.parallelize(f(a, b), 1 )
        |sc.parallelize(rows)""".stripMargin)
    assert(found == Seq("rows, 1", "f(a, b), 1 "), found)
  }

  test("src/main/scala/graft/query builds driver-held rows as local relations, not one-slice RDDs") {
    val root = new java.io.File("src/main/scala/graft/query")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val offenders = scalaFiles(root).flatMap { f =>
      oneSliceParallelize(source(f)).map(a => s"${f.getPath}: parallelize($a)")
    }
    // a one-slice RDD of rows the driver holds costs a Spark job per
    // collect; createDataFrame(rows.asJava, schema) is a local relation
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the scan finds clearCache calls, not clearCache in comments") {
    val found = calls(
      """spark.catalog.clearCache()
        |// spark.catalog.clearCache() in a comment is not a call
        |/* nor in a block: spark.catalog.clearCache() */
        |session.sharedState.cacheManager.clearCache()""".stripMargin,
      "clearCache(")
    assert(found.length == 2, found)
  }

  test("only Bench clears the session cache in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val offenders = scalaFiles(root).filter(_.getName != "Bench.scala")
      .filter(f => calls(source(f), "clearCache(").nonEmpty).map(_.getPath)
    // Spark's CacheManager merges persists of equal plans into one entry,
    // so a clearCache (or an unpersist) issued while another graft query
    // runs drops that query's intermediates mid-job. Library code and
    // Verify's pool workers never clear; a caller clears at a barrier it
    // owns, as Bench does between sequential queries.
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("src/main has no process-global cache registry and no graft.tools package") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    assert(!new java.io.File(root, "graft/tools").exists(), "src/main/scala/graft/tools exists")
    val offenders = scalaFiles(root).flatMap { f =>
      val code = source(f)
      Seq("package graft.tools", "releaseCaches", "registeredCaches")
        .filter(code.contains).map(m => s"${f.getPath}: $m")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("src/main has one stats and keyset path, not one per key type") {
    // the key column's type decides the stats type
    // (SkippingIndex.statsTypeOf); a per-type copy of the walk, the attach
    // call or the footer fold drifts from the others
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val offenders = scalaFiles(root).flatMap { f =>
      val code = source(f)
      Seq("keysetWalkString", "keysetWalkMicros", "attachStatsString",
        "statsRowsString", "statsRowsMicros")
        .filter(code.contains).map(m => s"${f.getPath}: $m")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("src/main declares each gate once, in a gates table, not in queries and oracleSql maps") {
    // a gate is one Gate(name, oracle SQL, plan) row; SparkEntry derives
    // the queries and oracleSql maps from the joined table. A second map
    // keyed by gate name drifts from the table, and a repeated key in a
    // Map(...) silently drops a gate.
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val offenders = scalaFiles(root).filterNot(_.getName == "SparkEntry.scala").flatMap { f =>
      val code = source(f)
      Seq("val oracleSql", "def oracleSql", "val queries", "def queries")
        .filter(code.contains).map(m => s"${f.getPath}: $m")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("SnapshotTable reads a version's data files only through readFiles") {
    // readFiles builds the relation over the version's SnapshotFileIndex,
    // whose stats skip files; a second `spark.read...parquet(files)` read
    // path would scan every file it is given. Allowed parquet calls: the
    // writes, the bloom index reads, the change stream, readFiles' schema
    // inference for a manifest without a schema, and upsert's read of the
    // affected files it rewrites.
    val code = source(new java.io.File("src/main/scala/graft/operators/SnapshotTable.scala"))
    val allowed = Set("out", "tmp", "bp.toString", "bloomDir(dir, pv, column)", "changesDir",
      "files(spark, dir, v): _*", "affected.toSeq.sorted: _*")
    val offenders = calls(code, "parquet(").filterNot(allowed.contains)
    assert(offenders.isEmpty, offenders.map(a => s"parquet($a)").mkString("\n"))
    assert(calls(code, "parquetRelation(").length == 1, "readFiles builds every snapshot relation")
  }

  /** The markers of the manifest layout found in `code`, outside comments. */
  private def manifestLayout(code: String): Seq[String] =
    Seq("ManifestRe", "manifest/", "v%05d.manifest").filter(uncommented(code).contains)

  test("the scan finds the manifest layout in code, not in comments") {
    val found = manifestLayout(
      """private val ManifestRe = "x".r
        |// the manifest/ dir and v%05d.manifest in a comment are not code
        |def p(v: Long) = new Path(s"$dir/manifest/" + f"v$v%05d.manifest")""".stripMargin)
    assert(found == Seq("ManifestRe", "manifest/", "v%05d.manifest"), found)
    assert(manifestLayout("/* ManifestRe, manifest/ */ val a = 1").isEmpty)
  }

  test("only the manifest log lays out, lists and names manifests in src/main") {
    // FilesetLog is the one manifest log: a store that spells the layout
    // itself grows its own listing, read loop or vacuum beside it
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val offenders = scalaFiles(root).filter(_.getName != "FilesetLog.scala").flatMap { f =>
      manifestLayout(source(f)).map(m => s"${f.getPath}: $m")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the scan finds rename calls, not renames in comments") {
    val found = calls(
      """fs.rename(tmp, live)
        |// fs.rename(live, old) in a comment is not a call
        |if (!f.rename(new Path(a), new Path(b))) throw e""".stripMargin, ".rename(")
    assert(found == Seq("tmp, live", "new Path(a), new Path(b)"), found)
  }

  test("src/main renames only to publish a manifest, place an index or swap Tables.compact") {
    // a store that swaps directories by rename can lose its only committed
    // copy between the renames; stores commit through the manifest log
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val allowed = Set("ManifestCommit.scala", "SkippingIndex.scala", "SnapshotTable.scala",
      "Tables.scala")
    val offenders = scalaFiles(root).filterNot(f => allowed.contains(f.getName))
      .filter(f => calls(source(f), ".rename(").nonEmpty).map(_.getPath)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Files under `src` that contain `text`, with how often. */
  private def occurrences(text: String): Seq[(String, Int)] = {
    val root = new java.io.File("src")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    scalaFiles(root).map(f => f.getPath -> (source(f).split(
      java.util.regex.Pattern.quote(text), -1).length - 1)).filter(_._2 > 0)
  }

  test("GraftExtensions.localSession is the only session builder in src") {
    // Bench, Verify and the specs must run the plans users get; a second
    // builder drifts from the library defaults
    val found = occurrences("SparkSession" + ".builder(")
    assert(found == Seq("src/main/scala/graft/GraftExtensions.scala" -> 1), found)
  }

  test("the codegen cache size is set in GraftExtensions only") {
    val found = occurrences("codegen.cache" + ".maxEntries").map(_._1)
    assert(found == Seq("src/main/scala/graft/GraftExtensions.scala"), found)
  }
}
