package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guards for call patterns that compile but cost too much. */
class SourceGuardSpec extends AnyFunSuite {

  /** The argument lists of every `ParquetFileReader.open(` call in
    * `code`, comments stripped first.
    */
  private def openCalls(code: String): Seq[String] = {
    val bare = code.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val marker = "ParquetFileReader.open("
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

  /** Whether an argument list has a single argument: no comma outside
    * nested parentheses. */
  private def oneArgument(args: String): Boolean =
    args.foldLeft((0, 0)) { case ((depth, commas), ch) => ch match {
      case '(' => (depth + 1, commas)
      case ')' => (depth - 1, commas)
      case ',' if depth == 0 => (depth, commas + 1)
      case _ => (depth, commas)
    }}._2 == 0

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
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = scalaFiles(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      openCalls(src).filter(oneArgument).map(a => s"${f.getPath}: open($a)")
    }
    // the one-argument open builds a fresh Hadoop Configuration per file
    // (~12 ms) — pass HadoopReadOptions.builder(conf), as
    // MetadataInspector.openReader does
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
