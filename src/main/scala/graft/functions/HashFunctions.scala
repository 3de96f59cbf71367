package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shingling and LSH banding primitives for near-duplicate detection.
  * The MinHash and SimHash signatures themselves are native kernels
  * (graft.functions.expr.GraftFunctions); band keys hash with xxhash64,
  * the band index as an extra hashed column, which is how Spark's own
  * hash expressions mix multiple inputs.
  */
object HashFunctions {

  /** Word n-gram shingles (space-joined), lower-cased, distinct, sorted.
    * Native one-pass kernel (graft.functions.expr.WordShingles): the
    * builtin-composition equivalent (tokens→transform→slice→concat_ws→
    * array_distinct) measured ~1 ms/doc — 25× the kernel cost — and
    * dominated every similarity operator.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.expr.GraftFunctions.wordShingles(text, n)

  /** LSH band keys: signature sliced into `bands` bands of `rowsPerBand`,
    * each band hashed to one long; docs sharing ANY band key are candidate
    * near-duplicates. Returned as array<struct<band:int,key:bigint>> ready
    * to explode → groupBy(band,key) — the scalable O(n) candidate
    * generation (vs. O(n²) all-pairs).
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), concat_ws(",", transform(slice(sig, b * rowsPerBand + 1, rowsPerBand), _.cast("string")))).as("key"))
    }: _*)

  /** Hamming distance between two packed 64-bit signatures — a single
    * codegen'd expression (xor + popcount).
    */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Split a 64-bit simhash into `bands` equal bit-bands for LSH blocking:
    * two signatures within hamming distance < bands must share ≥1 band.
    */
  def simhashBands(sig: Column, bands: Int): Column = {
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(sig, b * width).bitwiseAND(mask).as("key"))
    }: _*)
  }
}
