package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MinHash and SimHash signatures as pure column expressions.
  *
  * Both signatures are computed row-locally in one pass (no shuffle,
  * no fitted model): the k "hash functions" of classic MinHash are
  * xxhash64 salted with the permutation index. Candidate generation
  * then needs exactly ONE shuffle on (band, bucket-hash) — the
  * standard LSH plan that stays O(n·bands) at 100 TB instead of the
  * O(n²) all-pairs comparison.
  */
object HashFunctions {

  /** LSH band buckets for a MinHash signature: hash of each
    * contiguous `rowsPerBand`-slice. Returns array<struct<band:int,
    * bucket:bigint>> ready to explode + shuffle on.
    */
  def minhashBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.cast("int").as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("bucket")))

  /** Estimated Jaccard similarity = fraction of agreeing signature
    * positions.
    */
  def minhashEstimate(sigA: Column, sigB: Column, perms: Int): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x))
      .cast("double") / lit(perms.toDouble)

  // NOTE: signature COMPUTATION lives in Dedup.minhashSignatures /
  // simhashSignatures (explode + wide-aggregate shape). The nested-
  // lambda column formulations that used to live here re-evaluated
  // the token expression per permutation, fell out of whole-stage
  // codegen, and were ~1000x slower — don't resurrect them.

  /** Hamming distance between two packed 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit band values of a 64-bit simhash (4 bands): two signatures
    * within hamming distance 3 share at least one identical band
    * (pigeonhole), so bucketing by band finds all such pairs with one
    * shuffle.
    */
  def simhashBands(sig: Column): Column =
    transform(sequence(lit(0), lit(3)),
      b => struct(
        b.cast("int").as("band"),
        call_function("shiftright", sig, b.cast("int") * 16).bitwiseAND(lit(0xFFFFL)).as("bucket")))
}
