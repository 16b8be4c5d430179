package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from
  * codegen'd higher-order functions (`zip_with` / `aggregate`) — no
  * UDFs, so the expressions stay inside whole-stage codegen and
  * columnar scans prune to just the embedding column.
  */
object VectorFunctions {

  /** Sum of an array<double> column via a sequential fold (matches
    * left-to-right summation order on the oracle side).
    */
  def arraySum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column =
    arraySum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  def norm2(a: Column): Column =
    arraySum(transform(a, x => x.cast("double") * x.cast("double")))

  /** Cosine similarity, shaped as dot / sqrt(na * nb) to mirror
    * DuckDB's list_cosine_similarity evaluation exactly. Zero-norm
    * inputs yield NaN (matching graft_cosine) — a bare division
    * would abort the whole query under ANSI mode's DIVIDE_BY_ZERO.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = sqrt(norm2(a) * norm2(b))
    when(denom === 0.0, lit(Double.NaN)).otherwise(dot(a, b) / denom)
  }
}
