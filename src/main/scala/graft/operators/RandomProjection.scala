package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Johnson-Lindenstrauss RANDOM-PROJECTION dimensionality reduction
  * with a hash-derived ±1 sign matrix — the cheap-ANN prelude that
  * shrinks an embedding column before indexing (a 4x dim cut is a 4x
  * cut in every downstream distance kernel, IVF list and PQ code).
  * The reference has no vector surface at all; this extends the
  * engine's embedding family (SURVEY §2).
  *
  * Determinism over randomness: the matrix entry s(i, j) is ±1 by
  * the first hex nibble of md5("graft-rp" + i + "x" + j) — a pure
  * function of the coordinates, so the projection is reproducible
  * across runs, engines and cluster layouts (no seeded RNG whose
  * stream order could differ), and a SQL oracle can rebuild the
  * identical matrix. Components are computed in INTEGER micro-units
  * (inputs e6-quantized first, then summed with ±1 weights), so the
  * distributed arithmetic is order-independent and hash-verifiable.
  *
  * Scale shape: entirely ROW-LOCAL — the sign matrix is compiled
  * into the expression as literal arrays (dIn x dOut ints; fine into
  * the thousands), each output component one zip_with + aggregate
  * over the input vector, no explode fan-out, no join, no shuffle.
  * For matrices too large to inline (say 4096x512), the alternative
  * is the broadcast-matrix join form: posexplode the vector, join
  * the (i, j, s) frame, one map-side-combined groupBy — one
  * exchange of ALREADY-REDUCED rows.
  */
object RandomProjection {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** dIn x dOut ±1 matrix; entry (i, j) is +1 iff the first hex
    * nibble of md5(seed + i + "x" + j) is 0-7 (P = 1/2 per entry).
    */
  def signMatrix(dIn: Int, dOut: Int,
                 seed: String = "graft-rp"): Array[Array[Int]] = {
    require(dIn > 0 && dOut > 0, s"need positive dims, got $dIn x $dOut")
    Array.tabulate(dIn, dOut) { (i, j) =>
      if ("01234567".contains(md5Hex(s"$seed${i}x$j").charAt(0))) 1 else -1
    }
  }

  /** Long-form reduced vectors: (idCol, j, comp_e6) — component j is
    * Σ_i round(x_i * 1e6) * s(i, j). Vectors whose length is not
    * `dIn`, null vectors, AND vectors containing null ELEMENTS are
    * all dropped — a ragged or holed input would silently project
    * garbage (and a null element would null the whole Spark sum
    * while SQL engines' sum() skips nulls, a cross-engine
    * divergence for the hash-verified oracle — r11 advice).
    */
  def reduce(embs: DataFrame, idCol: String, vecCol: String,
             dIn: Int, dOut: Int,
             seed: String = "graft-rp"): DataFrame = {
    val signs = signMatrix(dIn, dOut, seed)
    val xe = transform(col(vecCol),
      x => floor(x.cast("double") * 1000000.0 + lit(0.5)).cast("long"))
    val comps = array((0 until dOut).map { j =>
      val sCol = array(signs.map(row => lit(row(j).toLong)): _*)
      aggregate(zip_with(xe, sCol, (a, b) => a * b),
        lit(0L), (acc, v) => acc + v)
    }: _*)
    embs
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dIn &&
        !exists(col(vecCol), x => x.isNull))
      .select(col(idCol), posexplode(comps).as(Seq("j", "comp_e6")))
      .select(col(idCol), col("j").cast("int").as("j"), col("comp_e6"))
  }
}
