package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-up generator for benchmark data beyond the driver-provided
  * scale factors: `runMain graft.ScaleUp <inDir> <outDir> <copies>
  * [table,table,...]` — the optional 4th arg regenerates only the
  * named tables (used when one table's physical convention changes:
  * the transforms are deterministic, so a partial regen is identical
  * to a full one restricted to those tables).
  *
  * Each copy k remaps every key family through the INTERLEAVE
  * bijection `new = old * copies + sigma_family(k)` (sigma a per-family
  * rotation of 0..copies-1), so the union is a k-times larger dataset
  * with the same join fan-outs and the same duplicate RATE (each copy
  * is an independent shard). Interleaving — rather than the block
  * shift `old + k * 1e8` used through r12 — makes the scaled key
  * domain DENSE and uniform over [0, copies * max], which is what a
  * genuinely bigger uniform generator produces. The block shift
  * produced `copies` key islands separated by ~1e8-wide voids, which
  * broke two statistical contracts at the scaled rungs (the r12
  * cross-rung replay's one declared entry, layout_zorder): partkey
  * and suppkey became block-correlated (both carried the same copy
  * offset, so a partkey sort accidentally clustered suppkey), and any
  * mid-domain range predicate fell into a void (n_match = 0). With
  * interleaving, two different key families in the same row agree only
  * in their residue mod `copies` — invisible to every range/box/sort
  * contract — and the per-family rotations de-phase even that residue.
  * Notes on the shards:
  *  - document text gets a copy-specific suffix on every word, so
  *    cross-copy shingle similarity is exactly zero — without it every
  *    doc would have `copies` near-identical twins and LSH pair counts
  *    would grow quadratically in `copies`, which is not how a bigger
  *    corpus behaves;
  *  - embeddings keep their vectors verbatim (ids shifted): the
  *    driver's own scale ladder grows pair counts quadratically
  *    (sf0.01 -> sf0.1 is 4x vectors, 15.6x pairs at cosine 0.4 — a
  *    denser sample of one fixed cluster distribution), and identity
  *    copies reproduce exactly that quadratic threshold-pair growth.
  *    A per-copy orthogonal sign-flip was tried and rejected: the
  *    vectors are low-intrinsic-dimension clusters, so flipped
  *    centroids re-align with other clusters at random and the
  *    cross-copy pair count became an arbitrary skewed constant
  *    instead of a model of anything;
  *  - nation/region (bounded dimensions) keep one copy, and their
  *    foreign keys are left unshifted everywhere.
  *
  * Dev tool for scaling experiments — not part of the library surface.
  */
object ScaleUp {
  /** Per-key-family rotation for the interleave residue: the same
    * family (both sides of a foreign key) MUST share one rotation or
    * joins break; distinct families get distinct rotations so no two
    * families' residues are in phase. The rotation is reduced mod
    * `copies` at use, so any distinct small integers work.
    */
  private val FamilyRot: Map[String, Int] = Map(
    "c_custkey" -> 1, "o_custkey" -> 1,
    "s_suppkey" -> 2, "l_suppkey" -> 2,
    "p_partkey" -> 3, "l_partkey" -> 3,
    "o_orderkey" -> 4, "l_orderkey" -> 4,
    "event_id" -> 5, "user_id" -> 6,
    "doc_id" -> 7, "vec_id" -> 8)

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val copies = args(2).toInt
    // rotations are reduced mod `copies`, so the documented de-phasing
    // property ("distinct families get distinct residue phases") only
    // holds when the reduced rotations stay pairwise distinct — i.e.
    // copies > max rotation (r13 advisor: at copies=4, c_custkey(1)
    // and event_id(5) would share a phase)
    require(copies > FamilyRot.values.max,
      s"copies must exceed ${FamilyRot.values.max} so per-family " +
        s"rotations stay pairwise distinct mod copies, got $copies")
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    def wanted(name: String): Boolean = only.isEmpty || only(name)
    val spark = GraftSession("graft-scale-up")

    def scaled(name: String, keyCols: Seq[String],
               transform: (DataFrame, Int) => DataFrame = (df, _) => df,
               outParts: Int = 4): Unit = if (wanted(name)) {
      val base = Tables.load(spark, inDir, name)
      val union = (0 until copies).map { k =>
        val shifted = keyCols.foldLeft(base) { (df, c) =>
          val rot = FamilyRot.getOrElse(c,
            sys.error(s"no key-family rotation registered for $c"))
          val residue = ((k + rot) % copies).toLong
          df.withColumn(c, col(c) * lit(copies.toLong) + lit(residue))
        }
        transform(shifted, k)
      }.reduce(_ unionAll _)
      union.repartition(outParts)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name x$copies written")
    }

    // bounded dimensions: single copy, unshifted keys
    Seq("region", "nation").filter(wanted).foreach { name =>
      Tables.load(spark, inDir, name).write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name copied")
    }

    scaled("customer", Seq("c_custkey"))
    scaled("supplier", Seq("s_suppkey"))
    scaled("part", Seq("p_partkey"))
    scaled("orders", Seq("o_orderkey", "o_custkey"))
    scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), outParts = 16)
    // events: keep timestamps (session/window distributions), shift ids.
    // Written as TIMESTAMP(MICROS) without UTC adjustment (timestamp_ntz)
    // — the driver generation's own physical convention, which
    // Tables.events normalizes identically at every rung. The first
    // ladder generation wrote int64 nanos instead (to exercise
    // Tables.events' long branch); that made `ts` a BIGINT to any
    // engine reading the raw parquet, so every DuckDB oracle using
    // date_trunc/epoch on events failed at the scaled rungs — 7 of the
    // 13 r12 cross-rung failures were this one schema drift. The
    // oracle contract is over the DRIVER's logical schema; the ladder
    // must present the same one. (The long branch stays covered by
    // TablesSpec.)
    scaled("events", Seq("event_id", "user_id"),
      (df, _) => df.withColumn("ts", col("ts").cast("timestamp_ntz")),
      outParts = 8)
    scaled("documents", Seq("doc_id"), (df, k) =>
      if (k == 0) df
      else df
        .withColumn("text",
          regexp_replace(col("text"), "([A-Za-z0-9]+)", "$1x" + k))
        .withColumn("n_chars", length(col("text")).cast("long")))
    scaled("embeddings", Seq("vec_id"))

    spark.stop()
  }
}
