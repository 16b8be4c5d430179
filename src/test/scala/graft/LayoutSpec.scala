package graft

import graft.operators.Layout
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** The data-scan form the footer audit replaced: per-file row count
    * and min/max from grouping every row on its file, keyed by file
    * name.
    */
  private def scanSpans(path: String, cols: Seq[String]): Map[String, Row] = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    byName(spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*))
  }

  private def byName(spans: DataFrame): Map[String, Row] =
    spans.collect().map(r =>
      new Path(r.getString(0)).getName -> Row.fromSeq(r.toSeq.tail)).toMap

  /** Skippable-file count of a box filter over data-scan spans: a
    * file is skippable when its span misses the box on any column;
    * an unknown (null) span never is.
    */
  private def scanSkippable(spans: Map[String, Row], cols: Seq[String],
                            box: Map[String, (Double, Double)]): Long =
    spans.values.count { r =>
      box.exists { case (c, (lo, hi)) =>
        val i = 1 + 2 * cols.indexOf(c)
        !r.isNullAt(i) && (r.getAs[Number](i + 1).doubleValue < lo ||
          r.getAs[Number](i).doubleValue > hi)
      }
    }.toLong

  private def footer(file: String) =
    org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration, new Path(file),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)

  private def dataFile(dir: String): String =
    new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head

  test("footer spans equal the data-scan spans on a z-order write") {
    val cols = Seq("l_partkey", "l_suppkey", "l_extendedprice")
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"))
    val zDir = java.nio.file.Files.createTempDirectory("layout_fs").toString
    Layout.zorderWrite(li, Seq("l_partkey", "l_suppkey"), zDir, numFiles = 16)
    val ref = scanSpans(zDir, cols)
    val got = byName(Layout.fileSpans(spark, zDir, cols))
    assert(ref.size == 16)
    assert(got == ref)
    val mx = li.agg(max("l_partkey"), max("l_suppkey")).head()
    for (box <- Seq(
        Map("l_partkey" -> (0.45 * mx.getLong(0), 0.55 * mx.getLong(0))),
        Map("l_suppkey" -> (0.45 * mx.getLong(1), 0.55 * mx.getLong(1))),
        Map("l_partkey" -> (0.0, 0.3 * mx.getLong(0)),
          "l_extendedprice" -> (50000.0, 60000.0)))) {
      val (n, skip) = Layout.skippableFiles(spark, zDir, box)
      assert(n == 16)
      assert(skip == scanSkippable(ref, cols, box), box.toString)
    }
  }

  test("footer spans merge every row group of a file") {
    val cols = Seq("l_partkey", "l_quantity")
    val dir = java.nio.file.Files.createTempDirectory("layout_rg").toString
    Tables.lineitem(spark, sf0001).select("l_partkey", "l_quantity")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", 4096).parquet(dir)
    assert(footer(dataFile(dir)).getBlocks.size > 1,
      "expected several row groups under a 4 KB block size")
    val ref = scanSpans(dir, cols)
    assert(byName(Layout.fileSpans(spark, dir, cols)) == ref)
    val lo = ref.values.head.getAs[Number](1).doubleValue
    assert(Layout.skippableFiles(spark, dir, Map("l_partkey" -> (lo - 10, lo - 1))) == (1L, 1L))
    assert(Layout.skippableFiles(spark, dir, Map("l_partkey" -> (lo, lo))) == (1L, 0L))
  }

  test("a column without stats or with only nulls has a null span, never skippable") {
    val nullDir = java.nio.file.Files.createTempDirectory("layout_null").toString
    Seq[(Long, Option[Long])]((1L, None), (2L, None)).toDF("id", "x")
      .coalesce(1).write.mode("overwrite").parquet(nullDir)
    val noStatsDir = java.nio.file.Files.createTempDirectory("layout_nostats").toString
    Seq[(Long, Option[Long])]((1L, Some(5L)), (2L, Some(7L))).toDF("id", "x")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.column.statistics.enabled", "false").parquet(noStatsDir)
    val noStats = footer(dataFile(noStatsDir)).getBlocks.get(0).getColumns.get(1)
    assert(!noStats.getStatistics.hasNonNullValue, noStats.getStatistics.toString)
    for (dir <- Seq(nullDir, noStatsDir)) {
      val spans = Layout.fileSpans(spark, dir, Seq("x")).collect()
      assert(spans.length == 1)
      assert(spans(0).getLong(1) == 2L)
      assert(spans(0).isNullAt(2) && spans(0).isNullAt(3), spans(0).toString)
      // a box no row can match still skips nothing: the span is unknown
      assert(Layout.skippableFiles(spark, dir, Map("x" -> (100.0, 200.0))) == (1L, 0L))
    }
    // the all-null file agrees with the data scan; the no-stats file
    // has data the footer does not describe
    assert(byName(Layout.fileSpans(spark, nullDir, Seq("x"))) == scanSpans(nullDir, Seq("x")))
  }

  test("footer audit counts only files holding at least one row") {
    val dir = java.nio.file.Files.createTempDirectory("layout_empty").toString
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "x")
    df.repartition(2).write.mode("overwrite").parquet(dir)
    val emptyDir = java.nio.file.Files.createTempDirectory("layout_empty0").toString
    df.limit(0).write.mode("overwrite").parquet(emptyDir)
    val empty = dataFile(emptyDir)
    assert(footer(empty).getBlocks.isEmpty)
    java.nio.file.Files.copy(java.nio.file.Paths.get(empty),
      java.nio.file.Paths.get(dir, "part-99999-empty.parquet"))
    val ref = scanSpans(dir, Seq("x"))
    assert(ref.size == 2)
    assert(byName(Layout.fileSpans(spark, dir, Seq("x"))) == ref)
    assert(Layout.skippableFiles(spark, dir, Map("x" -> (0.0, 100.0))) == (2L, 0L))
  }

  test("layout_zorder at sf0.001: 16 files, the prune pattern, sound skips, exact n_match") {
    val rows = SparkEntry.queries("layout_zorder")(spark, sf0001).collect()
    assert(rows.map(r => (r.getAs[String]("layout"), r.getAs[String]("filter_dim"))).toSeq ==
      Seq(("linear_partkey", "l_partkey"), ("linear_partkey", "l_suppkey"),
        ("zorder", "l_partkey"), ("zorder", "l_suppkey")))
    assert(rows.forall(_.getAs[Long]("n_files") == 16L))
    assert(rows.map(_.getAs[Boolean]("prunes")).toSeq == Seq(true, false, true, true))
    assert(rows.forall(_.getAs[Boolean]("skip_sound")))
    val li = Tables.lineitem(spark, sf0001)
    for (r <- rows) {
      val dim = r.getAs[String]("filter_dim")
      val mx = li.agg(max(col(dim)).cast("double")).head().getDouble(0)
      val direct = li.filter(col(dim).cast("double") >= 0.45 * mx &&
        col(dim).cast("double") <= 0.55 * mx).count()
      assert(r.getAs[Long]("n_match") == direct, r.toString)
    }
  }

  test("zValue interleaves quantile buckets: grid neighbours get close z-values") {
    // 4x4 grid, one point per cell; bits=2 -> buckets are the cells
    val pts = (for { x <- 0 until 4; y <- 0 until 4 }
      yield (x * 10.0, y * 10.0)).toDF("x", "y")
    val z = pts.withColumn("z", Layout.zValue(pts, Seq("x", "y"), bits = 2))
      .collect().map(r => ((r.getDouble(0) / 10).toInt, (r.getDouble(1) / 10).toInt) -> r.getLong(2))
      .toMap
    // Morton order: all 16 z-values distinct, and the quadrant bit
    // pattern holds — every cell in the lower-left 2x2 quadrant sorts
    // below every cell in the upper-right quadrant
    assert(z.values.toSeq.distinct.size == 16)
    val lowerLeft = for { x <- 0 to 1; y <- 0 to 1 } yield z((x, y))
    val upperRight = for { x <- 2 to 3; y <- 2 to 3 } yield z((x, y))
    assert(lowerLeft.max < upperRight.min)
  }

  test("zValue guards dimensionality and bit budget") {
    val df = Seq((1.0, 2.0)).toDF("x", "y")
    intercept[IllegalArgumentException] { Layout.zValue(df, Seq("x")) }
    intercept[IllegalArgumentException] { Layout.zValue(df, Seq("x", "y"), bits = 32) }
  }

  test("z-order prunes on EVERY clustered dim; single-col sort fails its off dim") {
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val zDir = java.nio.file.Files.createTempDirectory("layout_z").toString
    val linDir = java.nio.file.Files.createTempDirectory("layout_lin").toString
    Layout.zorderWrite(li, Seq("l_partkey", "l_suppkey"), zDir, numFiles = 16)
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(linDir)
    // same logical rows in both layouts
    assert(spark.read.parquet(zDir).count() == li.count())
    def deciles(c: String) = {
      val Array(lo, hi) = li.stat.approxQuantile(c, Array(0.45, 0.55), 0.001)
      Map(c -> (lo, hi))
    }
    val (zTot, zSkipP) = Layout.skippableFiles(spark, zDir, deciles("l_partkey"))
    val (_, zSkipS) = Layout.skippableFiles(spark, zDir, deciles("l_suppkey"))
    val (lTot, lSkipP) = Layout.skippableFiles(spark, linDir, deciles("l_partkey"))
    val (_, lSkipS) = Layout.skippableFiles(spark, linDir, deciles("l_suppkey"))
    assert(zTot == 16 && lTot == 16)
    // the single-column sort is perfect on its own column and useless
    // on the other: every file spans the whole suppkey domain
    assert(lSkipP >= 12, s"linear partkey skip $lSkipP")
    assert(lSkipS == 0, s"linear suppkey skip $lSkipS")
    // z-order prunes BOTH dims; the worst dim decides mixed-workload
    // cost, so compare minima
    assert(zSkipP >= 4 && zSkipS >= 4, s"z skips: partkey $zSkipP suppkey $zSkipS")
    assert(math.min(zSkipP, zSkipS) > math.min(lSkipP, lSkipS))
  }

  test("compact merges a shattered directory to the target file count, conserving rows") {
    val docs = Tables.documents(spark, sf0001)
    val smallDir = java.nio.file.Files.createTempDirectory("graft_cs").toString
    docs.repartition(32).write.mode("overwrite").parquet(smallDir)
    val outDir = java.nio.file.Files.createTempDirectory("graft_co").toString
    val stats = Layout.compact(spark, smallDir, outDir, targetFileBytes = 1L << 20)
    assert(stats.filesIn == 32, stats.toString)
    // 50 tiny docs fit one 1 MB target file
    assert(stats.filesOut == 1, stats.toString)
    assert(stats.bytesOut > 0)
    val before = docs.select("doc_id").as[Long].collect().sorted.toSeq
    val after = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(after == before, "compaction changed the row set")
  }

  test("compact derives the output count from listed bytes (multi-file when over target)") {
    val docs = Tables.documents(spark, sf0001)
    val smallDir = java.nio.file.Files.createTempDirectory("graft_cs2").toString
    docs.repartition(8).write.mode("overwrite").parquet(smallDir)
    // absurdly small target: every output file capped at 4 KB of input
    val outDir = java.nio.file.Files.createTempDirectory("graft_co2").toString
    val stats = Layout.compact(spark, smallDir, outDir, targetFileBytes = 4096)
    assert(stats.filesOut > 1 && stats.filesOut <= 8, stats.toString)
  }

  test("compact refuses an empty directory loudly") {
    val empty = java.nio.file.Files.createTempDirectory("graft_ce").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ceo").toString
    val e = intercept[IllegalArgumentException] {
      Layout.compact(spark, empty, out)
    }
    assert(e.getMessage.contains("no data files"))
  }

  test("null values in a clustered column land in bucket 0 and do not crash") {
    val df = Seq((Some(1.0), 1.0), (None, 2.0), (Some(3.0), 3.0))
      .toDF("x", "y")
    val z = df.withColumn("z", Layout.zValue(df, Seq("x", "y"), bits = 2))
      .collect()
    assert(z.length == 3) // no NPE; null x contributes 0 bits
  }
}
