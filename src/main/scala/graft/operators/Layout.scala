package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-dimensional data LAYOUT: Z-order (Morton) clustering, so a
  * scan filtered on ANY of the clustered columns skips most files via
  * parquet footer min/max stats. Sorting by a single column makes
  * that column's ranges tight per file but leaves every other
  * column's range spanning the whole domain; interleaving the bits of
  * quantile-bucketed column values gives every clustered column
  * locality at once — the standard lakehouse layout for
  * multi-dimensional point/range lookups over data too large to
  * index. The trade is explicit: on a filter over the single sorted
  * column a plain sort prunes best; z-order is for the MIXED
  * workload, where queries arrive filtered on any one of (or several
  * of) the clustered columns and the worst-case dimension decides
  * scan cost.
  *
  * The z-value is codegen'd end to end: the quantile bucketing is the
  * native `graft_bucket` kernel (a binary search over the boundary
  * array), the bit interleave is shift/mask arithmetic. The only
  * driver work is one `approxQuantile` pass (bounded: `2^bits - 1`
  * doubles per column) to learn boundaries — the same sketch a
  * warehouse keeps in table stats; quantile bucketing (rather than
  * min/max linear scaling) keeps the grid occupancy uniform under
  * skew.
  *
  * The layout audit ([[footerSpans]], [[fileSpans]],
  * [[skippableFiles]]) reads only parquet footers: the per-row-group
  * min/max statistics that footer pruning itself consults, with no
  * Spark job.
  *
  * At 100 TB: `zorderWrite`'s range partition on the z-value is one
  * shuffle; each output task writes one z-contiguous file. Re-cluster
  * cadence is an operational choice (the layout degrades as appends
  * arrive, like any clustered table).
  */
object Layout {

  /** Quantile boundaries for every column in ONE sketch pass
    * (`2^bits - 1` interior cut points each): the multi-column
    * `approxQuantile` overload scans the frame once for all columns,
    * where per-column calls would pay D full scans.
    */
  private def boundaries(df: DataFrame, cols: Seq[String],
                         bits: Int): Seq[Array[Double]] = {
    val n = (1 << bits) - 1
    val probs = (1 to n).map(_.toDouble / (1 << bits)).toArray
    df.stat.approxQuantile(cols.toArray, probs, 0.001).toSeq
  }

  /** Bucket index of `c` in [0, 2^bits): the number of boundaries
    * STRICTLY below the value (the `graft_bucket` kernel). Strict
    * comparison matters for discrete columns: duplicated values make
    * quantile boundaries coincide with the values themselves, and `>=`
    * would merge a boundary value with the bucket above it.
    */
  private def bucketExpr(c: Column, bs: Array[Double]): Column =
    call_function("graft_bucket", c.cast("double"), lit(bs))

  /** Morton interleave of per-column bucket indexes: bit i of
    * dimension d lands at position `i * D + d`. Pure shift/mask
    * column arithmetic, bits*D <= 63.
    */
  private def interleave(buckets: Seq[Column], bits: Int): Column = {
    val d = buckets.length
    val terms = for {
      i <- 0 until bits
      (b, dim) <- buckets.zipWithIndex
    } yield shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)),
      i * d + dim)
    terms.reduce(_ + _)
  }

  /** The z-value column for `cols`, learning quantile grids from the
    * frame itself. Null values sort to bucket 0 (below every
    * boundary, since null comparisons are false).
    */
  def zValue(df: DataFrame, cols: Seq[String], bits: Int = 8): Column = {
    require(cols.size >= 2, "z-ordering one column is just a sort")
    require(cols.size * bits <= 63,
      s"${cols.size} cols x $bits bits overflows a long z-value")
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val bs = boundaries(df, cols, bits)
    interleave(cols.zip(bs).map { case (c, b) => bucketExpr(col(c), b) }, bits)
  }

  /** Rewrite `df` as `numFiles` parquet files clustered by the
    * z-order of `cols`: range-partition on the z-value (one shuffle;
    * RangePartitioner's reservoir sample is seeded, so the layout is
    * reproducible), sort within each partition, write. Each file
    * covers a contiguous z-range, so its footer min/max on EVERY
    * clustered column spans ~1/numFiles^(1/D) of that column's
    * domain.
    */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
                  numFiles: Int, bits: Int = 8): Unit =
    df.withColumn("__z", zValue(df, cols, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Before/after footprint of a [[compact]] run. */
  final case class CompactionStats(filesIn: Long, bytesIn: Long,
                                   filesOut: Long, bytesOut: Long)

  /** The data files of a flat parquet directory (no `_SUCCESS`-style
    * metadata or hidden files).
    */
  private def dataFiles(spark: SparkSession, dir: String): Array[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Small-file compaction — the maintenance pass every streaming
    * sink needs: a file-source stream committing a batch per trigger
    * leaves thousands of KB-sized parquet files, and at 100 TB the
    * scan cost of a table is dominated by file-open/footer overhead
    * long before data volume. Rewrites `inPath` into
    * ~`targetFileBytes` files: the output file count derives from the
    * LISTED on-disk bytes (no data scan), and the rewrite is a
    * `coalesce` — merging adjacent scan partitions without a shuffle,
    * which is the point: compaction moves every byte once, through
    * no exchange.
    *
    * Flat directories only (a hive-partitioned table compacts per
    * partition directory — run one pass per partition, which also
    * keeps each rewrite's failure domain small).
    */
  def compact(spark: SparkSession, inPath: String,
              outPath: String, targetFileBytes: Long = 128L << 20): CompactionStats = {
    require(targetFileBytes > 0, s"targetFileBytes must be > 0, got $targetFileBytes")
    val in = dataFiles(spark, inPath)
    require(in.nonEmpty, s"$inPath has no data files to compact")
    val bytesIn = in.map(_.getLen).sum
    val nOut = math.max(1L, (bytesIn + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(inPath)
      .coalesce(nOut)
      .write.mode("overwrite").parquet(outPath)
    val out = dataFiles(spark, outPath)
    CompactionStats(in.length.toLong, bytesIn, out.length.toLong, out.map(_.getLen).sum)
  }

  /** One parquet file's footer statistics for the audited columns:
    * its row count and, per column, [min, max] over all its row
    * groups. A span is None when some row group wrote no min/max
    * statistics, or when the column holds only nulls: a footer-pruned
    * scan cannot skip such a file on that column.
    */
  final case class FileSpan(file: String, rows: Long,
                            spans: Map[String, Option[(Number, Number)]]) {
    /** Footer pruning may skip this file for `lo <= c <= hi`: its
      * whole [min, max] span of `c` lies outside the interval.
      */
    def misses(c: String, lo: Double, hi: Double): Boolean =
      spans(c).exists { case (mn, mx) => mx.doubleValue < lo || mn.doubleValue > hi }
  }

  /** Spark type of a footer column. Spans cover the plain numeric
    * columns box filters run on; any other encoding fails loudly
    * rather than have its statistics guessed at.
    */
  private def statType(c: String, t: PrimitiveType): DataType =
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (PrimitiveTypeName.INT32, null) => IntegerType
      case (PrimitiveTypeName.INT32, i: IntLogicalTypeAnnotation)
          if i.isSigned && i.getBitWidth == 32 => IntegerType
      case (PrimitiveTypeName.INT64, null) => LongType
      case (PrimitiveTypeName.INT64, i: IntLogicalTypeAnnotation)
          if i.isSigned && i.getBitWidth == 64 => LongType
      case (PrimitiveTypeName.FLOAT, null) => FloatType
      case (PrimitiveTypeName.DOUBLE, null) => DoubleType
      case _ => throw new IllegalArgumentException(
        s"no footer span for column $c of parquet type $t: spans cover " +
          "int, long, float and double columns")
    }

  /** The Spark types of `cols` and the footer spans of every file of
    * the flat directory `path` that holds at least one row. Reads only
    * the footers (`readFooter`: no data pages, no Spark job).
    */
  private def readSpans(spark: SparkSession, path: String,
                        cols: Seq[String]): (Seq[DataType], Seq[FileSpan]) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(spark, path).sortBy(_.getPath.getName).toSeq
    require(files.nonEmpty, s"$path has no data files to audit")
    val read = files.map { st =>
      val footer = ParquetFileReader.readFooter(conf, st, ParquetMetadataConverter.NO_FILTER)
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks.asScala.toSeq
      val types = cols.map { c =>
        require(schema.containsField(c), s"${st.getPath} has no column $c")
        statType(c, schema.getFields.get(schema.getFieldIndex(c)).asPrimitiveType())
      }
      val spans = cols.map { c =>
        val chunks = blocks.map(_.getColumns.asScala
          .find(_.getPath.toDotString == c).get.getStatistics)
        val span =
          if (chunks.isEmpty || chunks.exists(s => s == null || s.isEmpty)) None
          else {
            val merged = chunks.reduce { (a, b) => a.mergeStatistics(b); a }
            if (merged.hasNonNullValue)
              Some((merged.genericGetMin.asInstanceOf[Number],
                merged.genericGetMax.asInstanceOf[Number]))
            else None
          }
        c -> span
      }
      (types, FileSpan(st.getPath.toString, blocks.map(_.getRowCount).sum, spans.toMap))
    }
    (read.head._1, read.map(_._2).filter(_.rows > 0))
  }

  /** Footer spans of `cols` for every file under the flat directory
    * `path` that holds at least one row — the stats a parquet
    * reader's footer pruning consults, read without a data scan.
    */
  def footerSpans(spark: SparkSession, path: String,
                  cols: Seq[String]): Seq[FileSpan] =
    readSpans(spark, path, cols)._2

  /** Per-file min/max spans of `cols` under `path`, from the parquet
    * footers ([[footerSpans]]) as a frame, so layouts can be audited
    * (and asserted on in specs). One row per file holding at least
    * one row: (file, n_rows, <c>_min, <c>_max ...); a column with no
    * usable statistics in a file has null min and max.
    */
  def fileSpans(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    val (types, spans) = readSpans(spark, path, cols)
    val schema = StructType(
      Seq(StructField("file", StringType), StructField("n_rows", LongType)) ++
        cols.zip(types).flatMap { case (c, t) =>
          Seq(StructField(s"${c}_min", t), StructField(s"${c}_max", t))
        })
    val rows = spans.map { f =>
      Row.fromSeq(Seq(f.file, f.rows) ++ cols.flatMap { c =>
        f.spans(c).fold(Seq[Any](null, null)) { case (mn, mx) => Seq(mn, mx) }
      })
    }
    spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** How many of `path`'s files a conjunctive box filter
    * `lo(c) <= c <= hi(c)` could skip on footer stats alone:
    * files whose [min, max] span misses the box on ANY clustered
    * column (a file without a span on a column never counts as
    * skippable on it). Returns (n_files, n_skippable).
    */
  def skippableFiles(spark: SparkSession, path: String,
                     box: Map[String, (Double, Double)]): (Long, Long) = {
    val spans = footerSpans(spark, path, box.keys.toSeq)
    val skippable = spans.count(f =>
      box.exists { case (c, (lo, hi)) => f.misses(c, lo, hi) })
    (spans.size.toLong, skippable.toLong)
  }
}
