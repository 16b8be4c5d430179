package graft.queries

import graft.Tables
import graft.operators.Layout
import graft.queries.Money.{m, discounted, rsum, msum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout surface: Z-order clustering demo over lineitem and
  * small-file compaction over documents. layout_zorder's subject is
  * file LAYOUT (which parquet files a footer-pruned scan could skip),
  * which DuckDB over the same logical rows cannot express: its oracle
  * pins the layout facts as literals and recomputes only the filter
  * selectivity, and LayoutSpec carries the per-file assertions.
  * layout_compact hash-verifies: its output is read from the
  * compacted COPY, so the oracle over the original table proves
  * row conservation.
  */
object LayoutQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Written layouts are built once per (data dir, JVM) — the same
    * memoized-fixture pattern as the stored ANN indexes (per-query
    * construction would leak temp dirs and put the rewrite inside the
    * bench's timed window).
    */
  private val layoutCache = scala.collection.mutable.Map.empty[String, (String, String)]
  private def layoutDirs(s: SparkSession, d: String): (String, String) =
    layoutCache.synchronized {
      layoutCache.getOrElseUpdate(d, {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"))
        val zDir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
        Layout.zorderWrite(li, Seq("l_partkey", "l_suppkey"), zDir, numFiles = 16)
        // the single-column-sort strawman every warehouse starts from:
        // tight l_partkey spans per file, l_suppkey spans the domain
        val linDir = java.nio.file.Files.createTempDirectory("graft_linear").toString
        li.repartitionByRange(16, col("l_partkey"))
          .sortWithinPartitions("l_partkey")
          .write.mode("overwrite").parquet(linDir)
        (zDir, linDir)
      })
    }

  /** Compacted-copy fixture: documents shattered into 64 tiny files
    * (a streaming sink's typical debris), compacted once per (data
    * dir, JVM). The query then reads the COMPACTED copy, so the
    * DuckDB oracle over the original table hash-verifies that
    * compaction moved every row and invented none; the file-count
    * mechanics are asserted in LayoutSpec.
    */
  private val compactCache = scala.collection.mutable.Map.empty[String, String]
  private def compactedDir(s: SparkSession, d: String): String =
    compactCache.synchronized {
      compactCache.getOrElseUpdate(d, {
        val smallDir = java.nio.file.Files.createTempDirectory("graft_small").toString
        Tables.documents(s, d).repartition(64)
          .write.mode("overwrite").parquet(smallDir)
        val outDir = java.nio.file.Files.createTempDirectory("graft_compact").toString
        Layout.compact(s, smallDir, outDir, targetFileBytes = 1L << 20)
        outDir
      })
    }

  /** Hive-partitioned star fixture: orders written PARTITIONED BY
    * order month, plus a tiny month-dimension parquet (month →
    * quarter attribute). Built once per (data dir, JVM). The month
    * count is bounded (dates span 1995-2001), so the partition fan-out
    * is warehouse-realistic, not pathological.
    */
  private val partitionCache = scala.collection.mutable.Map.empty[String, (String, String)]
  private def partitionedDirs(s: SparkSession, d: String): (String, String) =
    partitionCache.synchronized {
      partitionCache.getOrElseUpdate(d, {
        val factDir = java.nio.file.Files.createTempDirectory("graft_part_fact").toString
        val withMonth = Tables.orders(s, d)
          .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
        withMonth.write.mode("overwrite").partitionBy("om").parquet(factDir)
        val dimDir = java.nio.file.Files.createTempDirectory("graft_part_dim").toString
        withMonth.select(col("om"),
            concat(year(col("o_orderdate")), lit("-Q"),
              quarter(col("o_orderdate"))).as("qtr"))
          .distinct()
          .write.mode("overwrite").parquet(dimDir)
        (factDir, dimDir)
      })
    }

  /** Bucketed-table fixture: lineitem and orders written as EXTERNAL
    * bucketed tables on the order key (16 buckets, sorted), once per
    * (data dir, JVM). Orders' key is renamed to match — bucketed
    * joins require identical bucket specs on both sides.
    */
  private val bucketCache = scala.collection.mutable.Map.empty[String, (String, String)]
  private def bucketedTables(s: SparkSession, d: String): (String, String) =
    bucketCache.synchronized {
      // the cache is JVM-scoped but the catalog registration is
      // SparkContext-scoped: a second session in the same JVM (the
      // determinism harness' speculation pass found this) would reuse
      // the name and hit TABLE_OR_VIEW_NOT_FOUND — rebuild when the
      // current catalog doesn't know the table
      bucketCache.get(d).filterNot { case (liT, _) =>
        s.catalog.tableExists(liT)
      }.foreach(_ => bucketCache.remove(d))
      bucketCache.getOrElseUpdate(d, {
        val suffix = (d.hashCode & Int.MaxValue).toString
        val (liT, ordT) = (s"li_bucketed_$suffix", s"ord_bucketed_$suffix")
        val liDir = java.nio.file.Files.createTempDirectory("graft_bli").toString
        val ordDir = java.nio.file.Files.createTempDirectory("graft_bord").toString
        graft.operators.Bucketing.writeBucketed(
          Tables.lineitem(s, d).select(col("l_orderkey"),
            col("l_extendedprice"), col("l_discount")),
          liT, Seq("l_orderkey"), numBuckets = 16, path = Some(liDir))
        graft.operators.Bucketing.writeBucketed(
          Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
            col("o_orderstatus")),
          ordT, Seq("l_orderkey"), numBuckets = 16, path = Some(ordDir))
        (liT, ordT)
      })
    }

  val queries: Map[String, Q] = Map(
    // Exchange-free fact-fact join: both sides pre-bucketed on the
    // join key, so the sort-merge join reads already-hash-bucketed
    // files and the ONLY exchange in the query is the final small
    // aggregation (PlanSpec asserts the elision). At 100 TB this is
    // the difference between re-shuffling the fact table per join and
    // never shuffling it at all — the write's one shuffle is
    // amortized over every downstream join on the key.
    "layout_bucketed_join" -> ((s, d) => {
      val (liT, ordT) = bucketedTables(s, d)
      graft.operators.Bucketing.bucketedJoin(s, liT, ordT, Seq("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          rsum(discounted(col("l_extendedprice"), col("l_discount")))
            .as("revenue"))
        .orderBy(col("o_orderstatus"))
    }),

    // Dynamic partition pruning: the fact is partitioned on order
    // month, the filter arrives on the DIMENSION's quarter attribute —
    // static pruning cannot see it, so Catalyst injects the broadcast
    // dim's month set as a runtime partition filter and the fact scan
    // reads 3 of ~80 month directories (PlanSpec asserts the
    // dynamicpruning expression). THE mechanism that makes a
    // 1000-executor star join read 1/28th of a date-partitioned fact.
    "layout_partition_prune" -> ((s, d) => {
      val (factDir, dimDir) = partitionedDirs(s, d)
      val dim = s.read.parquet(dimDir).filter(col("qtr") === "1996-Q2")
      s.read.parquet(factDir)
        .join(broadcast(dim), Seq("om"))
        .groupBy(col("om"))
        .agg(count(lit(1)).as("n_orders"),
          msum(col("o_totalprice")).as("total_price"))
        .orderBy(col("om"))
    }),

    // Conservation check over the compacted copy: per-source counts,
    // char mass and id checksum must equal the original table's.
    "layout_compact" -> ((s, d) => {
      s.read.parquet(compactedDir(s, d))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("n_ids"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          sum(col("doc_id")).cast("long").as("sum_ids"))
        .orderBy(col("source"))
    }),

    // The mixed-workload trade in numbers: a middle-decile filter on
    // EACH clustered column separately. The partkey-sorted layout
    // prunes partkey filters and suppkey filters not at all (every
    // file spans the whole suppkey domain); z-order prunes on BOTH —
    // the worst-case dimension decides scan cost when queries arrive
    // on either column.
    //
    // r10 oracle upgrade — every output column is SQL-derivable:
    //  - the filter span is [0.45, 0.55] x max(dim) (exact max, not
    //    approxQuantile, so DuckDB lands on the identical box; the
    //    keys are ~uniform so it is still a middle-decile filter);
    //  - n_files is 16 by construction (both writers fix 16
    //    partitions) — a writer regression fails the gate;
    //  - prunes: which (layout, dim) combinations skip at least one
    //    file — the layout claim itself (linear prunes only its sort
    //    column; z-order prunes both);
    //  - skip_sound: zero rows matching the filter live in any file
    //    the footer stats said was skippable (scanned and counted,
    //    not assumed);
    //  - n_match hash-verifies the span's selectivity against DuckDB
    //    (and, since it is counted off the layout COPY, that the
    //    rewrite conserved the filtered rows).
    // The raw per-layout skip COUNTS stay in SCALING.md/LayoutSpec —
    // pinning them in an oracle would couple the gate to the data
    // generator's key distribution rather than to the layout claims.
    //
    // RUNG SCOPE, resolved (r12 finding, r13 fix): the `prunes`
    // literals hold for ~uniform, INDEPENDENT key domains — the
    // driver generator's contract. ScaleUp's former block offsets
    // (key + k*1e8) violated it two ways at the scaled rungs —
    // partkey/suppkey block-correlated (a partkey sort accidentally
    // clustered suppkey, flipping "linear prunes only its sort
    // column") and the [0.45, 0.55] x max(dim) span falling into an
    // inter-island void (n_match = 0) — so r12 DECLARED the contract
    // driver-rung-scoped. r13 fixed the GENERATOR instead of the
    // contract: ScaleUp now interleaves (key * copies + per-family
    // rotation), giving dense uniform de-correlated scaled domains,
    // and the contract binds un-declared at every rung (sf10 replay
    // green; removed from crossrung_compare.py's scoped set).
    "layout_zorder" -> ((s, d) => {
      import s.implicits._
      val (zDir, linDir) = layoutDirs(s, d)
      val li = Tables.lineitem(s, d)
      val mx = li.agg(max(col("l_partkey")).cast("double"),
        max(col("l_suppkey")).cast("double")).head()
      val dims = Seq("l_partkey" -> (0.45 * mx.getDouble(0), 0.55 * mx.getDouble(0)),
        "l_suppkey" -> (0.45 * mx.getDouble(1), 0.55 * mx.getDouble(1)))
      val layouts = Seq("linear_partkey" -> linDir, "zorder" -> zDir)
      // The footers say which files each filter may skip (no Spark
      // job); ONE scan over both layouts then counts, per (layout,
      // dim), the rows in the box and those of them living in a file
      // the footers called skippable. The scan applies no filter, so
      // parquet pushdown cannot prune the very files under audit.
      val combos = for {
        (layout, dir) <- layouts
        spans = Layout.footerSpans(s, dir, dims.map(_._1))
        (dim, (lo, hi)) <- dims
      } yield (layout, dim, lo, hi, spans.size.toLong, spans
        .filter(_.misses(dim, lo, hi))
        .map(f => new org.apache.hadoop.fs.Path(f.file).getName))
      val counts = combos.flatMap { case (layout, dim, lo, hi, _, skipped) =>
        val hit = col("layout") === layout &&
          col(dim).cast("double") >= lo && col(dim).cast("double") <= hi
        Seq(count_if(hit), count_if(hit && col("file").isin(skipped: _*)))
      }
      val dimSchema = org.apache.spark.sql.types.StructType(dims.map(x => li.schema(x._1)))
      val counted = layouts.map { case (layout, dir) =>
        s.read.schema(dimSchema).parquet(dir)
          .withColumn("layout", lit(layout))
          .withColumn("file", col("_metadata.file_name"))
      }.reduce(_ union _)
        .agg(counts.head, counts.tail: _*).head()
      combos.zipWithIndex.map { case ((layout, dim, _, _, nFiles, skipped), i) =>
        (layout, dim, nFiles, skipped.nonEmpty,
          counted.getLong(2 * i + 1) == 0L, counted.getLong(2 * i))
      }.toDF("layout", "filter_dim", "n_files", "prunes", "skip_sound", "n_match")
        .orderBy(col("layout"), col("filter_dim"))
    }))

  val oracles: Map[String, String] = Map(
    // Span selectivity recomputed on the ORIGINAL table (the Spark
    // side counts off the layout copies — row conservation rides the
    // same check); layout facts (16 files, which combinations prune,
    // skip soundness) are literals derived in the query comment.
    "layout_zorder" ->
      """WITH mx AS (SELECT max(l_partkey) AS pk, max(l_suppkey) AS sk
        |            FROM lineitem),
        |m AS (SELECT
        |  (SELECT count(*) FROM lineitem, mx
        |   WHERE l_partkey >= 0.45 * pk AND l_partkey <= 0.55 * pk) AS pk_n,
        |  (SELECT count(*) FROM lineitem, mx
        |   WHERE l_suppkey >= 0.45 * sk AND l_suppkey <= 0.55 * sk) AS sk_n)
        |SELECT layout, filter_dim, CAST(16 AS BIGINT) AS n_files, prunes,
        |  true AS skip_sound, n_match
        |FROM (
        |  SELECT 'linear_partkey' AS layout, 'l_partkey' AS filter_dim,
        |    true AS prunes, pk_n AS n_match FROM m
        |  UNION ALL
        |  SELECT 'linear_partkey', 'l_suppkey', false, sk_n FROM m
        |  UNION ALL
        |  SELECT 'zorder', 'l_partkey', true, pk_n FROM m
        |  UNION ALL
        |  SELECT 'zorder', 'l_suppkey', true, sk_n FROM m)
        |ORDER BY layout, filter_dim""".stripMargin,

    "layout_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |            (1.00 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "layout_partition_prune" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS om,
        |  count(*) AS n_orders,
        |  round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE
        |    AS total_price
        |FROM orders
        |WHERE year(o_orderdate) = 1996 AND quarter(o_orderdate) = 2
        |GROUP BY om ORDER BY om""".stripMargin,

    "layout_compact" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT doc_id) AS n_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)
}
