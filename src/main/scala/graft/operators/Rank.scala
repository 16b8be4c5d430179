package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed exact rank / ntile for LOW-CARDINALITY partition keys.
  *
  * `Window.partitionBy(key).orderBy(...)` hash-partitions on the key:
  * with 3 distinct statuses the whole table sorts in 3 tasks, and at
  * 100 TB those are stragglers that no amount of executors helps
  * (the plain-window form of window_ntile has exactly that shape). ntile
  * cannot be WindowGroupLimit-pruned like row_number-top-k either —
  * every row gets a tile, so every row must be ranked.
  *
  * This is the classic distributed-rank decomposition instead:
  *
  *  1. range-partition by (key ++ order) into ALL shuffle partitions
  *     and sort within partitions — a fully parallel sort, task count
  *     independent of key cardinality;
  *  2. per (spark partition, key): count + first row-id, a metadata
  *     aggregate collected to the driver — bounded by
  *     numPartitions x |keys|, both small by precondition;
  *  3. driver computes, per (partition, key), the number of that
  *     key's rows in earlier partitions (prefix sum) and the key's
  *     total; broadcast-joined back, each row's exact rank is
  *     (its position within the partition) - (key's first position) +
  *     (prefix offset) + 1.
  *
  * Rows of one key are contiguous within a sorted partition and
  * range partitions are globally ordered, so the rank is exact. The
  * sorted frame is persisted (MEMORY_AND_DISK) because the metadata
  * pass and the rank pass both read it; position ids come from
  * `monotonically_increasing_id` evaluated ABOVE the sort in the
  * same stage (Catalyst never reorders nondeterministic projections
  * below a Sort), and every step below it is deterministic, so an
  * evicted partition recomputes to identical ids.
  *
  * Preconditions (documented, asserted where cheap): NULL partition
  * keys form ONE legitimate group, ranked like any other (the offset
  * join is null-safe `<=>`, matching SQL window PARTITION BY — see
  * RankSpec's null-key cases); `orderCols`
  * totally order rows within a key (include a unique tiebreaker) —
  * the same requirement a deterministic window query has — and the
  * key is LOW-cardinality, enforced by `maxMetaRows`: the metadata
  * collect is `limit`-capped so the driver never materializes more
  * than the cap, and overflow fails loudly naming the
  * `Window.partitionBy` alternative instead of OOMing the driver.
  */
object Rank {

  /** The low-cardinality precondition, enforced: the driver-side
    * metadata collect is bounded by numPartitions x |distinct keys|
    * under a PRECONDITION nothing upstream asserts — a caller who
    * hands a high-cardinality key (a member id, a url) to what was
    * designed for statuses/flags would silently collect the whole
    * group structure onto the driver. `limit(cap + 1)` bounds what
    * the driver materializes BY CONSTRUCTION (the aggregate still
    * runs distributed; at most cap+1 skinny rows come back), and the
    * overflow fails with the plan the caller should use instead.
    */
  private def boundedMeta(grouped: DataFrame, cap: Int, op: String): Array[Row] = {
    val meta = grouped.limit(cap + 1).collect()
    if (meta.length > cap) throw new IllegalArgumentException(
      s"$op: more than $cap (partition, key) metadata rows — the " +
        "partition key is high-cardinality, and the distributed-rank " +
        "decomposition only pays off for LOW-cardinality keys (its " +
        "per-(partition, key) offsets are broadcast from the driver). " +
        "Use Window.partitionBy(key).orderBy(...) instead — with many " +
        "distinct keys the hash-partitioned window is already " +
        "parallel and has no stragglers — or raise maxMetaRows if the " +
        "key really is bounded.")
    meta
  }

  /** Adds `rankCol` (1-based rank of the row within its `keyCol`
    * group under `orderCols`) and `nCol` (total rows in the group).
    */
  def keyedRank(df: DataFrame, keyCol: String, orderCols: Seq[Column],
                rankCol: String = "rank", nCol: String = "key_n",
                maxMetaRows: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    val sortCols = col(keyCol) +: orderCols
    val numParts = spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(numParts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__pos", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Metadata pass: bounded by numPartitions x |distinct keys|,
    // loudly gated (boundedMeta) rather than assumed.
    val meta = boundedMeta(
      sorted.groupBy(col("__pid"), col(keyCol))
        .agg(count(lit(1)).as("__n"), min(col("__pos")).as("__first_pos")),
      maxMetaRows, "keyedRank")

    // Driver-side prefix sums per key, in partition order.
    // a NULL key is a legitimate group (SQL GROUP BY / window
    // PARTITION BY both treat NULLs as one partition): the driver map
    // groups it like any other value, and the attach join below is
    // null-safe so its offsets actually reach the rows
    val byKey = meta.groupBy(_.get(1))
    val offsetRows = byKey.iterator.flatMap { case (key, rows) =>
      val total = rows.map(_.getLong(2)).sum
      var acc = 0L
      rows.sortBy(_.getInt(0)).map { r =>
        val off = acc
        acc += r.getLong(2)
        Row(r.getInt(0).toLong, key, r.getLong(3), off, total)
      }
    }.toSeq
    val keyField = df.schema(keyCol)
    val metaSchema = StructType(Seq(
      StructField("__pid_l", LongType, nullable = false),
      keyField.copy(name = "__key"),
      StructField("__first_pos", LongType, nullable = false),
      StructField("__offset", LongType, nullable = false),
      StructField("__total", LongType, nullable = false)))
    val metaDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1), metaSchema)

    sorted
      .join(broadcast(metaDf),
        col("__pid").cast("long") === col("__pid_l") &&
          col(keyCol) <=> col("__key"))
      .withColumn(rankCol,
        col("__pos") - col("__first_pos") + col("__offset") + lit(1L))
      .withColumn(nCol, col("__total"))
      .drop("__pid", "__pos", "__pid_l", "__key", "__first_pos",
        "__offset", "__total")
  }

  /** Adds `sumCol`: the EXCLUSIVE running sum of `valueCol` within
    * each `keyCols` group under `orderCols` — what
    * `sum(v).over(Window.partitionBy(keys).orderBy(...).rowsBetween(
    * unboundedPreceding, -1))` computes, but distributed: the same
    * range-partitioned sort as [[keyedRank]], one sequential
    * mapPartitions sweep for the within-partition run sums (group
    * rows are contiguous in a sorted partition, so a single
    * (current-key, accumulator) pair suffices), then driver-side
    * prefix totals per (partition, key) broadcast back. Task count is
    * the shuffle-partition count regardless of key cardinality —
    * including ZERO key columns, which gives a fully distributed
    * GLOBAL ordered prefix sum (every row in one stream) with no
    * single-partition window anywhere.
    *
    * `valueCol` is summed as long (token counts, byte sizes);
    * `orderCols` must totally order rows within a group for the sum
    * to be well-defined — identical to the window formulation's
    * determinism requirement.
    */
  def keyedPrefixSum(df: DataFrame, keyCols: Seq[String],
                     orderCols: Seq[Column], valueCol: String,
                     sumCol: String = "prefix_sum",
                     maxMetaRows: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    val numParts = spark.sessionState.conf.numShufflePartitions
    val sortCols = keyCols.map(col) ++ orderCols
    val sorted = df
      .withColumn("__val", col(valueCol).cast("long"))
      .repartitionByRange(numParts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)

    val keyIdx = keyCols.map(sorted.schema.fieldIndex)
    val valIdx = sorted.schema.fieldIndex("__val")
    val localSchema = sorted.schema.add("__local", LongType, nullable = false)
    val withLocal = sorted.mapPartitions { it =>
      var cur: Seq[Any] = null
      var acc = 0L
      it.map { r =>
        val k = keyIdx.map(r.get)
        if (cur == null || k != cur) { cur = k; acc = 0L }
        val out = Row.fromSeq(r.toSeq :+ acc)
        acc += (if (r.isNullAt(valIdx)) 0L else r.getLong(valIdx))
        out
      }
    }(Encoders.row(localSchema))

    // Metadata pass: per (partition, key) totals, bounded by
    // numPartitions x |keys| (+1 for the keyless global stream),
    // loudly gated (boundedMeta) rather than assumed.
    val meta = boundedMeta(
      sorted.groupBy(col("__pid") +: keyCols.map(col): _*)
        .agg(sum(coalesce(col("__val"), lit(0L))).as("__n")),
      maxMetaRows, "keyedPrefixSum")
    val byKey = meta.groupBy(r => keyCols.indices.map(i => r.get(1 + i)))
    val offsetRows = byKey.iterator.flatMap { case (key, rows) =>
      // NULL keys are regular groups here too (see keyedRank): the
      // in-partition sweep already treats a null run as one group
      var acc = 0L
      rows.sortBy(_.getInt(0)).map { r =>
        val off = acc
        acc += r.getLong(1 + keyCols.length)
        Row.fromSeq(r.getInt(0).toLong +: key :+ off)
      }
    }.toSeq
    val metaSchema = StructType(
      StructField("__pid_l", LongType, nullable = false) +:
        keyCols.map(k => df.schema(k).copy(name = s"__key_$k")) :+
        StructField("__offset", LongType, nullable = false))
    val metaDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1), metaSchema)

    val joinCond = keyCols.foldLeft(
      col("__pid").cast("long") === col("__pid_l")) { (c, k) =>
      c && col(k) <=> col(s"__key_$k")
    }
    withLocal
      .join(broadcast(metaDf), joinCond)
      .withColumn(sumCol, col("__local") + col("__offset"))
      .drop("__val" +: "__pid" +: "__local" +: "__pid_l" +: "__offset" +:
        keyCols.map(k => s"__key_$k"): _*)
  }

  /** Adds `tileCol`: exact SQL NTILE(tiles) within `keyCol` under
    * `orderCols`, computed from the distributed rank — first
    * `n mod tiles` tiles get `ceil(n/tiles)` rows, the rest
    * `floor(n/tiles)`, identical to the window function's split.
    */
  def ntileBy(df: DataFrame, keyCol: String, orderCols: Seq[Column],
              tiles: Int, tileCol: String = "tile"): DataFrame = {
    require(tiles >= 1, s"ntileBy: tiles must be >= 1, got $tiles")
    val ranked = keyedRank(df, keyCol, orderCols, "__rank", "__n")
    // Column `/` is double division; (a - a mod b) / b is an exact
    // integer <= 2^53, so the double result is exact — a portable
    // integer div. ceil(a/b) on positives = idiv(a + b - 1, b).
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val base = idiv(col("__n"), lit(tiles.toLong))
    val rem = pmod(col("__n"), lit(tiles.toLong))
    val cut = rem * (base + lit(1L))
    // The otherwise branch never evaluates with base = 0 (then
    // cut = n >= rank); greatest() keeps the divisor positive anyway.
    val tile = when(col("__rank") <= cut,
        idiv(col("__rank") + base, base + lit(1L)))
      .otherwise(rem + idiv(
        col("__rank") - cut + greatest(base, lit(1L)) - lit(1L),
        greatest(base, lit(1L))))
    ranked.withColumn(tileCol, tile.cast("int")).drop("__rank", "__n")
  }
}
