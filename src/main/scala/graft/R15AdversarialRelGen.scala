package graft

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.types._

/** Adversarial RELATIONAL rung generator (r14 judge ask #6): hostile
  * versions of the TPC-H-ish tables + events, so the ~49-query
  * relational/temporal gate subset runs against the exact edge-case
  * classes the well-formed driver generator never produces:
  *
  *   - all-NULL join keys (customer.nationkey, orders.custkey,
  *     lineitem.orderkey/partkey/suppkey, events.user_id) — NULL keys
  *     must drop from inner joins and group as one NULL group, never
  *     crash a broadcast or decorrelation path
  *   - single-key skew at 99% (orders→custkey 42, lineitem→orderkey 7,
  *     events→user 1) — the AQE-skew/salting paths on genuinely
  *     degenerate distributions
  *   - a 1-ROW supplier table (degenerate broadcast side; every
  *     matching l_suppkey points at it)
  *   - Long.MinValue/MaxValue keys matched across customer↔orders so
  *     extreme keys flow THROUGH a join, not just past it
  *   - exact-duplicate row blocks in every FACT table (set semantics,
  *     distinct paths, dup-safe rank ties: duplicates are exact copies
  *     so any tie-break yields identical output content). Dim tables
  *     keep unique keys ON PURPOSE: the q-family's group-then-join
  *     rewrites equal the SQL join-then-group form exactly under the
  *     declared dim-PK contract, and violating it makes the two forms
  *     legitimately diverge (q10/q13, measured) — dirty dims are what
  *     the dedup operators clean upstream, not a semantics the engine
  *     should silently absorb
  *   - dangling foreign keys (lineitem→part/supplier, nation→region)
  *   - NULLs in every filter/group column the queries touch
  *     (dates, flags, segments, priorities, JSON props, prices)
  *
  * Also included after the first run of this rung caught the ANSI
  * divide-by-zero crash class: a ZERO-quantity lineitem row and a
  * SINGLE-event type whose σ = 0 — the engine queries use
  * try_divide, whose NULL matches DuckDB's native DOUBLE/0.0, so
  * these are hash-gated like everything else. One deliberate
  * NON-inclusion remains, an oracle-TOOL limit rather than engine
  * semantics (pinned in AdversarialRelSpec instead): malformed JSON
  * in props (DuckDB json_extract_string THROWS where Spark
  * get_json_object returns NULL — the engine's lenient behavior is
  * the deployable one and is spec-pinned on the real query).
  *
  * Usage:
  *   tools/runmain.sh graft.R15AdversarialRelGen testdata-advrel
  *   tools/runmain.sh graft.R15AdversarialRelGen testdata-advrel-empty empty
  *
  * `empty` variant: schema-correct EMPTY fact tables (orders,
  * lineitem, events) under normal dims — the empty-input crash class
  * (zero-partition broadcasts, empty-side decorrelated subqueries).
  * Companion documents/embeddings are byte-copied from sf0.001 so
  * every oracle view resolves. Deterministic, no RNG. Dev tool —
  * regenerable, the dirs are gitignored like the ScaleUp rungs.
  */
object R15AdversarialRelGen {
  private val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val ptypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val etypes = Seq("click", "error", "purchase", "signup", "view")

  private def ts(base: String, plusDays: Int, plusSec: Int = 0): Timestamp =
    Timestamp.valueOf(
      LocalDateTime.parse(base).plusDays(plusDays).plusSeconds(plusSec))

  private def round2(x: Double): Double = math.floor(x * 100 + 0.5) / 100

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.R15AdversarialRelGen <outDir> [empty]")
    val outDir = args(0)
    val empty = args.length > 1 && args(1) == "empty"
    val spark = GraftSession("graft-adversarial-rel-gen")

    // companion tables the relational subset never reads, byte-copied
    // so compare.py's CREATE VIEW of all ten tables resolves
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001")
    val dst = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dst)
    for (t <- Seq("documents", "embeddings"))
      java.nio.file.Files.copy(src.resolve(s"$t.parquet"),
        dst.resolve(s"$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)

    def frame(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 4000 + 1)),
        schema)
    def write(name: String, rows: Seq[Row], schema: StructType): Unit =
      frame(rows, schema).coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/$name.parquet")

    // ---- dims -------------------------------------------------------
    write("region",
      Seq(Row(0, "AFRICA"), Row(1, "AMERICA"), Row(2, "ASIA"),
        Row(3, "EUROPE"), Row(4, "MIDDLE EAST"), Row(5, null)),
      StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))))

    write("nation",
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)) ++
        Seq(Row(25, "NATION_NULLREG", null),      // orphan join key
          Row(26, null, 999),                     // dangling FK + null name
          Row(Int.MaxValue, "NATION_MAX", 3)),
      StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))))

    // the 1-ROW degenerate broadcast side; nationkey 8 → region 3
    // (EUROPE) so q2's region filter keeps it
    write("supplier", Seq(Row(1L, "SUPP_ONLY", 8, 1234.56)),
      StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))))

    // ---- customer ---------------------------------------------------
    val custSchema = StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    val custNormal = (1 to 280).map { i =>
      val seg = if (i % 100 < 97) "BUILDING" else segs(i % 5)
      Row(i.toLong, s"CUST_$i", i % 25,
        round2(i * 1.37 + (i % 7 - 3) * 100), seg)
    }
    // every segment present so pivot-style queries keep their columns
    val custAllSegs = segs.zipWithIndex.map { case (s, j) =>
      Row((281 + j).toLong, s"CUST_SEG_$s", j, 1000.0 + j, s)
    }
    val custHostile = Seq(
      Row(Long.MaxValue, "CUST_MAX", 3, 9.9e7, "BUILDING"),
      Row(Long.MinValue, "CUST_MIN", 4, -9.9e7, "MACHINERY"),
      Row(291L, "CUST_NULLNAT", null, 42.0, "FURNITURE"),
      Row(292L, "CUST_NULLNAT2", null, 43.0, "HOUSEHOLD"),
      Row(296L, null, 1, 44.0, "BUILDING"),
      Row(297L, "CUST_NULLBAL", 2, null, "BUILDING"),
      Row(298L, "CUST_NULLSEG", 3, 45.0, null))
    // dims keep UNIQUE keys (exact-duplicate blocks live in the FACT
    // tables): the q-family's group-then-join rewrites are equivalent
    // to the SQL join-then-group form exactly under the dimension-key
    // uniqueness the data model declares — duplicate dim keys make
    // the two forms legitimately diverge (measured here first: dup
    // customer 42 → q10 3 rows x 1x revenue vs 1 row x 3x revenue),
    // and dirty dims are what etl_dedupe_names/dedup_exact clean
    // UPSTREAM. The PK contract is documented in SCALING r15.
    write("customer", custNormal ++ custAllSegs ++ custHostile, custSchema)

    // ---- orders -----------------------------------------------------
    val ordSchema = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    val ordNormal = (1 to 2900).map { i =>
      val cust = if (i % 100 < 99) 42L else (i % 280 + 1).toLong
      Row(i.toLong, cust, Seq("F", "O", "P")(i % 3),
        round2(i * 1.013 + (i % 11) * 7),
        ts("1995-01-01T00:00:00", i * 83 % 2400), prios(i % 5))
    }
    val ordHostile = Seq(
      Row(2901L, null, "F", 11.0, ts("1996-03-04T00:00:00", 0), prios(0)),
      Row(2902L, null, "O", 12.0, ts("1997-03-04T00:00:00", 0), prios(1)),
      Row(2906L, 5L, "F", 13.0, null, prios(2)),
      Row(2907L, 6L, null, 14.0, ts("1998-03-04T00:00:00", 0), prios(3)),
      Row(2908L, 7L, "O", 15.0, ts("1999-03-04T00:00:00", 0), null),
      Row(2909L, 8L, "P", 0.0, ts("2000-03-04T00:00:00", 0), prios(4)),
      Row(2910L, 9L, "F", -123.45, ts("1995-07-04T00:00:00", 0), prios(0)),
      Row(2911L, Long.MaxValue, "O", 16.0,
        ts("1996-07-04T00:00:00", 0), prios(1)),
      Row(2912L, Long.MinValue, "F", 17.0,
        ts("1997-07-04T00:00:00", 0), prios(2)),
      Row(2913L, null, null, null, null, null))
    val ordDups = ordNormal.filter(o =>
      o.getLong(0) >= 101L && o.getLong(0) <= 103L)
    write("orders",
      if (empty) Seq.empty[Row] else ordNormal ++ ordHostile ++ ordDups,
      ordSchema)

    // ---- lineitem ---------------------------------------------------
    val liSchema = StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    val liNormal = (1 to 11500).map { i =>
      val ok = if (i % 100 < 99) 7L else (i.toLong * 37 % 2900) + 1
      Row(ok, (i % 200).toLong, 1L, i % 7 + 1, (i % 50 + 1).toDouble,
        round2(900 + i * 0.731), (i % 11) * 0.01, (i % 9) * 0.01,
        Seq("A", "N", "R")(i % 3), if (i % 2 == 0) "O" else "F",
        ts("1995-01-02T00:00:00", i * 59 % 2490))
    }
    val d0 = ts("1996-06-15T00:00:00", 0)
    val liHostile = Seq(
      Row(null, 1L, 1L, 1, 3.0, 100.0, 0.05, 0.01, "A", "O", d0),
      Row(null, 2L, 1L, 1, 4.0, 101.0, 0.06, 0.02, "N", "F", d0),
      Row(11L, null, 1L, 2, 5.0, 102.0, 0.04, 0.03, "R", "O", d0),
      Row(12L, null, null, 2, 6.0, 103.0, 0.07, 0.04, "A", "F", d0),
      // dangling FKs: no part 9999, no supplier 999
      Row(13L, 9999L, 999L, 3, 7.0, 104.0, 0.05, 0.05, "N", "O", d0),
      Row(14L, 5L, 1L, 3, null, 105.0, 0.06, 0.06, "R", "F", null),
      Row(15L, 6L, 1L, 4, -5.0, 106.0, null, 0.07, null, null, d0),
      Row(16L, 7L, 1L, 4, 8.0, null, 0.08, null, "A", "O", d0),
      // zero quantity: under ANSI a raw `/` dies here — the rung
      // keeps try_divide honest (q2's unit cost must go NULL, never
      // elect this row, never crash)
      Row(17L, 8L, 1L, 5, 0.0, 107.0, 0.02, 0.01, "N", "F", d0))
    val liDups = liNormal.take(100)
    write("lineitem",
      if (empty) Seq.empty[Row] else liNormal ++ liHostile ++ liDups,
      liSchema)

    // ---- part -------------------------------------------------------
    val partSchema = StructType(Seq(StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType)))
    val partNormal = (0 until 200).map { i =>
      Row(i.toLong, s"part $i", s"Brand#${i % 20 + 1}", ptypes(i % 6),
        i % 50 + 1, round2(100 + i * 1.21))
    }
    val partHostile = Seq(
      Row(200L, "part nulltype", "Brand#1", null, 10, 500.0),
      Row(201L, "part nullbrand", null, "PROMO", 11, 501.0),
      Row(202L, "part size0", "Brand#2", "ECONOMY", 0, 502.0),
      Row(203L, "part sizemax", "Brand#3", "LARGE", Int.MaxValue, 503.0),
      Row(204L, "part sizeneg", "Brand#4", "SMALL", -1, 504.0),
      Row(205L, "part nullsize", "Brand#5", "MEDIUM", null, 505.0),
      Row(206L, "part nullprice", "Brand#6", "STANDARD", 12, null),
      Row(207L, null, "Brand#7", "PROMO", 13, 507.0))
    write("part", partNormal ++ partHostile, partSchema)

    // ---- events -----------------------------------------------------
    val evSchema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val evNormal = (1 to 2900).map { i =>
      val user = if (i % 100 < 99) 1L else (i % 37 + 2).toLong
      Row(i.toLong, ts("2024-01-01T00:00:00", 0, i * 997 % (30 * 86400)),
        user, etypes(i % 5), round2(i * 0.37), s"""{"k": ${i % 100}}""")
    }
    val evHostile = Seq(
      Row(3001L, ts("2024-01-05T00:00:00", 0), 1L, null, 1.0, """{"k": 5}"""),
      Row(3002L, null, 1L, "view", 2.0, """{"k": 6}"""),
      Row(3003L, ts("2024-01-06T00:00:00", 0), null, "click", 3.0,
        """{"k": 7}"""),
      Row(3004L, ts("2024-01-07T00:00:00", 0), 2L, "purchase", null,
        """{"k": 8}"""),
      Row(3005L, ts("2024-01-08T00:00:00", 0), 3L, "view", 4.0, null),
      Row(3006L, ts("2024-01-09T00:00:00", 0), 4L, "signup", 5.0,
        """{"x": 1}"""),
      Row(3007L, ts("2024-01-10T00:00:00", 0), Long.MaxValue, "error", 6.0,
        """{"k": 9}"""),
      // a SINGLE-event type: stddev_pop = 0, so quality_outliers'
      // z-score divides by zero — try_divide territory
      Row(3008L, ts("2024-01-11T00:00:00", 0), 5L, "zzz_singleton", 7.0,
        """{"k": 10}"""))
    val evDups = evNormal.filter(e => e.getLong(0) >= 11L && e.getLong(0) <= 20L)
    write("events",
      if (empty) Seq.empty[Row] else evNormal ++ evHostile ++ evDups,
      evSchema)

    val counts = Seq("region", "nation", "supplier", "customer", "orders",
      "lineitem", "part", "events")
      .map(t => s""""$t":${spark.read.parquet(s"$outDir/$t.parquet").count()}""")
      .mkString(",")
    println(s"""{"probe":"adversarial_rel_gen","out":"$outDir","empty":$empty,$counts}""")
    spark.stop()
  }
}
