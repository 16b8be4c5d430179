package graft.queries

import java.nio.file.Files

import graft.Tables
import graft.multimodal.{Audio, Images, Multimodal}
import graft.operators.PatternRouter
import graft.sources.{Sinks, Sources, Xls, Xlsx}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink round-trips + multimodal plumbing (SURVEY §2).
  * Each query materializes testdata through the format under test
  * and summarizes the result so the output is small, deterministic,
  * and (where the format round-trip is lossless) oracle-checkable
  * against the original parquet.
  */
object SourceQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Bounded scratch space: one fixed directory per round-trip query
    * PER (PROCESS, CALLING THREAD), wiped on entry — repeated
    * Verify/Bench runs in one JVM reuse it instead of leaking a fresh
    * temp copy of the data every invocation; two graft JVMs on one box
    * (gate + test suite, a real collision the determinism harness hit)
    * can't race each other's round-trip files; and two THREADS of one
    * JVM running the same query simultaneously (a shared thrift-server
    * -style session — the R14Concurrent duplicate drill caught exactly
    * this: simultaneous sink_parquet instances tore each other's
    * overwrite and two of them returned WRONG content, not errors)
    * each get their own dir. A thread only ever wipes its own scratch,
    * so a returned-but-unconsumed round-trip frame stays readable
    * until ITS thread re-invokes a round-trip query — the same
    * lifecycle the per-process form already had.
    */
  private val procTag = java.lang.ProcessHandle.current().pid().toString
  // ThreadLocal UUID, not Thread.getId: the JVM spec permits thread
  // ids to be REUSED after a thread dies, so an id-keyed dir could let
  // an unrelated new thread wipe a dead thread's scratch while a frame
  // returned from it is still being consumed. A UUID is never reused;
  // dirs of dead threads are swept by the exit hook below instead of
  // being reclaimed by id collision.
  private val threadTag: ThreadLocal[String] = ThreadLocal.withInitial(() =>
    java.util.UUID.randomUUID().toString.take(8))
  // long-lived thread-pool servers accumulate one scratch dir per
  // distinct worker thread; sweep THIS process's dirs (and only its
  // own — the pid key keeps two graft JVMs on one box disjoint) when
  // the JVM exits, so repeated server restarts can't pile copies of
  // the round-trip datasets in java.io.tmpdir
  locally {
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      try {
        java.nio.file.Files.list(tmpRoot).iterator().asScala
          .filter(_.getFileName.toString.startsWith(s"graft_roundtrip_${procTag}_"))
          .foreach { d =>
            java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
              .foreach(p => java.nio.file.Files.deleteIfExists(p))
          }
      } catch { case _: java.io.IOException => () } // exit-path best effort
    }, "graft-roundtrip-scratch-sweep"))
  }
  private def tmp(prefix: String): String = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_roundtrip_${procTag}_t${threadTag.get()}", prefix)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
    Files.createDirectories(root)
    root.toString
  }

  val queries: Map[String, Q] = Map(
    // File-level quality gates as their own component (the reject
    // side also feeds etl_failure_log): each file in the
    // deterministic drop-zone fixture lands exactly once as
    // accepted or rejected-with-reason. Gate cost is metadata-only
    // (one stat + <=8KB head per file), the same order as listing —
    // the shape that holds when the drop zone has a million files.
    "src_file_gate" -> ((s, d) => {
      val (accepted, rejects) = Sources.fileGate(s, EtlQueries.gateFixtureDir,
        EtlQueries.routeConfig.quality.copy(maxFileSizeMb = Some(EtlQueries.gateTestCapMb)))
      import s.implicits._
      // hadoop Path.getName on both sides: accepted paths may come
      // back scheme-qualified, and reject names are already derived
      // this way inside gateFiles
      val rows =
        accepted.map(p => (new org.apache.hadoop.fs.Path(p).getName, "accepted", "ok")) ++
          rejects.map { case (name, reason) => (name, "rejected", reason) }
      rows.toDF("file_name", "verdict", "reason").orderBy(col("file_name"))
    }),

    // parquet -> csv -> parquet round trip with explicit schema on
    // the read side (schema inference at scale = an extra full scan).
    "src_csv" -> ((s, d) => {
      val dir = tmp("graft_csv")
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
        .write.mode("overwrite").option("header", "true").csv(dir)
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_returnflag", StringType)))
      Sources.csv(s, dir, Some(schema))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("l_returnflag"))
    }),

    // parquet -> ORC -> summary round trip (Sinks.orc/Sources.orc):
    // the other native columnar format, written partitioned so the
    // read-back proves partition-column recovery too. Lossless for
    // these types, so the oracle aggregates the ORIGINAL parquet.
    "sink_orc" -> ((s, d) => {
      val dir = tmp("graft_orc")
      Sinks.orc(Tables.orders(s, d)
          .filter(col("o_orderkey") < 5000)
          .select(col("o_orderkey"), col("o_custkey"),
            round(col("o_totalprice"), 2).as("price"), col("o_orderstatus")),
        dir, ifExists = "replace", partitionBy = Seq("o_orderstatus"))
      Sources.orc(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("price")), 2).as("sum_price"),
          max(col("o_custkey")).as("max_cust"))
        .orderBy(col("o_orderstatus"))
    }),

    // parquet -> jsonl -> summary round trip.
    "src_jsonl" -> ((s, d) => {
      val dir = tmp("graft_jsonl")
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.mode("overwrite").json(dir)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType)))
      Sources.jsonl(s, dir, Some(schema))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // Plain parquet source summary (pushdown verified in specs).
    "src_parquet" -> ((s, d) => {
      Sources.parquet(s, s"$d/part.parquet")
        .filter(col("p_size") <= 25)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("p_retailprice")), 4).as("avg_price"))
        .orderBy(col("p_brand"))
    }),

    // nation -> xlsx (pure-JVM writer) -> xlsx reader -> summary.
    "src_excel" -> ((s, d) => {
      val dir = tmp("graft_xlsx")
      val rows = Tables.nation(s, d)
        .orderBy(col("n_nationkey"))
        .collect()
        .map(r => Seq[Any](r.getInt(0), r.getString(1), r.getInt(2)))
        .toSeq
      Xlsx.write(s"$dir/nation.xlsx",
        Seq("n_nationkey", "n_name", "n_regionkey"), rows)
      Xlsx.read(s, s"$dir/nation.xlsx")
        .select(col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("int").as("n_regionkey"))
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), max(col("n_name")).as("max_name"))
        .orderBy(col("n_regionkey"))
    }),

    // nation -> legacy .xls (OLE2/BIFF8 fixture writer) -> the same
    // Xlsx.read entry point (magic-number dispatch) -> summary. The
    // double column exercises NUMBER records; ints land as RK/MULRK.
    // The workbook is parsed driver-side, so the plan is the summary
    // aggregate over a LocalTableScan: one exchange, nothing pushed.
    "src_xls" -> ((s, d) => {
      val dir = tmp("graft_xls")
      val rows = Tables.nation(s, d)
        .orderBy(col("n_nationkey"))
        .collect()
        .map(r => Seq[Any](r.getInt(0), r.getString(1), r.getInt(2),
          r.getInt(0) + 0.25))
        .toSeq
      Xls.write(s"$dir/nation.xls",
        Seq("n_nationkey", "n_name", "n_regionkey", "key_frac"), rows)
      Xlsx.read(s, s"$dir/nation.xls")
        .select(col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("int").as("n_regionkey"),
          col("key_frac").cast("double").as("key_frac"))
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), max(col("n_name")).as("max_name"),
          round(sum(col("key_frac")), 2).as("sum_frac"))
        .orderBy(col("n_regionkey"))
    }),

    // Routed partitioned parquet sink: write docs partitioned by
    // routed target table, read back, summarize (shared fixture with
    // etl_pattern_route so the mappings can't drift apart).
    "sink_parquet" -> ((s, d) => {
      val dir = tmp("graft_sink")
      val withPath = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
        concat(lit("/drop/"), col("source"), lit("/f_"),
          col("doc_id").cast("string"), lit(".csv")).as("path"))
      Sinks.parquet(PatternRouter.route(withPath, "path", EtlQueries.routeFixture)
          .select(col("doc_id"), col("n_chars"), col("target_table")),
        dir, ifExists = "replace", partitionBy = Seq("target_table"))
      Sources.parquet(s, dir)
        .groupBy(col("target_table"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("target_table"))
    }),

    // Schema EVOLUTION across landing-zone batches: an old batch
    // without o_orderstatus and a new batch with it, read as one
    // table via mergeSchema. The old batch's rows surface with a null
    // status (the `added` group keyed NULL below) — exactly how a
    // warehouse landing zone behaves when a producer adds a column.
    // mergeSchema costs a footer read per file, not a data scan; at
    // 100 TB pin the merged schema in a catalog instead and pass it
    // explicitly.
    "src_schema_evolution" -> ((s, d) => {
      val dir = tmp("graft_evolve")
      val orders = Tables.orders(s, d)
      orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/batch=old")
      orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$dir/batch=new")
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          graft.queries.Money.msum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first)
    }),

    // Binary payload + metadata struct plumbing.
    "mm_ingest" -> ((s, d) => {
      val media = Multimodal.ingest(
        Tables.documents(s, d).select(col("doc_id"),
          col("text").cast("binary").as("payload"),
          lit("text/plain").as("mt")),
        "doc_id", "payload", "mt")
      media.select(col("media_id"), col("meta.media_type").as("media_type"),
          length(col("payload")).cast("long").as("n_bytes"))
        .orderBy(col("media_id"))
    }),

    // Content-hash dedup over BINARY payloads — the multimodal form
    // of dedup_exact (images/audio dedupe on raw bytes before any
    // decode): md5 of the payload, keep-lowest-id per group. One
    // hash-partitioned groupBy on uniformly distributed keys.
    "mm_dedup" -> ((s, d) => {
      val media = Multimodal.ingest(
        Tables.documents(s, d).select(col("doc_id"),
          col("text").cast("binary").as("payload"),
          lit("text/plain").as("mt")),
        "doc_id", "payload", "mt")
      media.filter(col("payload").isNotNull)
        .select(col("media_id"), md5(col("payload")).as("content_hash"))
        .groupBy(col("content_hash"))
        .agg(min(col("media_id")).as("media_id_kept"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("media_id_kept"))
    }),

    // Content-ROUTED decode over a MIXED-modality corpus: each
    // payload's leading BYTES pick the decoder (Multimodal
    // .sniffMediaType -> Images.decode / Audio.decodeWav / byte
    // digest), the content-true form of the reference's filename
    // dispatch (pattern_based_watcher.py:31 routes on extension).
    // The corpus exercises every routing outcome: real PNGs, real
    // WAVs, plain text (digest path), PNG bytes under a LYING
    // "audio/wav" declared type (content routing wins), and a bare
    // 8-byte PNG magic with no body (sniffs image/png, decode fails
    // -> decoded=false audit row, never a task failure). Output is
    // the per-modality audit: (declared, sniffed, decoded) counts +
    // per-decoder feature sums, the table an operator watches to spot
    // producers whose extensions lie. Row-local mapPartitions, no
    // shuffle; decode parallelism = scan parallelism at any scale.
    // Rows-only oracle (SQL engines can't decode PNG/WAV);
    // MultimodalSpec pins the routing matrix on hand-built payloads.
    "mm_features" -> ((s, d) => {
      import s.implicits._
      val pngMagicOnly = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte)
      val payloads = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        // r16: same near-serial trap as mm_audio_features — codec work
        // must not run at the scan's file-layout parallelism
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val seed = Option(text).getOrElse("").getBytes("UTF-8")
            val (bytes, declared) = (id % 5) match {
              case 0 => (Images.deterministicPng(seed), "image/png")
              case 1 => (Audio.deterministicWav(seed, nFrames = 512),
                "audio/wav")
              case 2 => (seed, "text/plain")
              case 3 => (Images.deterministicPng(seed), "audio/wav") // lies
              case _ => (pngMagicOnly, "image/png") // truncated: no body
            }
            (id, bytes, declared)
          }
        }
        .toDF("doc_id", "payload", "mt")
      val media = Multimodal.ingest(payloads, "doc_id", "payload", "mt")
      // r11 oracle upgrade: the ROUTING MATRIX — (declared, sniffed,
      // decoded) group counts plus the fixture-constant dimension
      // sums (8 px x n images, 512 frames x n wavs) — is a pure
      // function of the id % 5 planting rule, so it hash-verifies;
      // the content-dependent byte/rms masses are the non-derivable
      // remainder, pinned by MultimodalSpec/AudioSpec.
      Multimodal.routedFeatures(s, media).toDF()
        .groupBy(col("declaredType").as("declared_type"),
          col("sniffedType").as("sniffed_type"), col("decoded"))
        .agg(count(lit(1)).as("n"),
          sum(col("width")).cast("long").as("sum_width"),
          sum(col("nFrames")).cast("long").as("sum_frames"))
        .orderBy(col("declared_type"), col("sniffed_type"), col("decoded"))
    }),

    // REAL image decode (JDK javax.imageio, no external libs): each
    // document yields a deterministic 8x8 PNG fixture from md5(text)
    // (a real corpus brings its own image bytes); every 7th payload
    // is left as raw text bytes so the corrupt-file fallback
    // (decoded=false audit rows, not task failures) is part of the
    // measured path. Row-local encode+decode+hash, no shuffle —
    // decode parallelism is scan parallelism at any scale. Rows-only
    // oracle (SQL engines can't decode PNG); ImagesSpec pins exact
    // aHash/dHash/mean values on hand-built fixtures.
    "mm_image_features" -> ((s, d) => {
      import s.implicits._
      val payloads = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        // r16: same near-serial trap as mm_audio_features
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val seed = Option(text).getOrElse("").getBytes("UTF-8")
            val bytes =
              if (id % 7 == 0) seed // deliberately not a PNG
              else Images.deterministicPng(seed)
            (id, bytes)
          }
        }
        .toDF("doc_id", "payload")
      val media = Multimodal.ingest(
        payloads.withColumn("mt", lit("image/png")),
        "doc_id", "payload", "mt")
      // r11 oracle upgrade: the gate output keeps exactly the columns
      // the fixture corpus makes SQL-DERIVABLE — decode flags (every
      // id % 7 == 0 payload is deliberately not a PNG) and the
      // constant 8x8 fixture dims (deterministicPng's default; the
      // 16 px corpus belongs to mm_phash_dedup) — so the REAL decode path
      // hash-verifies per row. Luma/perceptual hashes are the
      // genuinely non-derivable remainder; ImagesSpec pins their
      // exact values on hand fixtures.
      Images.imageFeatures(s, media).toDF()
        .select(col("mediaId").as("media_id"), col("decoded"),
          col("width"), col("height"))
        .orderBy(col("media_id"))
    }),

    // Perceptual near-dup dedup over image payloads: every 5th doc's
    // PNG also appears as a brightness-scaled re-encode (different
    // bytes — mm_dedup's exact byte hash misses it; same cell
    // ordering — dHash lands at Hamming ~0), and identical-text docs
    // yield byte-identical PNGs (Hamming 0). dHash-band LSH with the
    // SimHash pigeonhole guarantee, exact Hamming verify, and the
    // GROUP output contract (SigPairs.hammingStarEdges): per-hash
    // canonical image + star edges, so output is O(images + hash
    // pairs) even for a million-copy re-encode clump — never O(n²)
    // anywhere, input or output. Rows-only oracle (needs image
    // decode); ImagesSpec pins the pair semantics on fixtures and
    // proves component-equivalence with the all-pairs form.
    // r11 oracle upgrade (the semdedup planted-pair pattern): the
    // gate output is the PLANTED-RECOVERY contract — every 5th doc's
    // brightness-scaled re-encode must land in the same connected
    // component as its source for >= 90% of plants (R11Probe2
    // measured 96/100 on the gate corpus: four plants drift past
    // Hamming 3 under the 1.06 brightness scale — the honest
    // perceptual-hash trade; full equality would overclaim).
    // n_planted is SQL-derivable; edge-level semantics stay pinned by
    // ImagesSpec/StarAb. Image bytes never enter an exchange: decode
    // runs once into a persisted skinny (id, dHash) frame, and the band
    // join runs over DISTINCT signatures only.
    "mm_phash_dedup" -> ((s, d) => {
      import s.implicits._
      // media-taking convenience form: its internally-persisted feats
      // frame is released by the per-query clearCache in Bench/Verify
      // (one-shot query lifecycle); loops over many corpora should
      // use the feats-taking form + explicit unpersist instead
      // (Images.dhashFeats doc)
      val (nPlanted, co) = plantedRecovery(s, d,
        Images.phashStarEdges(s, imageDedupPayloads(s, d), maxHamming = 3))
      Seq((nPlanted, co * 100 >= nPlanted * 90))
        .toDF("n_planted", "recovery_ok")
    }),

    // REAL audio decode (hand-rolled RIFF/WAV PCM parser, pure JVM):
    // each document yields a deterministic mono 16-bit WAV fixture
    // from md5(text) (a real corpus brings its own audio bytes);
    // every 7th payload is left as raw text bytes so the corrupt-
    // file fallback (decoded=false audit rows, not task failures)
    // is part of the measured path. Row-local decode, no shuffle.
    // Rows-only oracle (SQL engines can't parse WAV); AudioSpec pins
    // exact rms/peak/duration/eHash values on hand-built fixtures.
    "mm_audio_features" -> ((s, d) => {
      import s.implicits._
      // r16: WAV synth + RIFF decode are CPU-bound row-local work —
      // without this repartition they run at the documents scan's
      // file-layout parallelism (ONE partition at sf0.1), the same
      // near-serial trap imageDedupPayloads documents. Skinny
      // (id, text) rows shuffle; payload bytes are born distributed.
      val payloads = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val seed = Option(text).getOrElse("").getBytes("UTF-8")
            val bytes =
              if (id % 7 == 0) seed // deliberately not a WAV
              else Audio.deterministicWav(seed)
            (id, bytes)
          }
        }
        .toDF("doc_id", "payload")
      val media = Multimodal.ingest(
        payloads.withColumn("mt", lit("audio/wav")),
        "doc_id", "payload", "mt")
      // r11 oracle upgrade (mirror of mm_image_features): decode
      // flags + the fixture constants (8 kHz mono, 4096 frames,
      // 0.512 s) are SQL-derivable per row, so the real RIFF/PCM
      // parse hash-verifies; rms/peak/eHash stay spec-pinned
      // (AudioSpec, hand fixtures incl. malformed chunks).
      Audio.audioFeatures(s, media).toDF()
        .select(col("mediaId").as("media_id"), col("decoded"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("nFrames").as("n_frames"),
          round(col("durationSec"), 4).as("duration_sec"))
        .orderBy(col("media_id"))
    }),

    // Perceptual near-dup dedup over audio payloads: every 5th doc's
    // WAV also appears as a gain-scaled re-encode (different bytes —
    // mm_dedup's exact byte hash misses it; same window-energy
    // ordering — eHash lands at Hamming ~0), and identical-text docs
    // yield byte-identical WAVs (Hamming 0). Same shared SigPairs
    // kernel as mm_phash_dedup: occupancy-gated 16-bit-band LSH +
    // exact Hamming verify + the GROUP output contract
    // (hammingStarEdges) — O(clips + hash pairs) output even for a
    // million-copy re-encode clump, never O(n²) anywhere. Rows-only
    // oracle (needs audio decode); AudioSpec pins the pair semantics
    // on fixtures and proves component-equivalence with all-pairs.
    // r11 oracle upgrade: same planted-recovery contract as
    // mm_phash_dedup but at FULL equality — the window-energy eHash
    // is gain-invariant by construction, so every gain-scaled
    // re-encode recovers (R11Probe2: 100/100 on the gate corpus;
    // n_co is pinned equal to n_planted, not floored).
    "mm_audio_dedup" -> ((s, d) => {
      import s.implicits._
      // internally-persisted feats released by Bench/Verify's
      // per-query clearCache — same lifecycle note as mm_phash_dedup
      val (nPlanted, co) = plantedRecovery(s, d,
        Audio.audioStarEdges(s, audioDedupPayloads(s, d), maxHamming = 3))
      Seq((nPlanted, co)).toDF("n_planted", "n_co_component")
    }))

  /** Shared planted-recovery measurement for the perceptual-dedup
    * contracts (r11 review: one copy of the planting rule instead of
    * three hand-synced ones — [[imageDedupPayloads]] /
    * [[audioDedupPayloads]] plant a re-encode at doc_id + 1e8 for
    * every 5th doc, and this must match them): returns (n_planted,
    * n whose base and variant share a connected component of
    * `edges`).
    */
  private[graft] def plantedRecovery(s: SparkSession, d: String,
                                     edges: DataFrame): (Long, Long) = {
    val comp = graft.operators.Dedup.components(edges)
    // r16: both counts ride ONE aggregate action instead of
    // persist + count + inner-join count. Equivalence: comp carries
    // exactly one (id, label) row per node (components contract), so
    // the left joins preserve planted's cardinality; a base/variant
    // absent from comp yields a null label, and null === x is never
    // true — the conditional count matches the old inner-join+filter
    // count row for row.
    val planted = Tables.documents(s, d)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id"),
        (col("doc_id") + 100000000L).as("variant"))
    val row = planted
      .join(comp.select(col("id"), col("label").as("l_base")),
        Seq("id"), "left_outer")
      .join(comp.select(col("id").as("variant"),
        col("label").as("l_var")), Seq("variant"), "left_outer")
      .agg(count(lit(1)).as("n"),
        count(when(col("l_base") === col("l_var"), 1)).as("co"))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  /** The mm_phash_dedup corpus: one deterministic 16-px PNG per
    * document plus a brightness-scaled re-encode (different bytes,
    * dHash-adjacent) for every 5th doc. The pair/star A/B in SCALING.md
    * ("Pair-list vs star-edge output form", r9) measured this exact
    * corpus.
    *
    * The PNG encode/decode chain is CPU-bound row-local work:
    * repartition the SKINNY (id, text) frame to cluster parallelism
    * first, or the whole chain runs at the scan's file-layout
    * parallelism (the sf10 fixture bin-packs into 2 partitions —
    * measured near-serial before this line).
    */
  def imageDedupPayloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val variantOffset = 100000000L
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val seed = Option(text).getOrElse("").getBytes("UTF-8")
          val base = Images.deterministicPng(seed, size = 16)
          val variant =
            if (id % 5 == 0)
              Images.brighten(base, 1.06).iterator
                .map(b => (variantOffset + id, b))
            else Iterator.empty
          Iterator((id, base)) ++ variant
        }
      }
      .toDF("media_id", "payload")
  }

  /** The mm_audio_dedup corpus: one deterministic mono 16-bit WAV per
    * document plus a gain-scaled re-encode (different bytes,
    * eHash-adjacent) for every 5th doc; the same SCALING.md r9 pair/star
    * A/B measured it. Same skinny-repartition note as
    * [[imageDedupPayloads]].
    */
  def audioDedupPayloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val variantOffset = 100000000L
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val seed = Option(text).getOrElse("").getBytes("UTF-8")
          val base = Audio.deterministicWav(seed)
          val variant =
            if (id % 5 == 0)
              Audio.gainScale(base, 0.7).iterator
                .map(b => (variantOffset + id, b))
            else Iterator.empty
          Iterator((id, base)) ++ variant
        }
      }
      .toDF("media_id", "payload")
  }

  val oracles: Map[String, String] = Map(
    // Fixture bytes are fixed (EtlQueries.gateFixtureDir), so the
    // gate verdicts are literal rows.
    "src_file_gate" ->
      """SELECT * FROM (VALUES
        |  ('empty.csv', 'rejected', 'empty_file'),
        |  ('good.csv', 'accepted', 'ok'),
        |  ('headerless.csv', 'rejected', 'missing_header'),
        |  ('oversized.csv', 'rejected', 'file_too_large'))
        |AS t(file_name, verdict, reason) ORDER BY file_name""".stripMargin,

    "src_csv" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem WHERE l_orderkey < 1000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "sink_orc" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(round(o_totalprice, 2)), 2) AS sum_price,
        |  max(o_custkey) AS max_cust
        |FROM orders WHERE o_orderkey < 5000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "src_jsonl" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_orderkey < 2000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "src_parquet" ->
      """SELECT p_brand, count(*) AS n,
        |  round(avg(p_retailprice), 4) AS avg_price
        |FROM part WHERE p_size <= 25
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "src_excel" ->
      """SELECT n_regionkey, count(*) AS n, max(n_name) AS max_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    // the .xls round trip is lossless for these types (0.25 is an
    // exact binary fraction), so the oracle aggregates the original
    "src_xls" ->
      """SELECT n_regionkey, count(*) AS n, max(n_name) AS max_name,
        |  CAST(round(sum(n_nationkey + 0.25), 2) AS DOUBLE) AS sum_frac
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "sink_parquet" ->
      s"""SELECT target_table, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM (SELECT doc_id, n_chars,
         |        ${EtlQueries.routeCaseSql("lower('/drop/' || source || '/f_' || doc_id || '.csv')")} AS target_table
         |      FROM documents)
         |WHERE target_table IS NOT NULL
         |GROUP BY target_table ORDER BY target_table""".stripMargin,

    "src_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |       ELSE o_orderstatus END AS o_orderstatus,
        |  count(*) AS n,
        |  round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE
        |    AS sum_price
        |FROM orders
        |GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""".stripMargin,

    // n_bytes is the UTF-8 byte length of the payload (Spark casts
    // the text to binary; DuckDB's encode() is the same conversion)
    "mm_ingest" ->
      """SELECT doc_id AS media_id, 'text/plain' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin,

    // DuckDB md5(VARCHAR) hashes the string's UTF-8 bytes — the same
    // bytes Spark's md5 sees after the string->binary cast
    "mm_dedup" ->
      """SELECT md5(text) AS content_hash,
        |  min(doc_id) AS media_id_kept, count(*) AS n_copies
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY content_hash ORDER BY media_id_kept""".stripMargin,

    // the routing matrix replayed from the id % 5 planting rule:
    // class 0 = clean png, 1 = clean wav (512 frames), 2 = text
    // (sniffed octet-stream), 3 = png declared wav (sniffer wins),
    // 4 = png magic with no body (sniffed png, decode fails)
    "mm_features" ->
      """WITH c AS (SELECT doc_id % 5 AS k, count(*) AS n
        |           FROM documents GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 'audio/wav' AS declared_type, 'audio/wav' AS sniffed_type,
        |    true AS decoded, n, CAST(0 AS BIGINT) AS sum_width,
        |    CAST(512 * n AS BIGINT) AS sum_frames FROM c WHERE k = 1
        |  UNION ALL
        |  SELECT 'audio/wav', 'image/png', true, n,
        |    CAST(8 * n AS BIGINT), CAST(0 AS BIGINT) FROM c WHERE k = 3
        |  UNION ALL
        |  SELECT 'image/png', 'image/png', false, n,
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM c WHERE k = 4
        |  UNION ALL
        |  SELECT 'image/png', 'image/png', true, n,
        |    CAST(8 * n AS BIGINT), CAST(0 AS BIGINT) FROM c WHERE k = 0
        |  UNION ALL
        |  SELECT 'text/plain', 'application/octet-stream', true, n,
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM c WHERE k = 2)
        |ORDER BY declared_type, sniffed_type, decoded""".stripMargin,

    // fixture-derivable decode contracts: flags from the planted
    // corrupt rule, dims/rates from the fixture constants
    "mm_image_features" ->
      """SELECT doc_id AS media_id,
        |  doc_id % 7 <> 0 AS decoded,
        |  CAST(CASE WHEN doc_id % 7 <> 0 THEN 8 ELSE 0 END AS INT)
        |    AS width,
        |  CAST(CASE WHEN doc_id % 7 <> 0 THEN 8 ELSE 0 END AS INT)
        |    AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    "mm_audio_features" ->
      """SELECT doc_id AS media_id,
        |  doc_id % 7 <> 0 AS decoded,
        |  CAST(CASE WHEN doc_id % 7 <> 0 THEN 8000 ELSE 0 END AS INT)
        |    AS sample_rate,
        |  CAST(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END AS INT)
        |    AS channels,
        |  CAST(CASE WHEN doc_id % 7 <> 0 THEN 4096 ELSE 0 END AS BIGINT)
        |    AS n_frames,
        |  CAST(CASE WHEN doc_id % 7 <> 0 THEN 0.512 ELSE 0.0 END AS DOUBLE)
        |    AS duration_sec
        |FROM documents ORDER BY media_id""".stripMargin,

    // planted-recovery contracts: n_planted SQL-derived from the
    // documents table; the recovery share / full-equality count is
    // asserted in-engine on the deterministic gate corpus
    "mm_phash_dedup" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)
        |         AS n_planted,
        |  true AS recovery_ok""".stripMargin,

    "mm_audio_dedup" ->
      """SELECT (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)
        |         AS n_planted,
        |  (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)
        |         AS n_co_component""".stripMargin)
}
