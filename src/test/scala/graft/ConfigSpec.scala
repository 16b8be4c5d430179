package graft

import graft.operators.PatternRouter
import graft.sources.Sources
import org.apache.spark.sql.functions._

class ConfigSpec extends SparkSpec {
  import spark.implicits._

  private val yaml = graft.queries.EtlQueries.configYaml

  test("YAML config with the reference's exact keys parses, in order") {
    val cfg = PipelineConfig.parseYaml(yaml)
    assert(cfg.mappings.map(_.pattern) ==
      Seq("/src1/", "src1", "/src2/", "/src3/", "/src4/"),
      "pattern order must be preserved (first match wins)")
    assert(cfg.qualifiedMapping.toMap == Map(
      "/src1/" -> "public.dim_customers", "src1" -> "staging.overflow_numbers",
      "/src2/" -> "public.fact_sales", "/src3/" -> "public.dim_products",
      "/src4/" -> "staging.staging_reports"))
    assert(cfg.quality.maxFileSizeMb.contains(100.0))
    assert(cfg.quality.requireHeaders && cfg.quality.skipEmptyFiles)
    assert(cfg.quality.encodingFallbacks ==
      Seq("utf-8", "utf-8-sig", "latin1", "cp1252"))
    assert(cfg.quality.extras("max_row_chars") == "500",
      "unknown data_quality keys must pass through")
    assert(cfg.supportedExtensions == Seq(".csv", ".xlsx"))
  }

  test("JSON config parses to the same result; load() reads both from disk") {
    val json =
      """{"pattern_mappings": {"sales_data": {"table": "fact_sales",
        |  "schema": "public"}, "reports": {"table": "staging_reports",
        |  "schema": "staging"}},
        | "data_quality": {"max_file_size_mb": 5}}""".stripMargin
    val cfg = PipelineConfig.parseJson(json)
    assert(cfg.qualifiedMapping == Seq(
      "sales_data" -> "public.fact_sales", "reports" -> "staging.staging_reports"))
    assert(cfg.quality.maxFileSizeMb.contains(5.0))
    // defaults fill unspecified sections like the reference loader
    assert(cfg.quality.requireHeaders)
    assert(cfg.supportedExtensions == PipelineConfig.default.supportedExtensions)
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg")
    java.nio.file.Files.write(dir.resolve("c.yaml"), yaml.getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("c.json"), json.getBytes("UTF-8"))
    assert(PipelineConfig.load(spark, s"$dir/c.yaml").mappings.size == 5)
    assert(PipelineConfig.load(spark, s"$dir/c.json").mappings.size == 2)
    intercept[IllegalArgumentException] {
      PipelineConfig.load(spark, s"$dir/c.toml")
    }
  }

  test("absent max_file_size_mb keeps the 100MB default; explicit null disables") {
    val absent = PipelineConfig.parseYaml(
      "pattern_mappings:\n  x:\n    table: t\ndata_quality:\n  require_headers: false\n")
    assert(absent.quality.maxFileSizeMb.contains(100.0),
      "absence must not silently disable the size cap")
    assert(!absent.quality.requireHeaders)
    val disabled = PipelineConfig.parseYaml(
      "pattern_mappings:\n  x:\n    table: t\ndata_quality:\n  max_file_size_mb: null\n")
    assert(disabled.quality.maxFileSizeMb.isEmpty)
  }

  test("watcher poll_interval maps to the stream trigger") {
    val timed = PipelineConfig.parseYaml(
      "pattern_mappings:\n  x:\n    table: t\nwatcher_settings:\n  poll_interval: 10\n")
    assert(timed.pollIntervalSeconds.contains(10))
    assert(graft.streaming.StreamIngest.triggerFor(timed) ==
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(10000L))
    val drain = PipelineConfig.parseYaml("pattern_mappings:\n  x:\n    table: t\n")
    assert(graft.streaming.StreamIngest.triggerFor(drain) ==
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    intercept[IllegalArgumentException] {
      PipelineConfig.parseYaml(
        "pattern_mappings:\n  x:\n    table: t\nwatcher_settings:\n  poll_interval: fast\n")
    }
  }

  test("config validation collects every error loudly") {
    val bad =
      """pattern_mappings:
        |  good_one:
        |    table: t1
        |  missing_table:
        |    schema: public
        |  not_a_map: just_a_string
        |""".stripMargin
    val e = intercept[IllegalArgumentException] { PipelineConfig.parseYaml(bad) }
    assert(e.getMessage.contains("missing_table missing required 'table'"))
    assert(e.getMessage.contains("not_a_map config must be a mapping"))
    val noSection = intercept[IllegalArgumentException] {
      PipelineConfig.parseYaml("data_quality:\n  max_file_size_mb: 1\n")
    }
    assert(noSection.getMessage.contains("missing required section: pattern_mappings"))
  }

  test("malformed data_quality / watcher_settings sections are errors, not defaults") {
    // the mis-indentation that turns a section into a LIST is the
    // classic YAML typo; silently applying the default gates would
    // undo exactly the change the operator was deploying
    val listQuality =
      """pattern_mappings:
        |  src1:
        |    table: t1
        |data_quality:
        |- max_file_size_mb: 2000
        |""".stripMargin
    val e1 = intercept[IllegalArgumentException] { PipelineConfig.parseYaml(listQuality) }
    assert(e1.getMessage.contains("data_quality must be a mapping"))
    val strWatcher =
      """pattern_mappings:
        |  src1:
        |    table: t1
        |watcher_settings: five_seconds
        |""".stripMargin
    val e2 = intercept[IllegalArgumentException] { PipelineConfig.parseYaml(strWatcher) }
    assert(e2.getMessage.contains("watcher_settings must be a mapping"))
    val strExts =
      """pattern_mappings:
        |  src1:
        |    table: t1
        |watcher_settings:
        |  supported_extensions: csv
        |""".stripMargin
    val e3 = intercept[IllegalArgumentException] { PipelineConfig.parseYaml(strExts) }
    assert(e3.getMessage.contains("supported_extensions must be a list"))
  }

  test("config-driven routing emits schema-qualified targets, first match wins") {
    val cfg = PipelineConfig.parseYaml(yaml)
    val df = Seq(
      (1L, "Z:\\drop\\src1\\a.csv"),      // anchored /src1/ beats bare src1
      (2L, "Z:\\drop\\src10\\b.csv"),     // falls through to bare src1
      (3L, "Z:\\drop\\src4\\c.csv"),      // staging schema
      (4L, "Z:\\drop\\nomatch\\d.csv"))   // dropped
      .toDF("id", "path")
    val out = PatternRouter.route(df, "path", cfg)
      .select("id", "target", "target_schema", "target_table")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(out == Set(
      (1L, "public.dim_customers", "public", "dim_customers"),
      (2L, "staging.overflow_numbers", "staging", "overflow_numbers"),
      (3L, "staging.staging_reports", "staging", "staging_reports")))
  }

  test("file gates reject oversized, empty and headerless files with reasons") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gates")
    def put(name: String, content: String): Unit =
      java.nio.file.Files.write(dir.resolve(name), content.getBytes("UTF-8"))
    put("oversized.csv", "a,b\n" + "1,2\n" * 100)
    put("empty.csv", "")
    put("headerless.csv", "a,,c\n1,2,3\n")
    put("good.csv", "a,b\n1,2\n")
    put("ignored.parquet", "not a csv")
    val gates = QualityGates(maxFileSizeMb = Some(0.0001))
    val (ok, rejects) = Sources.fileGate(spark, dir.toString, gates)
    assert(ok.map(p => new java.io.File(p).getName) == Seq("good.csv"))
    assert(rejects.toSet == Set(
      "oversized.csv" -> "file_too_large",
      "empty.csv" -> "empty_file",
      "headerless.csv" -> "missing_header"))
    // gates can be individually disabled from config
    val lax = QualityGates(maxFileSizeMb = None, requireHeaders = false,
      skipEmptyFiles = false)
    val (okLax, rejectsLax) = Sources.fileGate(spark, dir.toString, lax)
    assert(rejectsLax.isEmpty && okLax.size == 4)
  }

  test("GraftSession: an empty env gives local[nproc], 32 partitions, UTC, UI off") {
    val s = GraftSession.settings(Map.empty)
    assert(s("spark.master") ==
      s"local[${Runtime.getRuntime.availableProcessors}]")
    assert(s("spark.sql.shuffle.partitions") == "32")
    assert(s("spark.sql.session.timeZone") == "UTC")
    assert(s("spark.ui.enabled") == "false")
    assert(s("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(!s.contains("spark.executor.extraClassPath"),
      "a local master needs no executor classpath")
    val env = GraftSession.settings(Map("SPARK_GRAFT_CPUS" -> "3",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "7"))
    assert(env("spark.master") == "local[3]")
    assert(env("spark.sql.shuffle.partitions") == "7")
    assert(GraftSession.settings(Map("SPARK_GRAFT_CPUS" -> "3",
      "SPARK_GRAFT_MASTER" -> "local[2,4]"))("spark.master") == "local[2,4]")
  }

  test("GraftSession: a local-cluster master ships graft's classes to executors") {
    for (settings <- Seq(
        GraftSession.settings(Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,1,1024]")),
        GraftSession.settings(Map.empty,
          Map("spark.master" -> "local-cluster[4,8,4096]")))) {
      val cp = java.nio.file.Paths.get(settings("spark.executor.extraClassPath"))
      assert(java.nio.file.Files.isDirectory(cp), cp)
      assert(java.nio.file.Files.isRegularFile(cp.resolve("graft/SparkEntry.class")),
        s"$cp lacks graft/SparkEntry.class")
    }
  }

  test("GraftSession: spill-rung keys appear only with SPARK_GRAFT_MEMORY_FRACTION") {
    val spillKeys = GraftSession.spillRung("0.5").keySet
    assert(spillKeys.contains("spark.memory.fraction"))
    assert(GraftSession.settings(Map.empty).keySet.intersect(spillKeys).isEmpty)
    val starved = GraftSession.settings(Map("SPARK_GRAFT_MEMORY_FRACTION" -> "0.12"))
    assert(starved("spark.memory.fraction") == "0.12")
    assert(spillKeys.subsetOf(starved.keySet))
    assert(starved("spark.unsafe.sorter.spill.read.ahead.enabled") == "false")
  }

  test("GraftSession: caller conf wins over env and defaults") {
    val env = Map("SPARK_GRAFT_MASTER" -> "local[2]",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "7",
      "SPARK_GRAFT_MEMORY_FRACTION" -> "0.12")
    val s = GraftSession.settings(env, Map(
      "spark.master" -> "local[1]",
      "spark.sql.shuffle.partitions" -> "5",
      "spark.memory.fraction" -> "0.3",
      "spark.scheduler.mode" -> "FAIR"))
    assert(s("spark.master") == "local[1]")
    assert(s("spark.sql.shuffle.partitions") == "5")
    assert(s("spark.memory.fraction") == "0.3")
    assert(s("spark.scheduler.mode") == "FAIR")
    assert(s("spark.sql.session.timeZone") == "UTC")
  }
}
