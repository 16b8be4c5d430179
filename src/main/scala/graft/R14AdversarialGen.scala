package graft

import org.apache.spark.sql.SaveMode

/** Adversarial-corpus rung generator (r13 judge ask #3): a
  * `documents` table of the unicode pathologies web-crawl data
  * actually contains — the class the randomized-ASCII property specs
  * never reach — plus copies of the sf0.001 companion tables so the
  * full text/dedup gate subset runs against the dir unchanged:
  *
  *   tools/runmain.sh graft.R14AdversarialGen testdata-adv [bigDivisor]
  *   tools/localverify.sh testdata-adv <text/dedup subset>
  *
  * Families (doc_id ranges; deterministic, no RNG):
  *  - 0-99     ASCII word-salad baseline (fixture shape parity)
  *  - 100-119  NFC/NFD twin pairs (even=NFC, odd=NFD of the same text)
  *  - 120-139  zero-width: ZWSP/ZWJ/ZWNJ/WJ/BOM mid-word and between words
  *  - 140-159  RTL Arabic/Hebrew with bidi controls, mixed-direction lines
  *  - 160-179  unsegmented CJK/Thai, Devanagari with combining vowels
  *  - 180-199  casing traps: Turkish İ/ı, ß/ẞ, final sigma, full-width,
  *             Cherokee
  *  - 200-219  emoji: ZWJ families, skin tones, flags, variation selectors
  *  - 220-239  combining-mark stacks (Zalgo) + astral-plane alphabets
  *  - 240-259  degenerate sizes: empty, 1-char (1/2/3/4-byte), ws-only,
  *             and three NULL-text rows
  *  - 260-264  multi-MB docs incl. a 4 MB single token (no whitespace)
  *  - 265-284  lone/unpaired surrogates mid-text (sanitized at the
  *             parquet boundary — the documented ingest contract)
  *  - 285-299  markup with unicode entities, script blocks, PII lookalikes
  *  - 300-349  near-dup families in Arabic/CJK (one-word variants)
  *  - 350-369  exact unicode dup pairs (even=original, odd=byte-identical)
  *  - 370-499  ASCII filler so top-k/threshold fixtures keep their shape
  *
  * lang/source cycle the real generator domains; n_chars is the
  * CODEPOINT count (= both engines' `length()` on well-formed text).
  * Dev tool — regenerable, the dir is gitignored like the ScaleUp rungs.
  */
object R14AdversarialGen {
  // --- text families (pure data, visible to the spec too) ----------
  private val vocab = ("the fast key order sort table scan merge part window " +
    "small hash join batch stream spark value row data slow filter customer " +
    "line group query agg").split(" ")

  private def ascii(i: Int): String =
    (0 until 40).map(j => vocab((i * 7 + j * 13) % vocab.length)).mkString(" ")

  private val nfcBases = Seq(
    "café résumé naïve crème brûlée",
    "über straße münchen köln tür",
    "señor niño mañana jalapeño piñata",
    "fiançée cliché déjà vu élite",
    "smörgåsbord år äpple öga",
    "ćevapčići škoda život čaj",
    "phở bánh mì đường",
    "açaí são paulo coração",
    "tôkyô kyôto ōsaka hokkaidō",
    "garçon façade reçu leçon")

  // ZWSP, ZWJ, ZWNJ, word joiner, BOM — explicit escapes, the chars
  // are invisible in source
  private val zw = Seq("​", "‍", "‌", "⁠", "﻿")
  private def zeroWidth(i: Int): String = {
    val z = zw(i % zw.length)
    s"data${z}base merge$z sort zero${z}width token $z boundary case $i"
  }

  private val rtl = Seq(
    "مرحبا بالعالم البيانات كبيرة",
    "שלום עולם נתונים גדולים",
    "السلام عليكم ورحمة الله",
    "ברוך הבא למעבד הנתונים")
  private def rtlDoc(i: Int): String = {
    val base = rtl(i % rtl.length)
    i % 4 match {
      case 0 => base
      case 1 => s"‏${base}‎ mixed latin tail $i"  // RLM / LRM
      case 2 => s"\u202b$base\u202c embedded run $i"      // RLE / PDF
      case 3 => s"ltr head $i ‏$base"
    }
  }

  private val cjkThai = Seq(
    "大数据处理引擎性能优化分布式计算",
    "データ処理エンジンの性能最適化",
    "데이터 처리 엔진 성능 최적화",
    "การประมวลผลข้อมูลขนาดใหญ่",
    "डेटा प्रसंस्करण इंजन")
  private def cjkDoc(i: Int): String = cjkThai(i % cjkThai.length) + " " + i

  private val casing = Seq(
    "İstanbul ışık DİYARBAKIR kırmızı",   // Turkish dotted/dotless
    "STRASSE straße GROẞ groß WEISS weiß",                     // ß / ẞ
    "Σοφός ΟΔΥΣΣΕΥΣ σοφός", // final sigma
    "ＡＢＣ ａｂｃ １２３ fullwidth",          // full-width forms
    "ᎠᎡᎢ ꭰꭱꭲ cherokee case pair")
  private def casingDoc(i: Int): String = casing(i % casing.length) + " run " + i

  private val emoji = Seq(
    "family 👨‍👩‍👧‍👦 unit",
    "thumbs 👍🏽 tone 👍🏿 mixed",
    "flags 🇺🇸 🇩🇪 🇯🇵 row",
    "var ❤️ plain ❤ selector pair",
    "keycap 1️⃣ 2️⃣ sequence")
  private def emojiDoc(i: Int): String = emoji(i % emoji.length) + " doc " + i

  private def zalgo(i: Int): String = {
    val marks = "̴̧̨̀́̂̃̈̊͡"
    val stacked = "data".map(c => c + marks.take(4 + i % 7)).mkString
    s"$stacked 𝔸𝔹𝔺 𝕬𝕭 𐍈𐍉 tail $i"
  }

  private def degenerate(i: Int): Option[String] = (i % 10) match {
    case 0 => Some("")
    case 1 => Some("a")
    case 2 => Some("€")              // 3-byte char
    case 3 => Some("𐍈")        // 4-byte astral char
    case 4 => Some("   \t\n  ")
    case 5 => Some("é")              // 2-byte char
    case 6 => Some(".")
    case 7 => None                        // NULL text
    case 8 => Some("​")              // zero-width only
    case 9 => Some("ab")
  }

  /** `scale = 1` is the full multi-MB family; the `nobig` rung
    * passes a divisor so the same SHAPES (incl. the no-whitespace
    * single token) stay oracle-feasible for the DuckDB pair-kernel
    * re-derivations, which are O(doc·shingles) in SQL lists — the
    * full-size family put contamination_matrix's 13-gram oracle past
    * 60 s/17 GB (the declared-infeasible class the sf100 rung already
    * has). The big sizes stay covered on the full rung by the
    * row-local subset + AdversarialCorpusSpec.
    */
  private def bigDoc(i: Int, scale: Int = 1): String = i match {
    case 0 => ("the quick brown fox jumps over the lazy dog " * (23832 / scale)).trim
    case 1 => ("café 大数据 😀 merge " * (40000 / scale)).trim
    case 2 => "x" * ((4 << 20) / scale)   // single token, no whitespace
    case 3 => (("word\n" * 10) + "break\n") * (16000 / scale)
    case 4 => "😀" * (131072 / scale)
  }

  /** Unpaired surrogates embedded mid-text: a Java String can carry
    * them, UTF-8 encoding at the parquet boundary cannot — writing
    * sanitizes (encoder replacement), so the PERSISTED corpus is
    * well-formed and both engines read identical bytes. The family
    * exists to prove ingest never crashes and the contract is
    * explicit: graft guarantees well-formed UTF-8 *after* ingest.
    */
  private def loneSurrogate(i: Int): String = (i % 4) match {
    case 0 => s"head \ud800 tail $i"
    case 1 => s"head \udfff tail $i"
    case 2 => s"pair😀ok lone\ud83dend $i"
    case 3 => s"\udc00start and end\ud800"
  }

  private val markup = Seq(
    "<p>caf&eacute; &amp; cr&egrave;me</p><script>var x=1;</script>",
    "<div title=\"שלום\"><b>bold 中文</b></div>",
    "<a href=\"http://ex.com?q=%D9%85\">link</a> text &#x1F600; entity",
    "email unicodeр@example.com phone ０５５５-1234",
    "<table><tr><td>​cell</td></tr></table> trailing")
  private def markupDoc(i: Int): String = markup(i % markup.length) + " m" + i

  private def nearDup(i: Int): String = {
    val fam = i / 5
    val variant = i % 5
    val base = if (fam % 2 == 0)
      rtl(fam % rtl.length) + " وثيقة طويلة جدا " + ("كلمة " * 20).trim
    else
      (cjkThai(fam % cjkThai.length) + " ") * 8
    if (variant == 0) base
    else base.replace(base.split(" ")(variant % base.split(" ").length),
      s"variant$variant")
  }

  private val langs = Seq("en", "de", "fr", "es", "zh")

  /** Full corpus as (doc_id, text|null, lang, source). */
  def corpus(bigScale: Int = 1): Seq[(Long, Option[String], String, String)] = {
    def row(id: Int, t: Option[String]) =
      (id.toLong, t, langs(id % langs.length), s"src${id % 20}")
    val rows = Seq.newBuilder[(Long, Option[String], String, String)]
    for (i <- 0 until 100) rows += row(i, Some(ascii(i)))
    for (i <- 0 until 20) {
      val base = nfcBases(i / 2)
      val t = if (i % 2 == 0)
        java.text.Normalizer.normalize(base, java.text.Normalizer.Form.NFC)
      else java.text.Normalizer.normalize(base, java.text.Normalizer.Form.NFD)
      rows += row(100 + i, Some(t))
    }
    for (i <- 0 until 20) rows += row(120 + i, Some(zeroWidth(i)))
    for (i <- 0 until 20) rows += row(140 + i, Some(rtlDoc(i)))
    for (i <- 0 until 20) rows += row(160 + i, Some(cjkDoc(i)))
    for (i <- 0 until 20) rows += row(180 + i, Some(casingDoc(i)))
    for (i <- 0 until 20) rows += row(200 + i, Some(emojiDoc(i)))
    for (i <- 0 until 20) rows += row(220 + i, Some(zalgo(i)))
    for (i <- 0 until 20) rows += row(240 + i, degenerate(i))
    for (i <- 0 until 5) rows += row(260 + i, Some(bigDoc(i, bigScale)))
    for (i <- 0 until 20) rows += row(265 + i, Some(loneSurrogate(i)))
    for (i <- 0 until 15) rows += row(285 + i, Some(markupDoc(i)))
    for (i <- 0 until 50) rows += row(300 + i, Some(nearDup(i)))
    for (i <- 0 until 20)
      rows += row(350 + i, Some("exact twin " + nfcBases((i / 2) % nfcBases.length)))
    for (i <- 370 until 500) rows += row(i, Some(ascii(i)))
    rows.result()
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.R14AdversarialGen <outDir> [bigDivisor]")
    val outDir = args(0)
    // second arg: big-doc divisor (e.g. 64 -> the oracle-feasible
    // `nobig` rung with ~16-64 KB docs of the same shapes)
    val bigScale = if (args.length > 1) args(1).toInt else 1
    val spark = GraftSession("graft-adversarial-gen")
    import spark.implicits._

    // companion tables: byte-copy the sf0.001 files so every oracle
    // view resolves; documents is replaced below
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001")
    val dst = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dst)
    java.nio.file.Files.list(src).forEach { p =>
      if (p.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("documents"))
        java.nio.file.Files.copy(p, dst.resolve(p.getFileName.toString),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    java.nio.file.Files.deleteIfExists(dst.resolve("documents.parquet"))

    val df = corpus(bigScale).toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        // codepoint count == both engines' length() on the PERSISTED
        // (sanitized) text; null text -> null n_chars like the driver data
        "length(text) as n_chars")
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/documents.parquet")
    val n = spark.read.parquet(s"$outDir/documents.parquet").count()
    println(s"""{"probe":"adversarial_gen","out":"$outDir","docs":$n}""")
    spark.stop()
  }
}
