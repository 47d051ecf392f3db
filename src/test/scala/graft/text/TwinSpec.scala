package graft.text

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Twin-equivalence tests (SURVEY.md §5.2 item 3): the pure Scala form
  * (used inside the typed OCR stage) and the Catalyst Column form
  * (used on the SQL path) of every text operator must agree
  * byte-for-byte on adversarial inputs.
  */
class TwinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val pieces = Array(
    "أ", "إ", "آ", "ة", "ي", "ى", "ء", "ئ", "ؤ", "نظام", "محكمة",
    "ً", "ٌ", "ّ", "ْ", "ـ", "۔", "؟", "؎", " ", "  ", "\t", "\n",
    "abc", "123", ".", "عُقُود", "الـكتاب", "", "مادة 12", "1445/11/03"
  )

  private def randomStrings(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString
    }
  }

  test("normalizeBasic: Scala twin == Column twin on 400 adversarial strings") {
    val inputs = randomStrings(400)
    val got = inputs.toDF("s")
      .select(ReferenceNormalizer.normalizeBasicCol(col("s")).as("n")).as[String].collect()
    inputs.zip(got).foreach { case (in, colResult) =>
      assert(ArabicNormalizer.normalizeBasic(in) == colResult, s"input=${in.map(c => f"U+${c.toInt}%04x").mkString(",")}")
    }
  }

  test("normalizeEnhanced: Scala twin == Column twin") {
    val inputs = randomStrings(400)
    val got = inputs.toDF("s")
      .select(ReferenceNormalizer.normalizeEnhancedCol(col("s")).as("n")).as[String].collect()
    inputs.zip(got).foreach { case (in, colResult) =>
      assert(ArabicNormalizer.normalizeEnhanced(in) == colResult, s"input=$in")
    }
  }

  test("single-pass twins: normalize*Fast == regex forms on adversarial strings") {
    val extra = Seq("", "\f", "\r\n", "ًٌّ", " ً ", "ـً", "؟؟", "aً\fb",
      // control chars are not \s but String.trim strips them at edges
      "\u0001abc", "abc\u0007", " \u0001a ", "a\u0002b", "\u0001\u0001")
    (randomStrings(600) ++ extra ++ extra.map(e => e + e + " x " + e)).foreach { s =>
      assert(ArabicNormalizer.normalizeBasicFast(s) == ArabicNormalizer.normalizeBasic(s),
        s"basic fast diverges on ${s.map(c => f"U+${c.toInt}%04x").mkString(",")}")
      assert(ArabicNormalizer.normalizeEnhancedFast(s) == ArabicNormalizer.normalizeEnhanced(s),
        s"enhanced fast diverges on ${s.map(c => f"U+${c.toInt}%04x").mkString(",")}")
    }
    assert(ArabicNormalizer.normalizeBasicFast(null) == "")
    assert(ArabicNormalizer.normalizeEnhancedFast(null) == "")
  }

  test("native Catalyst expression == regex twin (codegen path + SQL registration)") {
    import graft.functions.GraftFunctions
    val inputs = randomStrings(400)
    val df = inputs.toDF("s")
    val gotB = df.select(GraftFunctions.normalizeArabicBasic(col("s")).as("n")).as[String].collect()
    val gotE = df.select(GraftFunctions.normalizeArabicEnhanced(col("s")).as("n")).as[String].collect()
    inputs.zip(gotB).foreach { case (in, got) =>
      assert(got == ArabicNormalizer.normalizeBasic(in),
        s"native basic diverges on ${in.map(c => f"U+${c.toInt}%04x").mkString(",")}")
    }
    inputs.zip(gotE).foreach { case (in, got) =>
      assert(got == ArabicNormalizer.normalizeEnhanced(in), s"native enhanced diverges on '$in'")
    }
    // SQL surface
    GraftFunctions.register(spark)
    df.createOrReplaceTempView("twin_probe")
    val viaSql = spark.sql("SELECT normalize_arabic_basic(s) FROM twin_probe").as[String].collect()
    assert(viaSql.toSeq == inputs.map(ArabicNormalizer.normalizeBasic))
    // and it must stay inside whole-stage codegen over a real scan (a
    // pure-local relation constant-folds to LocalTableScan, so probe
    // the parquet-backed path)
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(GraftFunctions.normalizeArabicBasic(col("text")))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen'd operators in the
    // simple plan string; the Project hosting the expression must carry one
    assert(plan.contains("*(1) Project [normalize_arabic_basic"), plan)
  }

  test("SparkSessionExtensions: functions injected through the extension mechanism") {
    // getOrCreate on the suite's shared context would skip extensions,
    // so drive the exact mechanism session construction uses: apply the
    // extension class to a SparkSessionExtensions and register into a
    // live function registry (SparkSession.applyExtensions +
    // BaseSessionStateBuilder.functionRegistry do precisely this)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftSparkExtensions().apply(ext)
    org.apache.spark.sql.graft.ColumnBridge.registerExtensionFunctions(
      ext, spark.sessionState.functionRegistry)
    val got = spark.sql("SELECT normalize_arabic_basic('أحمد  مُحَمَّد') AS n")
      .collect().head.getString(0)
    assert(got == ArabicNormalizer.normalizeBasic("أحمد  مُحَمَّد"))
    val got2 = spark.sql("SELECT normalize_arabic_enhanced('سؤال؟') AS n")
      .collect().head.getString(0)
    assert(got2 == ArabicNormalizer.normalizeEnhanced("سؤال؟"))
    // the sketch family reaches plain SQL through the same mechanism;
    // each result is cross-checked against the Column-API path
    val row = spark.sql(
      "SELECT sorted_long_jaccard(shingle_hashes(array('a','b','c','d'), 2), " +
        "shingle_hashes(array('a','b','c','x'), 2)) AS j, " +
        "simhash_poly(array('aa','bb')) AS sp, " +
        "size(minhash_poly_buckets(array('aa','bb'), 4, 2)) AS nb").collect().head
    // shingles {ab,bc,cd} vs {ab,bc,cx}: |∩|=2, |∪|=4
    assert(row.getDouble(0) == 0.5, s"sql shingle jaccard: ${row.getDouble(0)}")
    assert(row.getLong(1) != 0L)
    assert(row.getInt(2) == 4)
    val chunks = spark.sql(
      "SELECT chunk_tokens(array('a','b','c','d','e'), 3, 1) AS c").collect().head.getSeq[String](0)
    assert(chunks == Seq("a b c", "c d e"), s"sql chunks: $chunks")
    // round-4 additions through the same mechanism
    val r4 = spark.sql(
      "SELECT sorted_long_containment(shingle_hashes(array('a','b'), 1), " +
        "shingle_hashes(array('a','b','c','d'), 1)) AS c, " +
        "token_term_freqs(array('a','b','a','c'), array('a','z')) AS tf, " +
        "size(minhash_poly_buckets_from_combined(shingle_hashes(array('aa','bb'), 1), 4, 2)) AS nb")
      .collect().head
    assert(r4.getDouble(0) == 1.0, s"sql containment: ${r4.getDouble(0)}")
    assert(r4.getSeq[Int](1) == Seq(2, 0), s"sql token_term_freqs: ${r4.getSeq[Int](1)}")
    assert(r4.getInt(2) == 4)
    // ...and the combined-hash bucket route agrees with the string route
    val eq = spark.sql(
      "SELECT minhash_poly_buckets_from_combined(shingle_hashes(array('aa','bb'), 1), 4, 2) = " +
        "minhash_poly_buckets(array('aa','bb'), 4, 2) AS same").collect().head
    assert(eq.getBoolean(0), "bucket routes disagree in SQL")
    // term-list contract: a non-literal terms array raises the designed error
    val errT = intercept[Exception](
      spark.sql("SELECT token_term_freqs(array('a'), array(string(id))) FROM range(1)").collect())
    assert(errT.getMessage.contains("LITERAL"), s"unhelpful error: ${errT.getMessage}")
    // parameter positions must be literals — a column there must raise
    // the designed contract error, not a bare Catalyst eval failure
    val err = intercept[Exception](
      spark.sql("SELECT shingle_hashes(array('a'), id) FROM range(1)").collect())
    assert(err.getMessage.contains("LITERAL"), s"unhelpful error: ${err.getMessage}")
    // and wrong arity names the function, not an index
    val err2 = intercept[Exception](
      spark.sql("SELECT minhash_poly_buckets(array('a'), 4)").collect())
    assert(err2.getMessage.contains("minhash_poly_buckets takes 3"), s"got: ${err2.getMessage}")
  }

  test("normalization idempotence: enhanced always; basic modulo its double-space quirk") {
    randomStrings(200).foreach { s =>
      // enhanced re-collapses whitespace after diacritic removal
      // (smart-structured.py:342) -> idempotent
      val e = ArabicNormalizer.normalizeEnhanced(s)
      assert(ArabicNormalizer.normalizeEnhanced(e) == e, s"enhanced not idempotent on '$s'")
      // basic can leave a double space where a diacritic-only token was
      // removed (faithful reference quirk, smart.py:196-201): a second
      // pass may collapse it — idempotent only on diacritic-free input
      val once = ArabicNormalizer.normalizeBasic(s)
      val diacriticFree = !s.exists(ArabicNormalizer.DiacriticChars.contains(_))
      if (diacriticFree)
        assert(ArabicNormalizer.normalizeBasic(once) == once, s"basic not idempotent on '$s'")
    }
  }

  test("analyzer: Scala twin == Column twin (type, confidence, articles, dates)") {
    val inputs = Seq(
      "نظام المحكمه وقرار الحكم في القضيه",
      "عقد اتفاقية شراكه. مادة 1. مادة 2. مادة 3",
      "مجموعه أحكام قضائية سابقة",
      "لا شيء قانوني هنا",
      "plain english text",
      "حكم حكم حكم نظام نظام نظام", // tie: regulation wins only if strictly greater
      "بتاريخ 1444/2/7 وايضا 1445هـ",
      ""
    )
    val df = inputs.toDF("text")
    val analyzed = DocumentAnalyzer.analyzeDf(df.withColumn("doc_id", monotonically_increasing_id()),
        lower(col("text")), "doc_id")
      .orderBy("doc_id")
      .select("document_type", "confidence").as[(String, Double)].collect()
    val extra = df.select(
      DocumentAnalyzer.articleCountCol(col("text")).as("a"),
      DocumentAnalyzer.containsDatesCol(col("text")).as("d")).as[(Int, Boolean)].collect()
    inputs.zipWithIndex.foreach { case (in, i) =>
      val want = DocumentAnalyzer.analyze(in)
      assert(analyzed(i)._1 == want.documentType, s"type for '$in'")
      assert(math.abs(analyzed(i)._2 - want.confidence) < 1e-12, s"conf for '$in'")
      assert(extra(i)._1 == want.articleCount, s"articles for '$in'")
      assert(extra(i)._2 == want.containsDates, s"dates for '$in'")
    }
  }

  test("analyzer: reference tie semantics — first category wins, zero -> Unknown") {
    // 3x court_ruling terms vs 3x regulation terms: regulation is listed
    // first and reached max first (strict >), court_ruling never exceeds
    val a = DocumentAnalyzer.analyze("نظام نظام نظام حكم حكم حكم")
    assert(a.documentType == "regulation")
    assert(DocumentAnalyzer.analyze("hello world").documentType == "Unknown")
    assert(DocumentAnalyzer.analyze("حكم").confidence == 0.1)
    assert(DocumentAnalyzer.analyze("حكم " * 20).confidence == 1.0)
  }

  test("key patterns: first 5 '.'-parts, stripped, >10 chars, truncated to 100") {
    val t = "قصير. " + ("ا" * 120) + ". نص متوسط الطول هنا. x. آخر جمله طويله بما يكفي. تجاهل هذا لانه السادس"
    val want = DocumentAnalyzer.analyze(t).keyPatterns
    val got = Seq(t).toDF("text")
      .select(DocumentAnalyzer.keyPatternsCol(col("text")).as("kp")).as[Seq[String]].collect().head
    assert(got == want)
    assert(want.forall(_.length <= 100))
    assert(want.size == 3)
  }
}
