package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TextFunctionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def one(text: String) = {
    import org.apache.spark.sql.functions.col
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(text)), 1),
      StructType(Seq(StructField("text", StringType))))
    df.select(
      TextFunctions.wsTokenCount(col("text")).as("ws"),
      TextFunctions.bpeishTokenCount(col("text")).as("bpe"),
      TextFunctions.punctRatio(col("text")).as("punct"),
      TextFunctions.stopwordRatio(col("text")).as("stop"),
      TextFunctions.meanWordLength(col("text")).as("mwl"),
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.fingerprint(col("text")).as("fp")
    ).head()
  }

  private def signals(text: String) = {
    import org.apache.spark.sql.functions.col
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(text)), 1),
      StructType(Seq(StructField("text", StringType))))
    df.select(
      TextFunctions.dupTokenFraction(col("text")).as("dupTok"),
      TextFunctions.dupLineFraction(col("text")).as("dupLine"),
      TextFunctions.symbolRatio(col("text")).as("sym"),
      TextFunctions.scrubPii(col("text")).as("scrubbed")
    ).head()
  }

  test("repetition signals: duplicate tokens and lines are counted, clean text scores 0") {
    val spammy = signals("buy now buy now buy now")
    assert(math.abs(spammy.getDouble(0) - (1.0 - 2.0 / 6.0)) < 1e-12)
    val multi = signals("header\nbody one\nheader\nbody two\nheader")
    assert(math.abs(multi.getDouble(1) - (1.0 - 3.0 / 5.0)) < 1e-12)
    val clean = signals("a perfectly normal sentence.\nanother line here")
    assert(clean.getDouble(0) == 0.0 && clean.getDouble(1) == 0.0)
    val empty = signals("")
    assert(empty.getDouble(0) == 0.0 && empty.getDouble(1) == 0.0 && empty.getDouble(2) == 0.0)
  }

  test("symbol ratio counts only non-letter non-digit non-basic-punct chars") {
    // 4 symbol chars (#, {, }, $) out of 20 total
    val r = signals("code {x} #tag $5 ok!").getDouble(2)
    assert(math.abs(r - 4.0 / 20.0) < 1e-12)
  }

  test("PII scrub: emails, urls, digit runs -> typed placeholders; order protects email digits") {
    val s = signals(
      "mail bob123456@example.com or visit https://example.com/a?id=1234567 ref 9876543 end")
      .getString(3)
    assert(s == "mail <EMAIL> or visit <URL> ref <NUM> end", s)
    // short digit runs survive (under the 6-digit threshold)
    assert(signals("call 12345 now").getString(3) == "call 12345 now")
  }

  test("SQL surface: graft_* functions equal the Column API") {
    import org.apache.spark.sql.functions.col
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "the quick brown fox is here and the dog too"),
        Row(2L, "der hund und die katze ist da, ja!")), 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    df.createOrReplaceTempView("sql_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_lang_id(text) AS lang, graft_quality(text) AS q,
        |       graft_fingerprint(text) AS fp, graft_ws_tokens(text) AS ws
        |FROM sql_docs""".stripMargin)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getString(3), r.getInt(4))).toMap
    val viaApi = df.select(col("doc_id"),
        TextFunctions.langId(col("text")), TextFunctions.qualityScore(col("text")),
        TextFunctions.fingerprint(col("text")), TextFunctions.wsTokenCount(col("text")))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getString(3), r.getInt(4))).toMap
    assert(viaSql == viaApi)
    assert(viaSql(2L)._1 == "de")
    // the r5 signal/scrub functions ride the same one-implementation rule
    val sig = spark.sql(
      """SELECT graft_scrub_pii('mail me bob123456@a.com ok') AS s,
        |       graft_dup_token_frac('x x y') AS dt,
        |       graft_dup_line_frac('a\nb\na') AS dl,
        |       graft_symbol_ratio('ab {}') AS sr""".stripMargin).head()
    assert(sig.getString(0) == "mail me <EMAIL> ok")
    assert(math.abs(sig.getDouble(1) - (1.0 - 2.0 / 3.0)) < 1e-12)
    assert(math.abs(sig.getDouble(2) - (1.0 - 2.0 / 3.0)) < 1e-12)
    assert(math.abs(sig.getDouble(3) - 2.0 / 5.0) < 1e-12)
    // the r14 normalization function rides the same rule
    assert(spark.sql("SELECT graft_normalize_text('  a\\tb  c ') AS n")
      .head().getString(0) == "a b c")
  }

  test("token counts") {
    val r = one("Hello world, this is fine.")
    assert(r.getAs[Int]("ws") == 5)
    // Hello|world|,|this|is|fine|. = 7
    assert(r.getAs[Int]("bpe") == 7)
  }

  test("punctuation ratio counts only .,!?;: characters") {
    val r = one("ab.,!?") // 4 punct of 6 chars
    assert(math.abs(r.getAs[Double]("punct") - 4.0 / 6.0) < 1e-12)
  }

  test("stopword ratio and mean word length") {
    val r = one("the cat sat") // 1 stopword of 3; lengths 3,3,3
    assert(math.abs(r.getAs[Double]("stop") - 1.0 / 3.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("mwl") - 3.0) < 1e-12)
  }

  test("language id picks marker-stopword argmax, und when none") {
    assert(one("the cat and the dog is here").getAs[String]("lang") == "en")
    assert(one("der hund und die katze ist da").getAs[String]("lang") == "de")
    assert(one("le chat et la porte est ici").getAs[String]("lang") == "fr")
    assert(one("el gato y los perros es aqui").getAs[String]("lang") == "es")
    assert(one("xyzzy plugh quux").getAs[String]("lang") == "und")
  }

  test("fingerprint collapses formatting variants") {
    val a = one("Hello,   World!").getAs[String]("fp")
    val b = one("hello world").getAs[String]("fp")
    val c = one("different text").getAs[String]("fp")
    assert(a == b && a != c)
  }

  test("extractUrls + urlDomain: ordered extraction, lowercased hosts, non-URL empty") {
    import org.apache.spark.sql.functions.{col, explode}
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("see http://A.Example.com/p/1 and https://b.org/x?q=2 end"),
        Row("no links here")), 1),
      StructType(Seq(StructField("text", StringType))))
    val urls = df.select(explode(TextFunctions.extractUrls(col("text"))).as("u"))
      .select(col("u"), TextFunctions.urlDomain(col("u")).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(urls == Seq(
      ("http://A.Example.com/p/1", "a.example.com"),
      ("https://b.org/x?q=2", "b.org")), s"got $urls")
    assert(df.select(TextFunctions.urlDomain(col("text")).as("d"))
      .collect().forall(_.getString(0) == "" || urls.nonEmpty))
  }

  test("tokenEntropy: hand-checked nats, uniform max, repetition minimum, empty zero") {
    import org.apache.spark.sql.functions.col
    def ent(text: String): Double = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(text)), 1),
        StructType(Seq(StructField("text", StringType))))
      df.select(TextFunctions.tokenEntropy(col("text")).as("e")).head().getDouble(0)
    }
    // counts a=3, b=1, c=1 over n=5: ln(5) - 3*ln(3)/5 = 0.950271
    assert(ent("a b a c a") == 0.950271)
    // all-distinct = uniform maximum ln(4)
    assert(ent("w x y z") == math.rint(math.log(4) * 1e6) / 1e6)
    // pure repetition = 0
    assert(ent("spam spam spam spam") == 0.0)
    assert(ent("") == 0.0 && ent("   ") == 0.0)
    // case/whitespace normalization folds variants together
    assert(ent("A  a\ta") == 0.0)
  }

  test("normalizeText strips controls, collapses whitespace, keeps case/punct") {
    import org.apache.spark.sql.functions.col
    def norm(text: String): String = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(text)), 1),
        StructType(Seq(StructField("text", StringType))))
      df.select(TextFunctions.normalizeText(col("text")).as("n")).head().getString(0)
    }
    assert(norm("\u0001\t Hello,  World! \u0007tail\t\t end ") == "Hello, World! tail end")
    assert(norm("already clean") == "already clean")
    assert(norm("Keep CASE & punct-uation!") == "Keep CASE & punct-uation!")
    assert(norm("line1\nline2\r\nline3") == "line1 line2 line3")
    assert(norm("") == "")
  }

  test("quality score bounded in [0,1] and favors clean prose") {
    val clean = one("the quick brown fox jumps over the lazy dog and it is a fine day in the park today")
    val junk = one("!!!;;;...???")
    assert(clean.getAs[Double]("q") > junk.getAs[Double]("q"))
    for (r <- Seq(clean, junk)) {
      val q = r.getAs[Double]("q")
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  // ---- hashing-trick document vectors --------------------------------------

  private def hv(text: String, dim: Int = 16): Seq[Double] = {
    import org.apache.spark.sql.functions.col
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(text)), 1),
      StructType(Seq(StructField("text", StringType))))
    df.select(TextFunctions.hashedVector(col("text"), dim).as("v"))
      .collect().head.getSeq[Double](0)
  }

  test("hashedVector matches an explode/groupBy reference computation") {
    import org.apache.spark.sql.functions._
    val texts = Seq("the cat sat on the mat", "one two three two one",
      "  Mixed   CASE  tokens  ", "")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 2),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    val dim = 16
    val got = df.select(col("id"), TextFunctions.hashedVector(col("text"), dim).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // reference: explode tokens, bucket/sign via the same hash, sum
    val ref = df.select(col("id"),
        explode_outer(filter(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "),
          t => length(t) > lit(0))).as("t"))
      .select(col("id"),
        when(col("t").isNotNull, pmod(xxhash64(col("t")), lit(dim.toLong))).as("b"),
        when(pmod(xxhash64(concat(col("t"), lit("#sgn"))), lit(2L)) === 0, lit(1.0))
          .otherwise(lit(-1.0)).as("s"))
      .groupBy("id", "b").agg(sum("s").as("w"))
      .collect().groupBy(_.getLong(0)).map { case (id, rows) =>
        val m = rows.filter(!_.isNullAt(1)).map(r => r.getLong(1).toInt -> r.getDouble(2)).toMap
        id -> (0 until dim).map(i => m.getOrElse(i, 0.0))
      }
    texts.indices.foreach { i =>
      assert(got(i.toLong) == ref(i.toLong), s"doc $i")
    }
    assert(got(3L).forall(_ == 0.0), "empty text -> zero vector")
  }

  test("hashedVector: repeated tokens accumulate, sign is per-token-stable") {
    val a = hv("alpha alpha alpha")
    val b = hv("alpha")
    assert(a.map(math.abs).sum == 3.0)
    assert(b.map(math.abs).sum == 1.0)
    assert(a.indexWhere(_ != 0.0) == b.indexWhere(_ != 0.0), "same bucket")
    assert(math.signum(a.find(_ != 0.0).get) == math.signum(b.find(_ != 0.0).get))
  }

  test("hashedVector feeds the ANN machinery: planted duplicate is top-1") {
    import org.apache.spark.sql.functions.col
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog", // exact dup of 1
      3L -> "completely different words about spark engines and parquet files",
      4L -> "yet another unrelated sentence mentioning benchmarks and tokens")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map { case (i, t) => Row(i, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val vecs = df.select(col("doc_id"),
      TextFunctions.hashedVector(col("text"), 32).as("hvec"))
    val knn = graft.operators.Similarity
      .knnGraph(vecs, "doc_id", "hvec", k = 1, dim = 32, rowsPerBand = 8, bands = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(knn(1L)._1 == 2L && math.abs(knn(1L)._2 - 1.0) < 1e-12)
    assert(knn(2L)._1 == 1L && math.abs(knn(2L)._2 - 1.0) < 1e-12)
  }

  test("hashedVector dim bounds fail loudly") {
    import org.apache.spark.sql.functions.col
    intercept[IllegalArgumentException] { TextFunctions.hashedVector(col("text"), 1) }
    intercept[IllegalArgumentException] { TextFunctions.hashedVector(col("text"), 5000) }
  }
}
