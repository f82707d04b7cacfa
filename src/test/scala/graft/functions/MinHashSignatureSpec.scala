package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Dedup

/** The native MinHash kernel against the formula it replaced, which stays
  * here as the reference: explode the shingle set, `groupBy(id)`, and
  * `min(xxhash64(shingle, i))` per hash. Every comparison runs with the
  * generated code only and with the interpreted path only. */
class MinHashSignatureSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def inBothModes(body: String => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach { case (mode, wscg) =>
      withConf("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wscg)(body(mode))
    }

  /** The explode/groupBy signature as it shipped before the kernel: one
    * row per id holding at least one shingle, the sets of rows sharing
    * an id merged. */
  private def reference(sets: DataFrame, numHashes: Int): Map[Long, Seq[Long]] = {
    val mins = (0 until numHashes).map(i => min(xxhash64(col("__shingle"), lit(i))).as(s"__h_$i"))
    sets.select(col("id"), explode(col("sh")).as("__shingle"))
      .groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"__h_$i")): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
  }

  private def kernel(sh: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(sh), numHashes))

  /** `(id, signature or null)` per input row. */
  private def signed(sets: DataFrame, numHashes: Int): Seq[(Long, Seq[Long])] =
    sets.select(col("id"), kernel(col("sh"), numHashes)).collect().toSeq
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1)))

  private def setsDf(rows: Seq[(Long, Seq[String])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, s) => Row(i, s) }, 3),
      StructType(Seq(StructField("id", LongType), StructField("sh", ArrayType(StringType)))))

  /** Random sets over ASCII, Latin-1, CJK, emoji and control-character
    * shingles, plus every degenerate set. */
  private val sets: Seq[(Long, Seq[String])] = {
    val rnd = new scala.util.Random(11)
    val pool = Seq("a b", "b c", "the quick", "", " ", "\t", "\n", "é", "é", "naïve café",
      "中文 分词", "🙂", "🙂 🙃", "ß", "Σ σ ς", "\u0000", "x" * 200)
    val random = (0L until 60L).map(i =>
      i -> Seq.fill(1 + rnd.nextInt(6))(pool(rnd.nextInt(pool.size))))
    random ++ Seq(
      100L -> null,                        // NULL set: no signature
      101L -> Seq.empty[String],           // empty set: no signature
      102L -> Seq[String](null),           // only a NULL shingle
      103L -> Seq("a b", null, "é"),       // a NULL shingle among others
      104L -> Seq("only"),                 // one shingle
      105L -> Seq("a b", "a b", "a b"))    // repeats
  }

  test("signatures equal the explode/groupBy formula, NULL for a NULL or empty set") {
    val df = setsDf(sets)
    for (numHashes <- Seq(1, 32)) {
      val ref = reference(df, numHashes)
      assert(ref.keySet == sets.map(_._1).toSet -- Set(100L, 101L),
        "the reference drops exactly the NULL and empty sets")
      inBothModes { mode =>
        val got = signed(df, numHashes)
        assert(got.collect { case (i, null) => i }.toSet == Set(100L, 101L),
          s"$mode numHashes=$numHashes: only the NULL and empty sets sign NULL")
        val nonNull = got.filter(_._2 != null).toMap
        assert(nonNull == ref, s"$mode numHashes=$numHashes")
        assert(nonNull.values.forall(_.size == numHashes))
      }
    }
  }

  test("minHashSignatures: one row per non-empty set; rows sharing an id are not merged") {
    import spark.implicits._
    // unique ids are the precondition: a duplicated id keeps one signature
    // per row, and the old merge is their elementwise minimum
    val docs = Seq(1L -> "the quick brown fox", 2L -> "jumps over", 2L -> "a lazy dog",
      3L -> null, 4L -> "naïve café 中文 🙂").toDF("doc_id", "text")
    inBothModes { mode =>
      val rows = Dedup.minHashSignatures(docs, "doc_id", "text", numHashes = 8, shingleN = 2)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq
      assert(rows.map(_._1).sorted == Seq(1L, 2L, 2L, 3L, 4L), s"$mode: $rows")
      val sets = docs.select(col("doc_id").as("id"), Dedup.shingleSet(col("text"), 2).as("sh"))
      val ref = reference(sets, 8)
      val twos = rows.filter(_._1 == 2L).map(_._2)
      assert(twos.transpose.map(_.min) == ref(2L), s"$mode: merge of the duplicated id")
      assert(rows.filter(_._1 != 2L).toMap == ref - 2L, mode)
    }
  }

  test("numHashes below 1 and a non-string set are rejected") {
    intercept[IllegalArgumentException](MinHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal(null), 0))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(kernel(array(lit(1L)), 4)).collect())
    assert(e.getMessage.contains("minhash_signature"), e.getMessage)
  }
}
