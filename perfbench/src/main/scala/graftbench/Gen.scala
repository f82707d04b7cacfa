package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seed-pinned input generation. Every value is a pure function of
  * (seed, row id, column salt) through xxhash64, so the same seed gives
  * the same rows whatever the partitioning, and a different seed gives
  * different rows. Inputs are written to parquet once per generation and
  * the workloads read them back, as a user's job reads its table.
  */
object Gen {

  /** Uniform double in [0, 1) for (seed, id, salt). */
  def unif(seed: Long, id: Column, salt: Column): Column =
    (xxhash64(lit(seed), id, salt).bitwiseAND(lit((1L << 53) - 1)).cast("double") /
      lit(math.pow(2, 53)))
  def unif(seed: Long, id: Column, salt: Int): Column = unif(seed, id, lit(salt))

  /** Integer in [0, n) for (seed, id, salt). */
  def pick(seed: Long, id: Column, salt: Column, n: Int): Column =
    floor(unif(seed, id, salt) * lit(n.toDouble)).cast("int")
  def pick(seed: Long, id: Column, salt: Int, n: Int): Column = pick(seed, id, lit(salt), n)

  /** Order-independent digest of a frame: row count and the wrapping sum
    * of a per-row hash over every column. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  // ---- exact_mixed ------------------------------------------------------

  val CatLevels = 300

  /** Lineitem-like rows: one near-continuous feature, three
    * low-cardinality ones, one string categorical with CatLevels levels,
    * and a 3-class integer label from a planted rule with 10% label noise.
    * Ids below CatLevels take every category in turn, so each level is
    * seen in training. */
  def exactMixed(spark: SparkSession, seed: Long, from: Long, n: Long, files: Int): DataFrame = {
    val id = col("id")
    val catIdx = when(id < CatLevels, (id % CatLevels).cast("int"))
      .otherwise(pick(seed, id, 5, CatLevels))
    val catEffect = unif(seed, catIdx.cast("long"), 6)
    val price = round(lit(900.0) + unif(seed, id, 1) * lit(104100.0), 2)
    val qty = (pick(seed, id, 2, 50) + 1).cast("double")
    val disc = pick(seed, id, 3, 11).cast("double") / lit(100.0)
    val tax = pick(seed, id, 4, 9).cast("double") / lit(100.0)
    spark.range(from, from + n, 1, files)
      .select(id, price.as("price"), qty.as("qty"), disc.as("disc"), tax.as("tax"),
        catIdx.as("cat_idx"), catEffect.as("cat_effect"))
      .select(
        col("id"), col("price"), col("qty"), col("disc"), col("tax"),
        format_string("c%03d", col("cat_idx")).as("cat"),
        (lit(0.45) * col("price") / lit(105000.0) + lit(0.25) * col("qty") / lit(50.0) +
          lit(0.2) * col("cat_effect") + lit(0.1) * col("disc") * lit(10.0)).as("z"))
      .select(
        col("id"), col("price"), col("qty"), col("disc"), col("tax"), col("cat"),
        {
          val clean = when(col("z") < 0.36, 0).when(col("z") < 0.5, 1).otherwise(2)
          when(unif(seed, col("id"), 7) < 0.1, (clean + 1) % 3).otherwise(clean)
            .cast("int").as("label")
        })
  }

  val WideFeatures = 32

  /** Wide continuous rows for the binned fit: WideFeatures features with
    * assorted shapes (uniform, squared, lognormal-like, 200-step grid),
    * and a 3-class integer label from a planted rule over six of them with
    * 10% label noise. */
  def wide(spark: SparkSession, seed: Long, from: Long, n: Long, files: Int): DataFrame = {
    val id = col("id")
    val feats = (0 until WideFeatures).map { j =>
      val u = unif(seed, id, 100 + j)
      val v = j % 4 match {
        case 0 => u
        case 1 => u * u
        case 2 => exp(u * lit(3.0))
        case _ => floor(u * lit(200.0)) / lit(200.0)
      }
      v.as(f"f$j%02d")
    }
    val z = (0 until 6).map(j => col(f"f$j%02d") / lit(if (j % 4 == 2) math.exp(3.0) else 1.0))
      .reduce(_ + _)
    spark.range(from, from + n, 1, files)
      .select(id +: feats: _*)
      .select(col("id") +: feats.indices.map(j => col(f"f$j%02d")) :+ {
        val clean = when(z < 2.2, 0).when(z < 2.8, 1).otherwise(2)
        when(unif(seed, col("id"), 131) < 0.1, (clean + 1) % 3).otherwise(clean)
          .cast("int").as("label")
      }: _*)
  }

  // ---- corpus_dedup -----------------------------------------------------

  val Vocabulary = 5000
  val DocWords = 40
  val Dim = 64

  /** Documents of DocWords words over a Vocabulary-word lexicon. The first
    * `twins` documents each get a near-duplicate twin with id n + i whose
    * last word differs, so the twin pair's 3-shingle Jaccard is 37/39.
    * Words and vector components are built with array functions rather
    * than one column per element, which keeps generated code small. */
  def documents(spark: SparkSession, seed: Long, n: Long, twins: Long): DataFrame = {
    val id = col("id")
    val src = when(id >= n, id - n).otherwise(id)
    val words = transform(sequence(lit(0), lit(DocWords - 1)), j => {
      val salt = when(j === DocWords - 1 && id >= n, j + 1000).otherwise(j)
      concat(lit("w"), pick(seed, src, salt, Vocabulary).cast("string"))
    })
    spark.range(0, n + twins, 1, 4)
      .select(id.as("doc_id"), array_join(words, " ").as("text"))
  }

  /** Dim-dimensional float embeddings, components uniform in [-1, 1). The
    * first `twins` vectors each get a twin with id n + i, scaled by
    * 1.002 / 0.998 on alternate components: cosine ~0.999998, far above
    * any pair of independent vectors. */
  def embeddings(spark: SparkSession, seed: Long, n: Long, twins: Long): DataFrame = {
    val id = col("id")
    val src = when(id >= n, id - n).otherwise(id)
    val comps = transform(sequence(lit(0), lit(Dim - 1)), j => {
      val v = unif(seed, src, j + 200) * lit(2.0) - lit(1.0)
      val scale = when(id < n, lit(1.0)).when(j % 2 === 0, lit(1.002)).otherwise(lit(0.998))
      (v * scale).cast("float")
    })
    spark.range(0, n + twins, 1, 4)
      .select(id.as("vec_id"), comps.as("embedding"))
  }

  /** Writes one workload's inputs as parquet under `dir`; returns the
    * path of each named frame. Training frames carry no id column, since
    * the trainer takes every non-label column as a feature. */
  def generate(spark: SparkSession, workload: Workload, seed: Long, dir: String): Map[String, String] = {
    val frames: Seq[(String, DataFrame)] = workload match {
      case w: ExactMixed => Seq(
        "train" -> exactMixed(spark, seed, 0, w.trainRows, files = 4).drop("id"),
        // many small files, so one slow core cannot stall a scoring pass
        "test" -> exactMixed(spark, seed, w.trainRows, w.testRows, files = 16),
        "wide" -> wide(spark, seed, 0, w.wideRows, files = 4).drop("id"))
      case w: CorpusDedup => Seq(
        "docs" -> documents(spark, seed, w.docs, w.twins),
        "vecs" -> embeddings(spark, seed, w.vectors, w.twins))
    }
    frames.map { case (name, df) =>
      val p = s"$dir/$name.parquet"
      df.write.mode("overwrite").parquet(p)
      name -> p
    }.toMap
  }
}
