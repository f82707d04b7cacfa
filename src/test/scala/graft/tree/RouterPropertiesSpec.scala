package graft.tree

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.TestSpark

/** The level router's split table against the SQL it replaces: on random
  * partial trees over rows full of null, NaN, ±Inf, -0.0/0.0 and values
  * exactly at a threshold, every row's pending id equals Spark's
  * evaluation of the nested `when(c <= t).when(c > t).otherwise(null)`
  * chain that used to route rows.
  */
class RouterPropertiesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  private sealed trait T
  private final case class Split(slot: Int, threshold: Double, left: T, right: T) extends T
  private case object Pending extends T
  private case object Settled extends T

  private val Slots = 3
  private val thresholds = Seq(-1.5, -0.0, 0.0, 1.0, 2.5, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.NaN)

  private def treeGen(depth: Int): Gen[T] =
    if (depth == 0) Gen.oneOf(Pending, Settled)
    else Gen.frequency(
      1 -> Gen.const(Pending), 1 -> Gen.const(Settled),
      4 -> (for {
        s <- Gen.choose(0, Slots - 1)
        t <- Gen.oneOf(thresholds)
        l <- treeGen(depth - 1)
        r <- treeGen(depth - 1)
      } yield Split(s, t, l, r)))

  /** Every slot value at a threshold, on either side of one, or special. */
  private val valueGen: Gen[java.lang.Double] = Gen.frequency(
    2 -> Gen.const(null),
    4 -> Gen.oneOf(thresholds).map(Double.box),
    3 -> Gen.oneOf(thresholds.filterNot(_.isInfinite)).flatMap(t =>
      Gen.oneOf(t - 0.25, t + 0.25)).map(Double.box),
    2 -> Gen.choose(-3.0, 3.0).map(Double.box))

  private val caseGen: Gen[(T, Seq[Seq[java.lang.Double]])] = for {
    tree <- Gen.choose(0, 6).flatMap(treeGen)
    n <- Gen.choose(20, 60)
    rows <- Gen.listOfN(n, Gen.listOfN(Slots, valueGen))
  } yield (tree, rows)

  /** The old trainer's routing expression: pending ids in pre-order, NULL
    * for a settled row. */
  private def whenChain(tree: T): Column = {
    var idx = -1
    def walk(n: T): Column = n match {
      case Settled => lit(null).cast("int")
      case Pending =>
        idx += 1; lit(idx).cast("int")
      case Split(s, t, l, r) =>
        val c = col("__arr").getItem(s)
        val (lc, rc) = (walk(l), walk(r))
        when(c <= lit(t), lc).when(c > lit(t), rc).otherwise(lit(null).cast("int"))
    }
    walk(tree)
  }

  /** The tree as a pre-order split table, pending ids in pre-order. */
  private def router(tree: T): Router = {
    import scala.collection.mutable.ArrayBuffer
    val (slots, ts, ls, rs) = (ArrayBuffer[Int](), ArrayBuffer[Double](), ArrayBuffer[Int](),
      ArrayBuffer[Int]())
    var pendings = 0
    def walk(n: T): Int = n match {
      case Settled => Router.Settled
      case Pending =>
        pendings += 1; Router.pending(pendings - 1)
      case Split(s, t, l, r) =>
        val row = slots.size
        slots += s; ts += t; ls += 0; rs += 0
        ls(row) = walk(l)
        rs(row) = walk(r)
        row
    }
    val root = walk(tree)
    new Router(slots.toArray, ts.toArray, ls.toArray, rs.toArray, root)
  }

  test("split-table routing equals the when-chain on adversarial rows") {
    check(Prop.forAllNoShrink(caseGen) { case (tree, values) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(values.zipWithIndex.map { case (v, i) => Row(i, v) }, 2),
        StructType(Seq(StructField("i", IntegerType),
          StructField("__arr", ArrayType(DoubleType, containsNull = true)))))
      val expected = df.select(col("i"), whenChain(tree)).collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
      val rt = router(tree)
      // over Spark's own row layout, as the level job reads it
      val routed = df.queryExecution.toRdd.map(r => r.getInt(0) -> rt.route(r.getArray(1)))
        .collect().toMap
      val bad = expected.filter { case (i, id) => routed(i) != id }
      assert(bad.isEmpty, s"tree=$tree: rows ${bad.keys.map(i => values(i) -> (bad(i), routed(i)))}")
      bad.isEmpty
    }, minSuccessful = 40)
  }
}
