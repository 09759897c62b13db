package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.oracle.RefOracle
import graft.query.BM25

/** The native Catalyst expressions must agree with the test oracle's
  * independent greedy kernels (RefOracle's `nearPositions`/`uwCount`) on
  * arbitrary inputs, through the real DataFrame/codegen path.
  */
class PositionalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  // the kernels read no index: an empty one will do
  val oracle = new RefOracle(Map.empty, RefOracle.collStats(Map.empty), BM25())

  def forAll[T](gen: Gen[T], n: Int = 40)(body: T => Unit): Unit =
    (1 to n).foreach(i => gen(Gen.Parameters.default, Seed(i.toLong)).foreach(body))

  val posGen: Gen[List[Int]] = for {
    n <- Gen.choose(0, 40)
    deltas <- Gen.listOfN(n, Gen.choose(1, 5))
  } yield deltas.scanLeft(0)(_ + _).tail

  test("near_matches expression == reference kernel (hand cases)") {
    val cases = Seq(
      (List(1, 5, 9), List(2, 6, 10), 1),
      (List(1, 2, 3), List(1, 2, 3), 0),
      (List(10), List(1), 5),
      (List(), List(1, 2), 3),
      (List(1, 4), List(2, 3, 5), 1))
    import spark.implicits._
    cases.foreach { case (a, b, k) =>
      val viaExpr = Seq((a, b)).toDF("p1", "p2")
        .select(expr(s"near_matches(p1, p2, $k)")).collect()(0)
        .getSeq[Int](0).toList
      assert(viaExpr == oracle.nearPositions(a, b, k), s"($a,$b,$k)")
    }
  }

  test("near_matches expression == reference kernel (random, via DataFrame)") {
    import spark.implicits._
    forAll(Gen.zip(posGen, posGen, Gen.choose(0, 6)), 25) { case (a, b, k) =>
      val viaExpr = Seq((a, b)).toDF("p1", "p2")
        .select(expr(s"near_matches(p1, p2, $k)")).collect()(0)
        .getSeq[Int](0).toList
      assert(viaExpr == oracle.nearPositions(a, b, k))
    }
  }

  test("uw_matches expression == reference kernel (random, via DataFrame)") {
    import spark.implicits._
    forAll(Gen.zip(Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, posGen)),
      Gen.choose(0, 10)), 25) { case (lists, k) =>
      val viaExpr = Seq(Tuple1(lists)).toDF("ls")
        .select(expr(s"uw_matches(ls, $k)")).collect()(0).getInt(0)
      assert(viaExpr == oracle.uwCount(lists, k), s"($lists,$k)")
    }
  }

  test("null inputs yield null, not a crash") {
    val row = spark.sql("SELECT near_matches(NULL, array(1), 2) a, " +
      "uw_matches(NULL, 2) b").collect()(0)
    assert(row.isNullAt(0) && row.isNullAt(1))
  }
}
