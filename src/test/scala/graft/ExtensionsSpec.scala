package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions wires the native expressions into a session built with
  * spark.sql.extensions semantics — the spark-submit route, no imperative
  * register call anywhere in the session's lifetime.
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("extension-injected functions resolve in SQL") {
    val s2 = org.apache.spark.sql.classic.SparkSession.builder()
      .master(spark.sparkContext.master)
      .withExtensions(new GraftExtensions())
      .create() // a NEW session on the shared context, extensions applied
    try {
      val missing = Seq("near_matches", "uw_matches", "splitmix64", "cosine_f",
        "cosine_q8", "graft_double_param", "graft_in_values")
        .filterNot(s2.catalog.functionExists)
      assert(missing.isEmpty)
      val mix = s2.sql("SELECT splitmix64(42L) AS m").collect()(0).getLong(0)
      assert(mix == graft.corpus.SyntheticCorpus.mix(42L))
      val near = s2.sql(
        "SELECT near_matches(array(1, 5), array(2, 6), 2) AS m")
        .collect()(0).getSeq[Int](0)
      assert(near == Seq(2, 6))
      val uw = s2.sql(
        "SELECT uw_matches(array(array(1, 9), array(2, 10)), 4) AS m")
        .collect()(0).getInt(0)
      assert(uw == 2)
      val cos = s2.sql(
        "SELECT cosine_f(array(cast(1.0 as float), cast(0.0 as float)), " +
          "array(cast(1.0 as float), cast(1.0 as float))) AS c")
        .collect()(0).getDouble(0)
      assert(math.abs(cos - 1.0 / math.sqrt(2.0)) < 1e-12)
      val q8 = s2.sql("SELECT cosine_q8(X'7F01', X'017F') AS c")
        .collect()(0).getDouble(0)
      assert(q8 == graft.functions.VectorOps.cosineQ8(
        Array[Byte](127, 1), Array[Byte](1, 127)))
      // the query parameters take literals the SQL parser does not make,
      // so resolve them through their column builders on this session
      val params = s2.range(1).select(
        graft.query.expressions.DoubleParam.column(2.5),
        graft.query.expressions.InValues.column(
          org.apache.spark.sql.functions.lit(2L), Seq(1L, 2L)))
        .collect()(0)
      assert(params.getDouble(0) == 2.5 && params.getBoolean(1))
    } finally {
      // the default session must stay the shared TestSpark one
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }
}
