package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.corpus.SyntheticCorpus
import graft.index._
import graft.query._
import java.nio.file.Files

/** The session contract on a session the library did not build (no
  * extension, `useIdInClassName=true`): the first library entry installs
  * the engine's functions once, and after that no query, build or gate
  * changes the session's conf or re-registers a function.
  */
class SessionSpec extends AnyFunSuite {
  lazy val shared = TestSpark.spark
  /** A scale-factor directory with the one table `q_op_shuffle_order` reads. */
  lazy val sf: String = {
    val dir = Files.createTempDirectory("graft-session-sf").toString
    shared.range(0, 64).withColumnRenamed("id", "doc_id")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }
  val UseId = GraftExtensions.UseIdInClassName
  val Names = Seq("near_matches", "uw_matches", "splitmix64", "cosine_f",
    "cosine_q8", "graft_double_param", "graft_in_values")

  /** A new session on the shared context, built without the extension. */
  private def withForeignSession(body: SparkSession => Unit): Unit = {
    val s = org.apache.spark.sql.classic.SparkSession.builder()
      .master(shared.sparkContext.master)
      .config(UseId, "true")
      .create() // also makes it the default and active session
    try {
      assert(s.conf.get(UseId) == "true")
      assert(Names.forall(n =>
        !s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n))))
      body(s)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  /** Every registered function with its registration's info object: a
    * re-registration replaces the object even under the same name.
    */
  private def registry(s: SparkSession): Map[FunctionIdentifier, AnyRef] = {
    val r = s.sessionState.functionRegistry
    r.listFunction().map(id => id -> (r.lookupFunction(id).get: AnyRef)).toMap
  }

  private def sameRegistry(a: Map[FunctionIdentifier, AnyRef],
                           b: Map[FunctionIdentifier, AnyRef]): Boolean =
    a.keySet == b.keySet && a.forall { case (id, info) => b(id) eq info }

  private def newStore(s: SparkSession): String = {
    val dir = Files.createTempDirectory("graft-session").toString
    IndexStore.build(SyntheticCorpus.pages(s, 200, 2).toDF(), dir,
      BuildConf(numSlices = 1, numBuckets = 2, termBuckets = 4,
        shufflePartitions = 2))
    dir
  }

  private val queries =
    Seq("w3 w40 obama", "#sum(#near/2(obama family) #uw/8(w3 w40) tree)")

  /** Top 10 of `q`; the Engine plans on the active session, so it is
    * made the index's own for the call. */
  private def search(s: SparkSession, idx: SearchIndex, q: String) = {
    val active = SparkSession.active
    SparkSession.setActiveSession(s)
    try new Engine(idx, BM25()).search(q, 10, new QueryParser(defaultOp = QOp.SUM))
      .collect().map(r => (r.getAs[Long]("docId"), r.getAs[Double]("score")))
      .toSeq
    finally SparkSession.setActiveSession(active)
  }

  test("after install, queries, builds and gates change neither conf nor registry") {
    withForeignSession { s =>
      val conf0 = s.conf.getAll
      val dir = newStore(s)
      assert(s.conf.getAll == conf0, "a build before install changed the conf")

      val idx = IndexStore.open(s, dir, 4) // installs
      val conf1 = s.conf.getAll
      assert(conf1 == conf0 + (UseId -> "false"))
      assert(Names.forall(n =>
        s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n))))

      val want = IndexStore.open(shared, dir, 4)
      val first = search(s, idx, queries.head)
      assert(first.nonEmpty)
      assert(first == search(shared, want, queries.head))
      val reg1 = registry(s)
      queries.foreach(q =>
        assert(search(s, idx, q) == search(shared, want, q), q))
      assert(sameRegistry(reg1, registry(s)), "a query re-registered a function")
      assert(s.conf.getAll == conf1, "a query changed the conf")

      newStore(s)
      assert(s.conf.getAll == conf1, "a build changed the conf")

      val gate = SparkEntry.queries("q_op_shuffle_order")
      assert(gate(s, sf).count() > 0)
      assert(sameRegistry(reg1, registry(s)), "a gate re-registered a function")
      assert(s.conf.getAll == conf1, "a gate changed the conf")
    }
  }

  test("a gate installs the functions on the session it is handed") {
    withForeignSession { s =>
      val gate = SparkEntry.queries("q_op_shuffle_order")
      val got = gate(s, sf).collect().map(_.toSeq).toSet
      assert(got.nonEmpty && got == gate(shared, sf).collect().map(_.toSeq).toSet)
      assert(s.conf.get(UseId) == "false")
    }
  }
}
