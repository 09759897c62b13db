package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineFExpr, CosineQ8Expr, Splitmix64Expr}
import graft.query.expressions.{DoubleParam, InValues, NearMatchesExpr, UwMatchesExpr}

/** The engine's native Catalyst functions, and the one way a session gets
  * them. The contract:
  *
  *  - Every function the engine's plans call is one entry of the table in
  *    the companion object; nothing else registers functions.
  *  - Sessions the library builds ([[graft.run.Mains.session]]) carry this
  *    class as a session extension, so they have every function from the
  *    start. Any other application can do the same declaratively:
  *    {{{
  *      spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *    }}}
  *  - A session the library did not build gets them from
  *    [[GraftExtensions.install]] where it enters the library: when a
  *    [[graft.index.SearchIndex]] is constructed, and once per gate call
  *    through [[SparkEntry.queries]]. No query, build or operator changes
  *    a session's conf or function registry after that.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def entry(name: String, usage: String)(
      build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name, usage), build)

  private val functions: Seq[Entry] = Seq(
    entry("near_matches",
      "near_matches(pos1, pos2, k) - greedy ordered-window positional match")(
      e => NearMatchesExpr(e(0), e(1), e(2))),
    entry("uw_matches",
      "uw_matches(lists, k) - unordered-window positional match count")(
      e => UwMatchesExpr(e(0), e(1))),
    entry("splitmix64",
      "splitmix64(x) - splitmix64 finalizer (wraparound 64-bit mixer)")(
      e => Splitmix64Expr(e.head)),
    entry("cosine_f",
      "cosine_f(a, b) - cosine similarity of two float vectors (double)")(
      e => CosineFExpr(e(0), e(1))),
    entry("cosine_q8",
      "cosine_q8(a, b) - cosine similarity of two byte-packed int8 vectors")(
      e => CosineQ8Expr(e(0), e(1))),
    entry(DoubleParam.Name,
      s"${DoubleParam.Name}(x) - the double literal x, read by generated code as a parameter")(
      DoubleParam.build),
    entry(InValues.Name,
      s"${InValues.Name}(child, values) - child IN the array literal values, as a hash set")(
      InValues.build))

  private[graft] val UseIdInClassName = "spark.sql.codegen.useIdInClassName"

  /** Give `spark` what a [[graft.run.Mains.session]] has from the start
    * (idempotent; check, then inject once): registers the table's entries
    * the session's registry lacks, and drops the stage id from generated
    * class names unless the session already does. Spark names each
    * whole-stage class after its stage id, so the same leaf-scan code at
    * another union position would otherwise be a distinct class and
    * compile again. Only class names change.
    */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
    if (spark.conf.get(UseIdInClassName, "true") != "false")
      spark.conf.set(UseIdInClassName, "false")
  }
}
