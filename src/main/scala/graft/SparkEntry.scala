package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Gate queries live in graft.gate.* (one per implemented operator from
  * SURVEY.md §2 plus the training-data pipeline operators); each carries
  * its DuckDB oracle SQL when the semantics are SQL-expressible.
  */
object SparkEntry {
  private def gateQueries: Seq[gate.GateQuery] =
    gate.IrQueries.all ++ gate.OpsQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * BM25 top-20 over the documents table.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_ir_bm25_topk")(spark, "/root/testdata/sf0.001")

  /** Gate name → query. Each call first installs the engine's functions
    * on the session it is handed ([[GraftExtensions.install]]), which may
    * be one the library did not build.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gateQueries.map(q => q.name -> { (spark: SparkSession, sfDir: String) =>
      GraftExtensions.install(spark)
      q.fn(spark, sfDir)
    }).toMap

  def oracleSql: Map[String, String] =
    gateQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
