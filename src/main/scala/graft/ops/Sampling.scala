package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling and mixture weighting — the
  * data-mixing step of a training pipeline (downsample overrepresented
  * languages/sources, upsample scarce high-quality ones by repetition).
  *
  * The accept/copy decision for a row is a pure function of
  * (id, seed) via the splitmix64 finalizer, so a sample is
  * reproducible across runs, cluster sizes and partitionings — unlike
  * `DataFrame.sample`, whose outcome depends on partition layout. No
  * shuffle, no UDF: the whole decision is native codegen'd Column
  * arithmetic, so it rides predicate pushdown-adjacent in the scan
  * stage at any scale.
  */
object Sampling {

  /** splitmix64 finalizer over a long column (== SyntheticCorpus.mix), as
    * the native Splitmix64Expr — Column-level long multiplication throws
    * under Spark 4's default ANSI mode, and a mixer needs wraparound.
    */
  def mix64(x: Column): Column = call_function("splitmix64", x)

  /** Uniform double in [0, 1): top 53 bits of mix64(id ^ seed). Exact in
    * FP on both JVM and SQL engines (53-bit integer / 2^53).
    */
  def unitHash(id: Column, seed: Long): Column =
    shiftrightunsigned(mix64(id.bitwiseXOR(lit(seed))), 11)
      .cast("double") / lit((1L << 53).toDouble)

  /** Independent Bernoulli rate per stratum: keep a row iff
    * unitHash(id) < rate(stratum). Unlisted strata use `defaultRate`.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       seed: Long): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(col(stratumCol) === k, lit(r)).otherwise(acc)
    }
    df.filter(unitHash(col(idCol), seed) < rate)
  }

  /** Deterministic global training-order shuffle: every row gets a dense
    * position 0..n-1 in the order of mix64(id ^ seed) (ties broken by
    * id) — reproducible across runs, cluster sizes and partitionings,
    * which `orderBy(rand())` is not. Plan shape at scale: a
    * range-partitioned distributed sort (never a single-partition
    * window), then contiguous positions via the zipWithIndex pattern —
    * one extra job that collects only the per-partition COUNTS to
    * offset each partition's local indices.
    *
    * The sort key is compared in the UNSIGNED domain (sign bit flipped)
    * so engines that treat the 64-bit hash as unsigned (the DuckDB
    * oracle) order identically.
    */
  def shuffleOrder(df: DataFrame, idCol: String, seed: Long): DataFrame = {
    val spark = df.sparkSession
    val keyed = df.withColumn("__shufkey",
      mix64(col(idCol).cast("long").bitwiseXOR(lit(seed))))
    val sorted = keyed.orderBy(
      col("__shufkey").bitwiseXOR(lit(Long.MinValue)), col(idCol))
    val outSchema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "shuffle_pos", org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, outSchema).drop("__shufkey")
  }

  /** Mixture weighting with repetition: a row with stratum weight w
    * appears floor(w) times, plus once more iff unitHash < frac(w) —
    * so expected multiplicity is exactly w (w > 1 upsamples by
    * repetition, the standard epoch-mixing trick; w < 1 downsamples).
    * Output carries a `copy` index (0-based) so downstream shuffles
    * spread the replicas.
    */
  def mixtureSample(df: DataFrame, idCol: String, stratumCol: String,
                    weights: Map[String, Double], defaultWeight: Double,
                    seed: Long): DataFrame = {
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (k, r)) =>
      when(col(stratumCol) === k, lit(r)).otherwise(acc)
    }
    val copies = floor(w).cast("int") +
      when(unitHash(col(idCol), seed) < (w - floor(w)), 1).otherwise(0)
    // Spark's 2-arg sequence flips direction when start > stop, so
    // copies = 0 must map to an explicit empty array (explode drops it),
    // not sequence(0, -1) == [0, -1]
    df.withColumn("copy",
        explode(when(copies > 0, sequence(lit(0), copies - 1))
          .otherwise(array().cast("array<int>"))))
  }
}
