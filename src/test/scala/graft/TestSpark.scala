package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.run.Mains.session("yairsspark-test", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
