package irbench

import org.apache.spark.sql.SparkSession
import java.io.{BufferedWriter, FileWriter}

/** Benchmark process entry point. `irbench/run.py` builds this and starts
  * one JVM per run; the JVM runs one workload and appends raw records
  * (timings, sizes, checks, spans, Spark counters) as JSON lines to
  * `--raw`. `irbench/summary.py` turns those records into metrics.
  *
  * Usage: Main --workload lifecycle|serve --seed N --seconds S --trace 0|1
  *             --work DIR --raw FILE --cores N
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val cores = opt.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val rec = new Recorder(need("raw"))
    val tracer = new Tracer(need("trace") == "1", rec)
    val t0 = System.nanoTime()
    val spark = session(need("work"), cores)
    val ctx = Ctx(spark, need("work"), need("seed").toLong, need("seconds").toDouble,
      cores, rec, tracer)
    val listener = if (tracer.on) Some(new CounterListener(rec)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    rec.emit("phase", "name" -> "session", "s" -> Ctx.secondsSince(t0))
    try workload match {
      case "lifecycle" => Lifecycle.run(ctx)
      case "serve"     => Serve.run(ctx)
      case other       => sys.error(s"unknown workload '$other'")
    } finally {
      listener.foreach { l =>
        org.apache.spark.IrbenchBus.drain(spark.sparkContext)
        l.flush()
      }
      tracer.flush()
      rec.close()
      spark.stop()
    }
  }

  /** One local session sized to the box, with every scratch path inside
    * the run's work directory. Settings follow `graft.run.Mains.session`.
    */
  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("irbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Everything a workload needs. */
case class Ctx(spark: SparkSession, work: String, seed: Long, seconds: Double,
               cores: Int, rec: Recorder, tracer: Tracer) {
  def clients: Int = math.max(1, cores / 2)
}

object Ctx {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** Append-only JSON-lines sink, buffered in memory and written at exit. */
final class Recorder(path: String) {
  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def emit(kind: String, fields: (String, Any)*): Unit =
    lines.add((("t" -> kind) +: fields).map { case (k, v) =>
      s"${Recorder.str(k)}:${Recorder.value(v)}" }.mkString("{", ",", "}"))

  def close(): Unit = {
    val w = new BufferedWriter(new FileWriter(path, true))
    try lines.forEach { l => w.write(l); w.newLine() } finally w.close()
  }
}

object Recorder {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null         => "null"
    case s: String    => str(s)
    case b: Boolean   => b.toString
    case d: Double    => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int       => n.toString
    case n: Long      => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
                           .mkString("{", ",", "}")
    case o            => str(o.toString)
  }
}
