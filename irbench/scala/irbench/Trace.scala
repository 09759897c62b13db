package irbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.Dataset
import scala.collection.mutable

/** In-memory spans around the benchmark's calls into the program. Off, a
  * span is a plain call. On, each span records name, layer, request id,
  * parent and start/end (epoch nanoseconds); the list is written at exit.
  * Serving clients run each query as a request: its Spark jobs carry the
  * request id as their job group, which [[CounterListener]] reads.
  */
final class Tracer(val on: Boolean, rec: Recorder) {
  private case class Span(id: Long, parent: Long, name: String, layer: String,
                          req: String, start: Long, end: Long)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val reqOf = ThreadLocal.withInitial[String](() => "main")
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  private def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  /** The request this thread runs ("main" outside serving clients). */
  def req: String = reqOf.get

  def span[A](name: String, layer: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val start = now()
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, layer, reqOf.get, start, now()))
      }
    }

  /** Run `body` as request `req` (the job group of this thread while it
    * runs).
    */
  def request[A](spark: org.apache.spark.sql.SparkSession, req: String)(body: => A): A =
    if (!on) body
    else {
      val sc = spark.sparkContext
      reqOf.set(req)
      sc.setJobGroup(req, req)
      try body
      finally {
        sc.clearJobGroup()
        reqOf.set("main")
      }
    }

  /** Spark's own analysis / optimization / planning phases of a forced
    * plan, read from `QueryExecution.tracker` after the fact. Recorded
    * under layer "phase": they overlap the benchmark's spans, so they are
    * reported on their own and kept out of self-time sums.
    */
  def planPhases(ds: Dataset[_]): Unit = if (on) {
    val parent = stack.get.headOption.getOrElse(0L)
    ds.queryExecution.tracker.phases.foreach { case (phase, p) =>
      spans.add(Span(ids.incrementAndGet(), parent, s"phase.$phase", "phase",
        reqOf.get, p.startTimeMs * 1000000L, p.endTimeMs * 1000000L))
    }
  }

  def flush(): Unit = spans.forEach { s =>
    rec.emit("span", "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "req" -> s.req, "start_ns" -> s.start,
      "end_ns" -> s.end)
  }
}

/** Spark listener counters per job, kept in memory and written at exit.
  * A job belongs to the request named by its job group (serving clients)
  * or to "main" (the sequential phases); summary.py puts
  * it under the innermost span of that request open at the job's start.
  */
final class CounterListener(rec: Recorder) extends SparkListener {
  private final class Acc {
    var req = "main"; var start = 0L; var end = 0L; var stages = 0
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufWBytes = 0L; var shufWRecords = 0L; var spill = 0L; var waitMs = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Acc]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val a = new Acc
    a.start = e.time
    a.req = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("main")
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    jobs(e.jobId) = a
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageJob.get(id).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); a <- jobs.get(j)) {
      a.tasks += 1
      a.waitMs += math.max(0L, e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufWBytes += m.shuffleWriteMetrics.bytesWritten
        a.shufWRecords += m.shuffleWriteMetrics.recordsWritten
        a.spill += m.diskBytesSpilled
      }
    }
  }

  def flush(): Unit = synchronized {
    jobs.foreach { case (id, a) =>
      rec.emit("job", "id" -> id, "req" -> a.req, "start_ms" -> a.start,
        "end_ms" -> a.end, "stages" -> a.stages, "tasks" -> a.tasks,
        "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
        "shuffle_write_bytes" -> a.shufWBytes,
        "shuffle_write_records" -> a.shufWRecords,
        "spill_bytes" -> a.spill, "task_wait_ms" -> a.waitMs)
    }
  }
}

/** Spark's process-wide whole-stage-codegen counters. */
object Codegen {
  def snapshot(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
