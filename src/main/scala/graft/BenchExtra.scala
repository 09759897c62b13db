package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Optimization-round companion bench (guide §1): times the SAME gate
  * queries as [[Bench]] in the SAME session (`Bench.session`: local-cluster
  * executor JVMs, identical confs), but adds the diagnostics the frozen bench
  * cannot: per-gate Spark job/stage/task counts, shuffle bytes and
  * driver-side codegen compiles and compile ms (the fixed-overhead profile
  * that dominates at sf0.1), optional repeats, an
  * optional gate-name filter, and optional `.explain("formatted")` dumps
  * for the plans/ deliverable. Never used for the numbers of record —
  * BENCH_rNN.json stays the driver's run of [[Bench]].
  *
  * Env:
  *  - SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS: as Bench.
  *  - GRAFT_GATES: comma-separated gate names (default: all, sorted).
  *  - GRAFT_REPEATS: timings per gate (default 1; fixtures warm after the
  *    first, so repeats isolate the steady-state cost from fixture cost).
  *  - GRAFT_PLANS_DIR: if set, write <gate>.txt formatted plans there.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val exHi = math.max(2, cpus / 4)
    val repeats = sys.env.getOrElse("GRAFT_REPEATS", "1").toInt
    val plansDir = sys.env.get("GRAFT_PLANS_DIR")
    val wanted = sys.env.get("GRAFT_GATES").map(_.split(',').map(_.trim).toSet)

    val spark = Bench.session(exHi)

    // per-gate job/stage/task/shuffle counters
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    val jobLog = sys.env.get("GRAFT_JOBLOG").contains("1")
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLog) {
          val p = Option(j.properties)
          val site = p.flatMap(x => Option(x.getProperty("callSite.short")))
            .orElse(j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
            .getOrElse("?")
          val desc = p.flatMap(x =>
            Option(x.getProperty("spark.job.description"))).getOrElse("")
          jobStartNs.put(j.jobId, (System.nanoTime(), s"[$desc] $site"))
        }
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobLog) Option(jobStartNs.remove(j.jobId)).foreach { case (t0, site) =>
          System.err.println(f"[joblog] job=${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3fs  $site")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })

    def timedOrNeg(f: => Unit): Double =
      try { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[benchx] gate failed: $e"); -1.0 }

    // identical untimed pre-warm to Bench (the persistent stores)
    timedOrNeg(gate.StoreCache.documentsStore(spark, sfDir))
    timedOrNeg(gate.StreamStoreCache.documentsStore(spark, sfDir))

    val gates = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.forall(_.contains(n)) }
    // codegen runs in this JVM's planner; executor JVMs recompile the same
    // sources through their own caches and are not counted here
    def codegen: (Long, Long) = (
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

    val results = gates.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      val samples = (1 to repeats).map { _ =>
        jobs.set(0); stages.set(0); tasks.set(0); shufW.set(0)
        val (cg0, cgNs0) = codegen
        val dt = timedOrNeg(fn(spark, sfDir).count())
        val (cg1, cgNs1) = codegen
        graft.ops.OpScratch.release()
        (dt, jobs.get, stages.get, tasks.get, shufW.get, cg1 - cg0,
          (cgNs1 - cgNs0) / 1e6)
      }
      plansDir.foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, s"$name.txt"), plan)
        } catch { case e: Throwable =>
          System.err.println(s"[benchx] explain failed for $name: $e") }
        graft.ops.OpScratch.release()
      }
      spark.sparkContext.setJobDescription(null)
      name -> samples
    }

    val qs = results.map { case (k, ss) =>
      val times = ss.map(_._1)
      val (_, j, st, tk, sw, cg, cgMs) = ss.head
      f""""$k":{"sec":${times.head}%.3f,"min_sec":${times.min}%.3f,"jobs":$j,"stages":$st,"tasks":$tk,"compiles":$cg,"compile_ms":$cgMs%.1f,"shuffle_mb":${sw / 1e6}%.1f}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2.head._1).filter(_ >= 0).sum
    val json = f"""{"metric":"benchx_total","value":$total%.3f,"unit":"sec","sf":"$sfDir","repeats":$repeats,"gates":$qs}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("benchx.json"), json)
    println(json)
    spark.stop()
  }
}
