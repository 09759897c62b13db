package graft.run

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.corpus.SyntheticCorpus
import graft.index.{BuildConf, IndexStore}
import graft.query._
import graft.model.TrecResult
import java.io.{File, PrintWriter}
import scala.util.control.NonFatal

/** spark-submit entry points (the rebuild's counterpart of the reference's
  * RetrieverRunner.main — yairs/eval/RetrieverRunner.scala:21-53).
  */
object Mains {
  /** `SPARK_GRAFT_CPUS`, else the cores this JVM sees. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** The one session conf of the library's mains and tests, with the
    * engine's functions as a session extension ([[graft.GraftExtensions]]).
    * `withExtensions` rather than `spark.sql.extensions`, so a user's own
    * extensions survive. The master is spark-submit's when it set one,
    * else `local[cpus]`; callers may add keys before `getOrCreate`.
    */
  def builder(appName: String, cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder().appName(appName)
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.GraftExtensions.UseIdInClassName, "false")
      .withExtensions(new graft.GraftExtensions)

  def session(appName: String, cpus: Int = defaultCpus): SparkSession = {
    val s = builder(appName, cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The per-stage wall times a store's manifests record, in commit order. */
  def printStageWalls(dir: String): Unit =
    IndexStore.stageWalls(dir).foreach { case (stage, ms) =>
      println(f"[build] $stage%-24s ${ms / 1e3}%7.2fs")
    }
}

/** Index job: pages parquet (or `synthetic:N` for the deterministic
  * corpus) → resumable index build at `outDir`.
  *
  * Usage: IndexMain <input> <outDir> [numSlices] [numBuckets]
  * (numBuckets caps the docId-range bucket count: buckets never hold
  * fewer than `BuildConf.bucketDocs` = 65,536 docs, so the cap binds only
  * past numBuckets × 65,536 docs). After the build it prints each stage's
  * wall time as the store's manifests record it (`wall_ms`); stages a
  * resumed build skipped show the time of the run that committed them.
  */
object IndexMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: IndexMain <pagesParquet|synthetic:N> <outDir> [slices] [maxBuckets]")
    val spark = Mains.session("graft-index")
    val pages =
      if (args(0).startsWith("synthetic:"))
        SyntheticCorpus.pages(spark, args(0).stripPrefix("synthetic:").toLong,
          spark.sparkContext.defaultParallelism).toDF()
      else spark.read.parquet(args(0))
    val conf = BuildConf(
      numSlices = if (args.length > 2) args(2).toInt else 8,
      numBuckets = if (args.length > 3) args(3).toInt else 32,
      shufflePartitions = spark.sparkContext.defaultParallelism)
    val t0 = System.nanoTime()
    IndexStore.build(pages, args(1), conf)
    println(f"index build wall: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    Mains.printStageWalls(args(1))
    spark.stop()
  }
}

/** Streaming index job: ingest a pages stream into a resumable store.
  * With `synthetic-rate:R`, a rate source emits R synthetic pages/sec
  * (deterministic by row index, same corpus as the batch generator);
  * otherwise the argument is a directory watched for pages parquet files.
  * Runs until `maxDocs` pages are ingested, then seals the store.
  *
  * Usage: StreamIndexMain <synthetic-rate:R|pagesDir> <outDir> <maxDocs>
  */
object StreamIndexMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: StreamIndexMain <synthetic-rate:R|pagesDir> <outDir> <maxDocs>")
    val spark = Mains.session("graft-stream-index")
    import spark.implicits._
    val Array(src, outDir, maxDocsS) = args.take(3)
    val maxDocs = maxDocsS.toLong
    val pages =
      if (src.startsWith("synthetic-rate:")) {
        val rate = src.stripPrefix("synthetic-rate:").toInt
        spark.readStream.format("rate").option("rowsPerSecond", rate).load()
          .select(col("value"))
          .as[Long].map(i => graft.corpus.SyntheticCorpus.page(i)).toDF()
      } else spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string")
        .parquet(src)
    val conf = graft.index.BuildConf(
      shufflePartitions = spark.sparkContext.defaultParallelism)
    val q = graft.streaming.StreamingIndexer.ingest(pages, outDir, conf)
    while (q.isActive && graft.streaming.StreamingIndexer.ingestedDocs(outDir) < maxDocs) {
      Thread.sleep(500)
    }
    q.stop()
    graft.streaming.StreamingIndexer.seal(spark, outDir, conf)
    println(s"stream-ingested ${graft.streaming.StreamingIndexer.ingestedDocs(outDir)} docs; sealed")
    spark.stop()
  }
}

/** Query job: run a `qid:query` file against a built index, write a
  * TREC-format run file (header + `qid\tQ0\tdocid\trank\t%.6f\trunid`,
  * reference format trecLikeResult.scala:10-16; top-N per query, N<0 = all,
  * RetrieverRunner.scala:71).
  *
  * Usage: QueryMain <indexDir> <queryFile> <outFile> <runId>
  *                  [bm25|indri|boolean] [numResults] [--wand] [--par=N]
  *    or: QueryMain <indexDir> --conf <propsFile> [--wand] [--par=N]
  * --par=N submits N queries' jobs concurrently (output order unchanged).
  * The --conf form drives everything from a reference-style properties
  * file (RetrieverRunner.scala:21-29 takes the same): query path, output
  * path + run id, model + parameters, default operator, result count.
  */
object QueryMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QueryMain <indexDir> <queryFile> <outFile> <runId> [model] [k] [--wand] | <indexDir> --conf <props> [--wand]")
    val spark = Mains.session("graft-query")
    try run(spark, args) finally spark.stop()
  }

  /** The job body, session-agnostic — tests (GoldensSpec) drive the full
    * --conf pipeline in-process without owning the session lifecycle.
    */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val indexDir = args(0)
    val useWand = args.contains("--wand")
    val par = args.collectFirst {
      case a if a.startsWith("--par=") => a.stripPrefix("--par=").toInt
    }.getOrElse(1)

    val confOpt =
      if (args(1) == "--conf") Some(graft.util.GraftConfig.load(args(2)))
      else None
    val (queryFile, outFile, runId, modelName, k, model: Model, parser) =
      confOpt match {
        case Some(conf) =>
          (conf.queryPath, s"${conf.outputPath.stripSuffix("/")}/${conf.runId}",
            conf.runId, conf.retrieverName, conf.numResults, conf.model,
            conf.parser)
        case None =>
          require(args.length >= 4, "usage: QueryMain <indexDir> <queryFile> <outFile> <runId> [model] [k] [--wand]")
          val name = if (args.length > 4) args(4) else "bm25"
          val kk = if (args.length > 5) args(5).toInt else 100
          val (m: Model, defaultOp) = name match {
            case "boolean" => (Bool(ranked = true), QOp.OR)
            case "indri"   => (Indri(), QOp.AND)
            case _         => (BM25(), QOp.SUM)
          }
          (args(1), args(2), args(3), name, kk, m,
            new QueryParser(defaultOp = defaultOp))
      }
    // A reference-style config may point at a text `.inv` tree
    // (yairs.inv.basename, conf/boolean.properties:12): open it with
    // config-injected collection stats — the reference's own pattern
    // (conf/bm25.properties:38-41). Otherwise the parquet store at indexDir.
    val index: graft.index.SearchIndex = confOpt
      .filter(c => c.getOrElse("yairs.inv.basename", null) != null)
      .map { c =>
        new graft.index.InvIndex(spark, c.invBasename, c.collStats.getOrElse(
          sys.error("yairs.document.count (+ stats keys) must be configured with yairs.inv.basename")))
      }
      .getOrElse(IndexStore.open(spark, indexDir))
    val engine = new Engine(index, model)

    val queries = scala.io.Source.fromFile(queryFile).getLines()
      .filter(_.nonEmpty).map(QueryParser.parseQueryLine).toList

    val t0 = System.nanoTime()
    val results: Seq[TrecResult] =
      if (useWand && modelName == "bm25" &&
          index.isInstanceOf[graft.index.ParquetIndex]) {
        val pidx = index.asInstanceOf[graft.index.ParquetIndex]
        queries.flatMap { case (qid, q) =>
          // queries outside WAND's contract (nested operators, field
          // restrictions) silently diverging would be worse than being
          // slower: exact path per query instead
          Wand.eligibleBag(parser.parse(q)) match {
            case Some(terms) =>
              Wand.bm25TopK(spark, pidx, terms, "default", k).collect()
                .zipWithIndex.map { case (r, i) =>
                  TrecResult(qid, r.getAs[Long]("docId"), i + 1,
                    r.getAs[Double]("score"), runId)
                }
            case _ =>
              System.err.println(
                s"[query] $qid not a flat bag of words; exact path")
              engine.searchAll(Seq((qid, q)), k, parser, runId)
          }
        }
      } else engine.searchAll(queries, k, parser, runId, parallelism = par)
    println(f"query wall: ${(System.nanoTime() - t0) / 1e9}%.2f s for ${queries.length} queries")

    val w = new PrintWriter(new File(outFile))
    try {
      w.println(TrecResult.header)
      results.foreach(r => w.println(r.formatted))
    } finally w.close()
  }
}

/** Per-stage build profiler: replicates graft.Bench's scaling methodology
  * (fresh session per level, in-JVM warm-up, repeated timed builds on
  * tmpfs) but prints, per run, the task metrics of every Spark stage and
  * the wall time of every store stage (from the store's manifests), so
  * non-scaling stages are visible.
  *
  * Usage: BuildProf <cpusCsv> <numDocs> [runsPerLevel]
  */
object BuildProf {
  def main(args: Array[String]): Unit = {
    val levels = args(0).split(',').toSeq
    val docs = args(1).toLong
    val runs = if (args.length > 2) args(2).toInt else 2
    val base = "/dev/shm/graft-prof/stores"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base))
    levels.foreach { level =>
      // "8" → local[8]; "2x4" → local-cluster[2,4,...] (2 executor JVMs
      // à 4 cores — the multi-executor stand-in with isolated heaps)
      val (master, cpus) = if (level.contains('x')) {
        val Array(ex, co) = level.split('x').map(_.toInt)
        (s"local-cluster[$ex,$co,6144]", ex * co)
      } else (s"local[${level.toInt}]", level.toInt)
      val builder0 = Mains.builder(s"graft-prof-$level", cpus).master(master)
      // local-cluster forks real executor JVMs: ship the app jar to them
      val builder = if (master.startsWith("local-cluster"))
        builder0.config("spark.jars", sys.env.getOrElse("SPARK_GRAFT_JAR",
          s"${new java.io.File(".").getCanonicalPath}/target/scala-2.13/yairsspark_2.13-0.1.0.jar"))
          .config("spark.executor.memory", "5g") // worker mem ≠ executor heap
          // size GC/netty pools for the executor's cores, not the box's
          .config("spark.executor.extraJavaOptions", "-XX:ActiveProcessorCount=4 -Xms5g -XX:+AlwaysPreTouch")
      else builder0
      val spark = builder
        .config("spark.local.dir", s"$base/shuffle-$cpus")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      // per-stage utilization: task-time vs wall tells barrier/straggler
      // problems apart from GC and shuffle-wait problems
      val agg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = sc.stageInfo.taskMetrics
            if (m != null) {
              val wall = (for {
                s <- sc.stageInfo.submissionTime; e <- sc.stageInfo.completionTime
              } yield e - s).getOrElse(0L)
              println(f"[stage ${sc.stageInfo.stageId}%3d] ${sc.stageInfo.numTasks}%4d tasks wall=${wall / 1e3}%6.1fs run=${m.executorRunTime / 1e3}%7.1fs cpu=${m.executorCpuTime / 1e9}%7.1fs gc=${m.jvmGCTime / 1e3}%6.1fs shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fM shufR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fM fetchWait=${m.shuffleReadMetrics.fetchWaitTime / 1e3}%5.1fs spillM=${m.memoryBytesSpilled / 1e6}%7.1fM spillD=${m.diskBytesSpilled / 1e6}%7.1fM outW=${m.outputMetrics.bytesWritten / 1e6}%7.1fM util=${if (wall > 0) m.executorRunTime.toDouble / wall / cpus else 0}%4.2f  ${sc.stageInfo.name.take(60)}")
            }
          }
        })
      // SAME work at every level (see Bench.buildConf): only reducer count
      // scales; the bucket size (numBuckets with its constant bucketDocs
      // floor) and splitBytes pin per-row work, corpus parquet is
      // materialized untimed with a fixed file count
      val conf = graft.index.BuildConf(numSlices = 1,
        numBuckets = 16, termBuckets = 32,
        shufflePartitions = cpus, splitBytes = 16L << 20,
        segmentPartitions = 64)
      def corpus(n: Long): String = {
        val path = s"$base/../corpus-$n"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS")))
          SyntheticCorpus.pages(spark, n, 64).toDF()
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .option("parquet.block.size", (16L << 20).toString).parquet(path)
        path
      }
      def once(tag: String, n: Long): Unit = {
        val dir = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(base), s"p$cpus-").toString
        val pages = spark.read.parquet(corpus(n))
        val t0 = System.nanoTime()
        IndexStore.build(pages, dir, conf)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"== $master $tag: $dt%.2f s  (${n / dt}%.0f docs/s)")
        Mains.printStageWalls(dir)
        // free the tmpfs store before the next run (see Bench.timedBuild)
        try new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
        catch { case NonFatal(_) => }
      }
      once("warmup", math.max(4000L, docs / 10))
      (1 to runs).foreach(i => once(s"run$i", docs))
      spark.stop()
    }
  }
}
