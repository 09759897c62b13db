package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{CollStats, PostingRow}
import java.nio.file.{Files, Paths}

/** Interop with the reference's text `.inv` index format, so an index
  * produced by the reference's (external) course indexer can be queried by
  * this engine directly — and vice versa, fixtures can be dumped for the
  * reference to read.
  *
  * File layout (reference: yairs/io/FileUtils.scala:38-58, hw2 layout):
  *   basename/<field>/<term>.inv            (default field)
  *   basename/<field>/<term>.<field>.inv    (other fields)
  * and the hw1 layout:
  *   basename[_<field>]/<term>[.<field>].inv
  *
  * File content (reference: yairs/model/InvertedList.scala:84-160):
  *   line 0:  term stem cf totalTermCount df     (5 parts; a 4-part header
  *            is read as term cf ttc df — the reference tolerates both)
  *   line i:  docId tf docLength pos1 pos2 ...
  *
  * A missing file is an EMPTY list, not an error (InvertedList.scala:
  * 107-110, 156-159).
  */
object InvFormat {

  /** Path of a (term, field) list under `basename` (both layouts). */
  def fileOf(basename: String, term: String, field: String,
             defaultField: String = "default",
             hw2Layout: Boolean = true): String = {
    val isDefault = field == defaultField
    val dir =
      if (hw2Layout) s"${basename.stripSuffix("/")}/$field/"
      else {
        val realField = if (isDefault) "" else "_" + field
        s"${basename.stripSuffix("/")}$realField/"
      }
    if (isDefault) s"$dir$term.inv" else s"$dir$term.$field.inv"
  }

  /** (term, stem, cf, totalTermCount, df) from a header line; the 4-part
    * variant fills stem = term (InvertedList.scala:126-133).
    */
  def parseHeader(line: String): (String, String, Long, Long, Long) = {
    val parts = line.trim.split(" ")
    if (parts.length >= 5)
      (parts(0), parts(1), parts(2).toLong, parts(3).toLong, parts(4).toLong)
    else
      (parts(0), parts(0), parts(1).toLong, parts(2).toLong, parts(3).toLong)
  }

  /** Dump one postings DataFrame (docId, tf, dl, positions) as a `.inv`
    * file — the fixture/interop writer (collects: one term's list).
    */
  def dump(postings: DataFrame, df: Long, cf: Long, basename: String,
           term: String, field: String, defaultField: String = "default",
           hw2Layout: Boolean = true): Unit = {
    val path = Paths.get(fileOf(basename, term, field, defaultField, hw2Layout))
    Files.createDirectories(path.getParent)
    val rows = postings.select("docId", "tf", "dl", "positions")
      .orderBy("docId").collect()
    val sb = new StringBuilder
    sb.append(s"$term $term $cf $cf $df\n")
    rows.foreach { r =>
      sb.append(r.getLong(0)).append(' ').append(r.getInt(1)).append(' ')
        .append(r.getInt(2))
      r.getSeq[Int](3).foreach(p => sb.append(' ').append(p))
      sb.append('\n')
    }
    Files.writeString(path, sb.toString)
  }
}

/** SearchIndex over a reference-format `.inv` directory tree. Collection
  * stats are config-injected, exactly as the reference does it (the `.inv`
  * tree itself carries none — conf/bm25.properties:38-41).
  */
class InvIndex(spark: SparkSession, basename: String,
               val collStats: CollStats, defaultField: String = "default",
               hw2Layout: Boolean = true) extends SearchIndex(spark) {

  private val headerCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (Long, Long)]

  private def path(term: String, field: String): String =
    InvFormat.fileOf(basename, term, field, defaultField, hw2Layout)

  def termStat(term: String, field: String): (Long, Long) =
    headerCache.getOrElseUpdate((term, field), {
      val p = Paths.get(path(term, field))
      if (!Files.exists(p)) (0L, 0L)
      else {
        val in = Files.newBufferedReader(p)
        try {
          val (_, _, cf, _, df) = InvFormat.parseHeader(in.readLine())
          (df, cf)
        } finally in.close()
      }
    })

  /** Distributed parse of each pair's list file (header skipped in the
    * first split only — the file may be larger than one split for head
    * terms); one `.inv` file per pair, so the batch is their union.
    */
  def postings(pairs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val files = pairs.distinct.map { case (t, f) => (t, f, path(t, f)) }
      .filter { case (_, _, p) => Files.exists(Paths.get(p)) }
    files.map { case (term, field, p) =>
      spark.sparkContext.textFile(p)
        .mapPartitionsWithIndex { (i, it) =>
          val lines = if (i == 0) it.drop(1) else it
          lines.filter(_.nonEmpty).map { line =>
            val parts = line.trim.split(" ")
            PostingRow(term, field, parts(0).toLong, parts(1).toInt,
              parts(2).toInt, Array.tabulate(parts.length - 3)(j => parts(j + 3).toInt))
          }
        }.toDS()
    }.reduceOption(_ union _)
      .getOrElse(spark.emptyDataset[PostingRow])
      .toDF()
  }
}
