package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.types.DataType

import graft._

/** The declared-query surface. Membership comes from the declaring
  * objects, in two sides: the relational side and the LLM-data-pipeline
  * side. The op set of a run is five pinned members of each side, so it
  * is the same on every seed and stays the same when queries are added
  * to, or removed from, the declaring objects.
  */
object Surface {
  type Query = (SparkSession, String) => DataFrame

  /** Every member of each side, in name order. */
  val groups: Seq[Seq[(String, Query)]] = Seq(
    Seq(RelationalQueries.queries, StatsQueries.queries, EventsQueries.queries),
    Seq(TextQueries.queries, CurationQueries.queries, DedupQueries.queries,
      RetrievalQueries.queries, GraphQueries.queries, MultimodalQueries.queries))
    .map(_.flatten.sortBy(_._1))

  /** The op set's names, per side. */
  val pinned: Seq[Seq[String]] = Seq(
    Seq("q_acf", "q_count_distinct", "q_histogram", "q_pit_join", "q_sliding_batch"),
    Seq("q_assortativity", "q_dedup_clusters_star", "q_image_decode", "q_ngram_jaccard_sql",
      "q_semantic_dedup"))

  /** The pinned members; fails if a side no longer declares one of them. */
  def opSet: Seq[(String, Query)] = groups.zip(pinned).flatMap { case (all, names) =>
    val declared = all.toMap
    names.map(n => n -> declared.getOrElse(n,
      sys.error(s"surface member $n is no longer declared by its side")))
  }

  /** Executes the query's own physical plan (`queryExecution.toRdd`, as
    * graft.Bench times it) in one job that consumes every row, returning
    * the row count and an order-insensitive content hash (the wrapping sum
    * of each row's xxhash64 over its UnsafeRow bytes).
    */
  def execute(df: DataFrame): (Long, Long) = {
    val types = df.schema.fields.map(_.dataType)
    val parts = df.sparkSession.sparkContext.runJob(df.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => fold(it, types))
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def fold(it: Iterator[InternalRow], types: Array[DataType]): (Long, Long) = {
    lazy val proj = UnsafeProjection.create(types)
    var n = 0L
    var h = 0L
    while (it.hasNext) {
      val u = it.next() match {
        case u: UnsafeRow => u
        case r => proj(r)
      }
      h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      n += 1
    }
    (n, h)
  }

  /** Recorded (rows, hash) per query: lines of `name<TAB>rows<TAB>hash`. */
  def readExpected(file: Path): Map[String, (Long, Long)] =
    Files.readAllLines(file).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, rows, hash) = l.split('\t')
      n -> ((rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16)))
    }.toMap

  def formatExpected(rows: Seq[(String, Long, Long)]): String =
    rows.sortBy(_._1).map { case (n, r, h) => s"$n\t$r\t${java.lang.Long.toHexString(h)}\n" }
      .mkString

  /** Copies the table files into a fresh directory: the program keys its
    * per-input fixtures by directory, so each staging rebuilds them.
    */
  def stage(tables: String, dir: String): String = {
    val dst = Files.createDirectories(Paths.get(dir))
    Files.list(Paths.get(tables)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, dst.resolve(p.getFileName)))
    dst.toString
  }
}
