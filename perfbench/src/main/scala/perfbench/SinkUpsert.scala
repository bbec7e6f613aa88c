package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** The write path: one month-partitioned `Sinks.writePartitioned` of the
  * staged 10x orders table, the staged changesets merged one by one with
  * `Sinks.mergeIntoPartitioned`, one `Sinks.compactPartitions`, and a
  * read-back aggregate committed like a query result.
  *
  * Each sink operation is billed its file-level footprint from a listing
  * of the table taken before and after it, outside the timed window. */
object SinkUpsert {
  private val keyCols = Seq("o_orderkey")
  private val partCols = Seq("o_ym")

  def run(spark: SparkSession, data: String, runDir: String,
      runner: Runner): Unit = {
    val table = s"$runDir/table"

    def sinkOp(name: String, kind: String, inputBytes: Long)
        (action: => Int): Unit = {
      val before = census(table)
      var partitionsReturned = 0
      runner.timed(name, kind)(())(_ => partitionsReturned = action) {
        val after = census(table)
        val parts = before.keySet ++ after.keySet
        val rewritten = parts.count(p => before.get(p) != after.get(p))
        val newFiles = after.values.flatten
          .filterNot { case (f, _) => before.values.exists(_.contains(f)) }
        Map(
          "partitions_rewritten" -> rewritten.toDouble,
          "files_written" -> newFiles.size.toDouble,
          "bytes_written" -> newFiles.map(_._2).sum.toDouble,
          "input_bytes" -> inputBytes.toDouble,
          "partitions" -> after.size.toDouble,
          "files" -> after.values.map(_.size).sum.toDouble,
          "partitions_returned" -> partitionsReturned.toDouble)
      }
    }

    val basePath = s"$data/orders10.parquet"
    sinkOp("write_base", "write", new File(basePath).length()) {
      Sinks.writePartitioned(spark.read.parquet(basePath), table, partCols)
      0
    }
    val changes = Option(new File(s"$data/changes").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    changes.foreach { f =>
      sinkOp(s"merge_${f.getName.stripSuffix(".parquet")}", "merge",
          f.length()) {
        Sinks.mergeIntoPartitioned(table, spark.read.parquet(f.getPath),
          keyCols, partCols, deleteCol = Some("del"))
        0
      }
    }
    sinkOp("compact", "compact", 0L) {
      Sinks.compactPartitions(spark, table, partCols)
    }
    runner.timed("readback", "query") {
      spark.read.parquet(table).groupBy(col("o_ym")).agg(
        count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("price_sum"))
    }(df => Main.writeResult(df, s"$runDir/out/readback"))(Map.empty)
  }

  /** Partition directory name -> (file name -> bytes) of the table's
    * parquet files. */
  private def census(table: String): Map[String, Map[String, Long]] =
    Option(new File(table).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("o_ym="))
      .map { d =>
        d.getName -> Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.length()).toMap
      }.toMap
}
