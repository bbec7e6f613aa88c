package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampType}

/** One pass of one workload in one fresh Spark process (closed loop, one
  * client). The program is driven only through its public functions:
  * `Queries.all` for the catalog workloads and `Sinks.*` for the write
  * path. Every result is committed to parquet under `<run>/out` so that
  * run.py can check it against DuckDB after this process has exited.
  *
  * Usage (run.py builds the arguments):
  *   Main --workload <name> --data <dir> --run <dir> --cpus <n>
  *        --trace <0|1> [--ops q01_x,q02_y,...]
  *
  * Nothing between operations resets state: no `clearCache`, no
  * `unpersist`, no `System.gc`. Persisted state is read after each
  * operation, outside its timed window. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val runDir = opt("run")
    val cpus = opt("cpus")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      // the program's documented session settings (Verify/Bench)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "256m")
      .config("spark.ui.enabled", "false")
      // keep every file this process writes inside the run directory
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyEpochMs = System.currentTimeMillis()

    val runner = new Runner(spark,
      if (opt("trace") == "1") Some(new Tracer(spark)) else None)
    val outDir = s"$runDir/out"
    new File(outDir).mkdirs()
    workload match {
      case "sink_upsert" => SinkUpsert.run(spark, data, runDir, runner)
      case _ =>
        val byName = graft.Queries.all.map(q => q.name -> q).toMap
        val names = opt("ops").split(",").toSeq
        names.foreach { n =>
          val q = byName.getOrElse(n,
            throw new IllegalArgumentException(s"unknown query $n"))
          var built: Option[DataFrame] = None
          runner.timed(n, "query")(q.run(spark, data)) { df =>
            built = Some(df)
            writeResult(df, s"$outDir/$n")
          } {
            for (t <- runner.tracer; df <- built) t.recordAnalysis(df)
            Map.empty
          }
        }
        Json.writeFile(s"$runDir/oracle_sql.json", Json.obj(
          names.flatMap(n => byName(n).oracle.map(n -> Json.str(_)))))
    }
    // Outside the timed window: what the pass left persisted once the
    // JVM has collected garbage and the ContextCleaner has caught up.
    val retainedBytes = settle(spark)
    runner.write(runDir, workload, readyEpochMs, retainedBytes)
    spark.stop()
  }

  /** The result write Verify uses, so the committed files match what the
    * program's oracle SQL was written against: temporal columns go out
    * as TIMESTAMP_NTZ. */
  def writeResult(df: DataFrame, path: String): Unit = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType | DateType =>
          col(f.name).cast("timestamp_ntz").as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*).write.mode("overwrite").parquet(path)
  }

  /** GC until the set of persisted blocks stops shrinking (the
    * ContextCleaner unpersists RDDs whose driver objects were
    * collected), then return the storage memory still held. */
  private def settle(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    def held() = (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(_.memSize).sum)
    var last = held()
    var stable = 0
    var rounds = 0
    while (stable < 3 && rounds < 40) {
      System.gc()
      Thread.sleep(50)
      val now = held()
      if (now == last) stable += 1 else stable = 0
      last = now
      rounds += 1
    }
    last._2
  }
}

/** Runs and records the operations of one pass, in order. */
final class Runner(spark: SparkSession, val tracer: Option[Tracer]) {
  import Runner.OpRecord
  private val ops = ArrayBuffer.empty[OpRecord]
  private val clock = new Clock

  /** Times one operation: `build` returns what `action` consumes (plan
    * construction plus any eager loop work the program does), `action`
    * commits the result, and `extra` is evaluated after the timed window
    * to attach operation-specific counts. A throwing operation is
    * recorded as failed and the pass goes on. */
  def timed[T](name: String, kind: String)(build: => T)(action: T => Unit)
      (extra: => Map[String, Double]): Unit = {
    val idx = ops.size
    tracer.foreach(_.beginOp(idx, name))
    spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    var t1 = 0L
    val err = try {
      val built = build
      t1 = System.nanoTime()
      action(built)
      None
    } catch {
      case e: Throwable =>
        Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          .take(400))
    }
    val t2 = System.nanoTime()
    if (t1 == 0L) t1 = t2
    spark.sparkContext.clearJobGroup()
    tracer.foreach(_.endOp(idx, clock.epochMs(t0), clock.epochMs(t2)))
    val sc = spark.sparkContext
    ops += OpRecord(name, kind, t0, t1 - t0, t2 - t1, err,
      sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(_.memSize).sum,
      extra)
    err.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
  }

  /** Writes `result.json` (and, when traced, `spans.jsonl`). The pass
    * runs from the first operation's start to the last one's commit. */
  def write(runDir: String, workload: String, readyEpochMs: Long,
      retainedBytes: Long): Unit = {
    val passStart = ops.headOption.map(_.startNs).getOrElse(0L)
    val passEnd = ops.lastOption.map(_.endNs).getOrElse(0L)
    val layers = tracer.map(_.counters).getOrElse(Map.empty)
    tracer.foreach(_.writeSpans(s"$runDir/spans.jsonl",
      clock.epochMs(passStart), clock.epochMs(passEnd), workload,
      ops.toSeq.map(_.name)))
    def nums(m: Map[String, Double]): String =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    Json.writeFile(s"$runDir/result.json", Json.obj(Seq(
      "workload" -> Json.str(workload),
      "ready_epoch_ms" -> Json.num(readyEpochMs.toDouble),
      "wall_s" -> Json.num((passEnd - passStart) / 1e9),
      "retained_mb" -> Json.num(retainedBytes / 1048576.0),
      "ops" -> Json.arr(ops.toSeq.zipWithIndex.map { case (o, i) =>
        Json.obj(Seq(
          "name" -> Json.str(o.name),
          "kind" -> Json.str(o.kind),
          "build_ms" -> Json.num(o.buildNs / 1e6),
          "action_ms" -> Json.num(o.actionNs / 1e6),
          "error" -> o.error.map(Json.str).getOrElse("null"),
          "persisted_after" -> Json.num(o.persistedAfter.toDouble),
          "storage_mb_after" -> Json.num(o.storageBytesAfter / 1048576.0),
          "extra" -> nums(o.extra),
          "layers" -> nums(layers.getOrElse(i, Map.empty))))
      }))))
  }
}

object Runner {
  private final case class OpRecord(
      name: String, kind: String, startNs: Long, buildNs: Long,
      actionNs: Long, error: Option[String], persistedAfter: Int,
      storageBytesAfter: Long, extra: Map[String, Double]) {
    def endNs: Long = startNs + buildNs + actionNs
  }
}

/** Maps `System.nanoTime` readings onto the epoch-millisecond clock that
  * Spark's listener events use, so operation spans and job/stage spans
  * nest on one time axis. */
final class Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def epochMs(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6
}

/** Just enough JSON writing for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",\n", "]")
  def writeFile(path: String, s: String): Unit =
    Files.writeString(Paths.get(path), s): Unit
}
