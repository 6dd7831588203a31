package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's measuring JVM. `perfbench/run.py` generates the
  * inputs, builds this package, launches it, checks what it exported and
  * prints the result line; this JVM only calls the program and times it.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <input dir> <work dir> <result json>
  */
object Main {

  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
      input: String, work: String, tracer: Tracer, cores: Int)

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, input, work, out) = args
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      // the product session: the same settings graft.Bench runs with
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = Ctx(spark, seed.toLong, seconds.toDouble, input, work,
      new Tracer(spark, trace == "1"), cores)
    val result = workload match {
      case "daily_load" => DailyLoad.run(ctx)
      case "bi_reads" => BiReads.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val full = result ++ Map("session_s" -> sessionS, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(out), full)
    spark.stop()
  }

  // ---- measurement helpers ------------------------------------------------

  def now(): Long = System.nanoTime()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = now()
    val a = body
    (a, secondsSince(t0))
  }

  /** One timed operation: its result or what it threw, and its wall. A
    * throwing operation is recorded as failed and the run carries on.
    */
  def attempt[A](body: => A): (Either[String, A], Double) = timed {
    try Right(body)
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        Left(e.toString)
    }
  }

  /** An operation's entry in the result: name, wall and, if it threw, why. */
  def opEntry(name: String, s: Double, error: Option[String]): Map[String, Any] =
    Map("name" -> name, "s" -> s) ++ error.map("error" -> _)

  /** Heap in use after a full collection, in MiB: the least of three
    * collections a moment apart, since Spark's cleaner drops blocks and
    * broadcasts only after a collection has found their owners dead.
    */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytesUnder).sum
    else f.length

  /** Order-insensitive content fingerprints, (row count, sum of row
    * hashes) per named frame, computed in one job.
    */
  def fingerprints(frames: Seq[(String, DataFrame)]): Map[String, (Long, String)] = {
    val hashed = frames.map { case (n, df) =>
      df.select(lit(n).as("t"),
        xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
          .cast("decimal(38,0)").as("h"))
    }.reduce(_ unionByName _)
    val got = hashed.groupBy("t").agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.get(2).toString)).toMap
    frames.map { case (n, _) => n -> got.getOrElse(n, (0L, "0")) }.toMap
  }

  /** A frame's rows as JSON-ready values, for the python-side checks. */
  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map(jsonValue))

  def jsonValue(v: Any): Any = v match {
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case d: java.math.BigDecimal => d.doubleValue
    case x => x
  }

  /** The Spark work charged to `c` over `ops` operations, per operation,
    * under the per-layer names; the two ratios are over the whole window.
    */
  def sparkMetrics(c: Counters, wallS: Double, cores: Int,
      ops: Double): Map[String, Double] =
    Map(
      "spark.jobs" -> c.jobs / ops,
      "spark.tasks" -> c.tasks / ops,
      "spark.task_s" -> c.taskMs / 1e3 / ops,
      "spark.gc_s" -> c.gcMs / 1e3 / ops,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0 / ops,
      "spark.spill_mb" -> c.spillBytes / 1048576.0 / ops,
      "spark.fetch_wait_s" -> c.fetchWaitMs / 1e3 / ops,
      "spark.tiny_task_frac" ->
        (if (c.tasks == 0) 0.0 else c.tinyTasks.toDouble / c.tasks),
      "spark.core_util" -> c.taskMs / 1e3 / (wallS * cores))
}
