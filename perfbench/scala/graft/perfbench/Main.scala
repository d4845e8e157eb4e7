package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness: `Main <workload> <runDir> <seconds> <trace>`.
  *
  * Reads the seeded inputs `perfbench/run.py` generated under
  * `<runDir>/inputs`, runs one workload against graft's public API and
  * writes the raw measurements (`result.json`), the responses it got
  * (checked afterwards, outside the JVM, against a model computed apart
  * from graft) and, when tracing, the spans (`spans.jsonl`).
  */
object Main {

  /** What every workload hands back: raw per-operation records plus
    * workload-specific fields, merged into `result.json`. */
  final case class Outcome(firstOpEpochMs: Long, measuredS: Double,
                           ops: Seq[Map[String, Any]], extra: Map[String, Any])

  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: Main <workload> <runDir> <seconds> <trace 0|1>")
    val Array(workload, runDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val trace = new Trace(traceArg == "1")
    val plan = Json.read(s"$runDir/inputs/plan.json")
    val cores = (plan \ "cores").extract[Int](Json.formats, manifest[Int])
    val spark = session(runDir, cores)
    trace.install(spark)
    val gc0 = gcMillis
    val outcome = workload match {
      case "serve_read" => ServeRead.run(spark, runDir, plan, seconds, trace, cores)
      case "ingest_compact" => IngestCompact.run(spark, runDir, plan, seconds, trace, cores)
      case "analytics_sf01" => Analytics.run(spark, runDir, plan, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    trace.settle()
    val gcMs = gcMillis - gc0
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val common = Map[String, Any](
      "workload" -> workload,
      "jvm_start_epoch_ms" -> rt.getStartTime,
      "first_op_epoch_ms" -> outcome.firstOpEpochMs,
      "measured_s" -> outcome.measuredS,
      "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "storage_memory_mb" -> spark.sparkContext.getExecutorMemoryStatus.values
        .map(_._1).sum / (1024 * 1024),
      "gc_ms" -> gcMs,
      "uptime_s" -> rt.getUptime / 1000.0,
      "ops" -> outcome.ops)
    val traced =
      if (!trace.enabled) Map.empty[String, Any]
      else {
        writeSpans(s"$runDir/spans.jsonl", trace)
        Map("task_stats" -> trace.taskStats.asScala.map { case (k, s) =>
          k -> Map("jobs" -> s.jobs, "tasks" -> s.tasks, "run_s" -> s.runNs / 1e9,
            "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
            "spill_bytes" -> s.spill)
        }.toMap,
          "actions" -> trace.actions.asScala.toSeq.map(a => Map(
            "func" -> a.func,
            "duration_ms" -> a.durationNs / 1e6, "planning_ms" -> a.planningMs,
            "columns" -> a.columns, "scan_rows" -> a.scanRows,
            "cache_scan_rows" -> a.cacheScanRows, "out_rows" -> a.outRows,
            "leaves" -> a.leaves)))
      }
    Json.write(s"$runDir/result.json", common ++ outcome.extra ++ traced)
    spark.stop()
  }

  def session(runDir: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.graft.derived.dir", s"$runDir/derived")
      // generated classes of ~150 plan shapes must not evict each other,
      // or warm executions recompile what their cold run compiled
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  private def writeSpans(path: String, trace: Trace): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    try trace.allSpans.foreach { s =>
      w.write(Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      w.newLine()
    } finally w.close()
  }

  /** Time one call in nanoseconds. */
  def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    (a, System.nanoTime() - t0)
  }

  /** Bytes of the regular data files under `dir` (parquet parts; hidden
    * and `_`-prefixed marker files excluded). */
  def dataBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.map(p => Files.size(p)).sum
      finally s.close()
    }
  }

  def dataFiles(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".parquet")
      }.toLong
      finally s.close()
    }
  }

  /** The error class of a Spark failure: the innermost condition along
    * the cause chain (a stream's STREAM_FAILED wraps the real one). */
  def errorClass(e: Throwable): String = {
    var found = e.getClass.getSimpleName
    var cur = e
    while (cur != null) {
      cur match {
        case st: org.apache.spark.SparkThrowable if st.getCondition != null =>
          found = st.getCondition
        case _ => ()
      }
      cur = cur.getCause
    }
    found
  }
}
