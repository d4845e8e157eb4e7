package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import graft.compact.Compactor
import graft.ingest.IngestPipeline
import graft.search.{SearchQuery, SearchServer}
import org.apache.spark.sql.SparkSession
import org.json4s.JValue

/** `ingest_compact`: cron-style write cycles on one checkpoint.
  *
  * Each cycle drops one journal file into the stream's input directory,
  * drains it with `IngestPipeline.fileJournalStream(Trigger.AvailableNow)`,
  * runs `Compactor.compactAll`, and then searches every bucket through one
  * resident [[SearchServer]]: the first search per bucket rebuilds the
  * snapshot (compaction stamped a new epoch), the next ones are warm. A
  * failed ingest is recorded with its error class and that cycle's
  * compaction and searches are skipped. After the timed calls of a cycle,
  * each bucket's snapshot key set is recorded (untimed) for the model check.
  *
  * Set-up runs one untimed cycle on a throw-away store and checkpoint so
  * the measured cycles start with a warm JVM.
  */
object IngestCompact {

  private final case class Store(root: String) {
    val input = s"$root/journal"
    val landing = s"$root/landing"
    val staging = s"$root/staging"
    val checkpoint = s"$root/checkpoint"
    Files.createDirectories(Paths.get(input))
  }

  def run(spark: SparkSession, runDir: String, plan: JValue, seconds: Double,
          trace: Trace, cores: Int): Main.Outcome = {
    implicit val f = Json.formats
    val buckets = (plan \ "buckets").extract[Seq[String]]
    val cycles = (plan \ "cycles").extract[Seq[String]]
    val warmWheres = (plan \ "warm_wheres").extract[Seq[Seq[String]]]
    val limit = (plan \ "search_limit").extract[Int]
    val ttl = (plan \ "ttl_ms").extract[Long]
    val ops = ArrayBuffer.empty[Map[String, Any]]
    var firstOp = 0L
    var t0 = 0L
    var round = 0

    def liveKeys(server: SearchServer, b: String): Seq[String] =
      server.searcher.bucketSnapshot(b).select("key").collect().map(_.getString(0)).sorted.toSeq

    /** One cycle; `record` off for the set-up cycle. */
    def cycle(store: Store, server: SearchServer, k: Int, file: String, wheres: Seq[String],
              record: Boolean): Unit = {
      def rec(m: Map[String, Any]): Unit = if (record) ops += (m + ("cycle" -> k) + ("round" -> round))
      Files.copy(Paths.get(s"$runDir/$file"), Paths.get(s"${store.input}/cycle-$k.json"),
        StandardCopyOption.REPLACE_EXISTING)
      val filesBefore = Main.dataFiles(store.landing)
      val bytesBefore = Main.dataBytes(store.landing)
      if (record && firstOp == 0L) { firstOp = System.currentTimeMillis(); t0 = System.nanoTime() }
      val callEpoch = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val outcome =
        try trace.span("ingest.fileJournalStream", k) {
          val q = IngestPipeline.fileJournalStream(spark, store.input, store.landing,
            store.checkpoint)
          q.awaitTermination()
          Right(q.recentProgress.toSeq)
        } catch { case e: Throwable => Left(Main.errorClass(e)) }
      val s1 = System.nanoTime()
      outcome match {
        case Left(err) =>
          rec(Map("kind" -> "ingest", "status" -> "failed", "error" -> err,
            "latency_ms" -> (s1 - s0) / 1e6))
        case Right(progress) =>
          val batches = progress.filter(_.numInputRows > 0)
          val landed = batches.map { p =>
            Option(p.observedMetrics.get(IngestPipeline.ObservedMetricsName))
              .map(_.getAs[Long]("rows_written")).getOrElse(0L)
          }.sum
          def dur(key: String): Long =
            batches.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum
          val startMs = batches.headOption
            .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli - callEpoch)
            .getOrElse(0L)
          rec(Map("kind" -> "ingest", "status" -> "ok", "latency_ms" -> (s1 - s0) / 1e6,
            "rows_landed" -> landed, "batches" -> batches.size,
            "input_rows" -> batches.map(_.numInputRows).sum,
            "start_ms" -> startMs, "add_batch_ms" -> dur("addBatch"),
            "commit_ms" -> (dur("walCommit") + dur("commitOffsets")),
            "files_added" -> (Main.dataFiles(store.landing) - filesBefore),
            "bytes_added" -> (Main.dataBytes(store.landing) - bytesBefore)))
          val folded = foldable(spark, store.landing, store.staging)
          // row counts only feed per-layer metrics: traced runs only
          def stagingRows = if (trace.enabled) rowCount(spark, store.staging) else 0L
          val stagingRows0 = stagingRows
          val stagingFiles0 = Main.dataFiles(store.staging)
          val c0 = System.nanoTime()
          val failures = trace.span("compact.compactAll", k) {
            trace.tagged(spark, "compact") {
              new Compactor(spark, store.landing, store.staging).compactAll(cores)
            }
          }
          val c1 = System.nanoTime()
          rec(Map("kind" -> "compact", "status" -> (if (failures.isEmpty) "ok" else "failed"),
            "error" -> failures.map { case (b, e) => s"$b: ${Main.errorClass(e)}" }.mkString("; "),
            "latency_ms" -> (c1 - c0) / 1e6, "rows_folded" -> folded,
            "staging_files_added" -> (Main.dataFiles(store.staging) - stagingFiles0),
            "staging_rows_added" -> (stagingRows - stagingRows0),
            "store_bytes" -> (Main.dataBytes(store.landing) + Main.dataBytes(store.staging))))
          if (failures.isEmpty) {
            buckets.foreach { b =>
              (("" +: wheres).zipWithIndex).foreach { case (where, i) =>
                val cold = i == 0
                val q0 = System.nanoTime()
                val body = trace.span(if (cold) "search.cold" else "search.warm", k) {
                  trace.tagged(spark, "search") {
                    server.executeJson(SearchQuery(b, where, None, limit))
                  }
                }
                rec(Map("kind" -> "search", "bucket" -> b, "cold" -> cold,
                  "where" -> where, "limit" -> limit, "status" -> 200,
                  "latency_ms" -> (System.nanoTime() - q0) / 1e6, "body" -> Json.Raw(body)))
              }
            }
            buckets.foreach { b =>
              rec(Map("kind" -> "snapshot", "bucket" -> b, "keys" -> liveKeys(server, b)))
            }
          }
      }
    }

    // ---- set-up: one untimed cycle on a throw-away store -------------
    val warmStore = Store(s"$runDir/warmup")
    val warmServer = new SearchServer(spark, warmStore.landing, warmStore.staging, ttl)
    try cycle(warmStore, warmServer, -1, (plan \ "warmup_cycle").extract[String],
      warmWheres.head, record = false)
    finally warmServer.close()
    spark.catalog.clearCache()

    // ---- timed rounds: every round replays all cycles on a fresh store
    // and checkpoint, so each run attempts whole rounds of the same calls
    var rebuilds = 0L
    while (round == 0 || System.nanoTime() - t0 < (seconds * 1e9).toLong) {
      val store = Store(s"$runDir/store-$round")
      val server = new SearchServer(spark, store.landing, store.staging, ttl)
      try cycles.zipWithIndex.foreach { case (file, k) =>
        cycle(store, server, k, file, warmWheres(k % warmWheres.size), record = true)
      } finally server.close()
      rebuilds += server.snapshotRebuilds
      spark.catalog.clearCache()
      round += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    Main.Outcome(firstOp, measured, ops.toSeq, Map("rounds" -> round, "rebuilds" -> rebuilds))
  }

  def rowCount(spark: SparkSession, dir: String): Long =
    if (Main.dataFiles(dir) == 0) 0L else spark.read.parquet(dir).count()

  /** Landing rows in the op-groups the next compaction folds (all but the
    * newest group of each bucket) — counted untimed, before the call. */
  def foldable(spark: SparkSession, landing: String, staging: String): Long = {
    val c = new Compactor(spark, landing, staging)
    c.landingBuckets().map { b =>
      val groups = c.groupsToCompact(b, force = false)
      if (groups.isEmpty) 0L
      else spark.read.parquet(groups.map(g => s"$landing/bucket=$b/opGroup=$g"): _*).count()
    }.sum
  }
}
