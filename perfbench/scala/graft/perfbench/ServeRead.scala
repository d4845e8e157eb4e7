package graft.perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.net.{Socket, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import graft.{GraftConfig, GraftEngine}
import graft.compact.Compactor
import graft.ingest.IngestPipeline
import graft.search.{HttpSearchServer, ListRequest, SearchServer}
import org.apache.spark.graft.metrics.SearchMetricsSource
import org.apache.spark.sql.SparkSession
import org.json4s.JValue

/** `serve_read`: closed-loop clients against a resident HTTP search server.
  *
  * Set-up batch-ingests the seeded journal, compacts it (each bucket is
  * left with staging plus one open landing op-group), starts the server
  * with a TTL beyond the run and builds every bucket's snapshot once.
  * Then each client, on its own loopback connection, replays its seeded
  * request list until the deadline: searches, follow-up pages, listing
  * pages (through [[GraftEngine.listObjects]], which has no HTTP route)
  * and, on client 0, the scheduled invalidations. An invalidation pauses
  * the other clients (their requests hold the read side of one gate, the
  * invalidation its write side) until its cold search has answered, so
  * that search is exactly the first after the rebuild and the rebuild is
  * timed alone; warm throughput is counted over the unpaused time.
  */
object ServeRead {

  private final class Conn(port: Int) extends AutoCloseable {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(60000) // a wedged server fails the run instead of hanging it
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = sock.getOutputStream

    private def line(): String = {
      val b = new ByteArrayOutputStream()
      var c = in.read()
      while (c != '\n' && c != -1) { if (c != '\r') b.write(c); c = in.read() }
      b.toString(UTF_8)
    }

    /** One HTTP/1.1 exchange on the kept-alive connection. */
    def request(method: String, target: String): (Int, String) = {
      out.write(s"$method $target HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Length: 0\r\n\r\n"
        .getBytes(UTF_8))
      out.flush()
      val status = line().split(" ")(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
          len = h.substring(i + 1).trim.toInt
        h = line()
      }
      (status, new String(in.readNBytes(len), UTF_8))
    }

    override def close(): Unit = sock.close()
  }

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  def run(spark: SparkSession, runDir: String, plan: JValue, seconds: Double,
          trace: Trace, cores: Int): Main.Outcome = {
    implicit val f = Json.formats
    val buckets = (plan \ "buckets").extract[Seq[String]]
    val landing = s"$runDir/store/landing"
    val staging = s"$runDir/store/staging"
    val journalRows = (plan \ "journal_rows").extract[Long]

    // ---- set-up: the starting store ----------------------------------
    val (_, ingestNs) = Main.timed(trace.span("ingest.batchIngest") {
      trace.tagged(spark, "ingest") {
        IngestPipeline.batchIngest(spark, spark.read.text(s"$runDir/inputs/journal"), landing)
      }
    })
    val landedBytes = Main.dataBytes(landing)
    val landedFiles = Main.dataFiles(landing)
    // rows the compaction folds: a per-layer figure, counted in traced runs
    val folded = if (trace.enabled) IngestCompact.foldable(spark, landing, staging) else 0L
    val (failures, compactNs) = Main.timed(trace.span("compact.compactAll") {
      trace.tagged(spark, "compact") {
        new Compactor(spark, landing, staging).compactAll(cores)
      }
    })
    require(failures.isEmpty, s"set-up compaction failed: $failures")
    val stagingFiles = Main.dataFiles(staging)
    val stagingRows = if (trace.enabled) IngestCompact.rowCount(spark, staging) else 0L
    val storeBytes = Main.dataBytes(landing) + Main.dataBytes(staging)

    val ttl = (plan \ "ttl_ms").extract[Long]
    // the handler thread's jobs carry the "search" tag in traced runs
    val server = new SearchServer(spark, landing, staging, cacheTtlMillis = ttl) {
      override def handle(request: String): (String, Boolean) =
        trace.tagged(spark, "search")(super.handle(request))
    }
    val http = new HttpSearchServer(server, 0)
    val engine = new GraftEngine(spark, GraftConfig(landing, staging,
      s"$runDir/store/checkpoint", cacheTtlMillis = ttl))
    val limit = (plan \ "search_limit").extract[Int]
    val maxKeys = (plan \ "list_max_keys").extract[Int]
    try {
      // warm-up: every bucket's snapshot is built once and one listing
      // runs, so the timed phase starts with caches filled
      val warm = new Conn(http.boundPort)
      try buckets.foreach { b =>
        val (st, body) = warm.request("GET", s"/$b?search=&limit=$limit")
        require(st == 200, s"warm-up search on $b failed: $body")
        engine.listObjects(ListRequest(b, "", "/", None, maxKeys)).collect()
      } finally warm.close()
      val cacheBytes = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum

      // ---- timed phase ------------------------------------------------
      // every request holds the read side; an invalidation and its cold
      // search hold the write side, so nothing queues with the rebuild
      val gate = new ReentrantReadWriteLock(true)
      val pausedNs = new java.util.concurrent.atomic.AtomicLong(0L)
      val nClients = (plan \ "clients").extract[Int]
      val invEveryMs = (plan \ "invalidate_every_ms").extract[Long]
      val invOrder = (plan \ "invalidate_order").extract[Seq[String]]
      val reqs = (0 until nClients).map { c =>
        val src = Source.fromFile(s"$runDir/inputs/client-$c.jsonl", "UTF-8")
        try src.getLines().map(Json.parse).toVector finally src.close()
      }
      val firstOp = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val records = Array.fill(nClients)(ArrayBuffer.empty[Map[String, Any]])

      def client(c: Int): Unit = {
        val conn = new Conn(http.boundPort)
        val out = records(c)
        var seq = 0L
        var i = 0
        var nextInv = 0
        var lastSearch: Option[(String, String, String)] = None // bucket, where, last key
        var lastList: Option[(String, String, String)] = None   // bucket, prefix, last name
        def rec(kind: String, bucket: String, s0: Long, s1: Long, fields: (String, Any)*): Unit = {
          out += Map[String, Any]("kind" -> kind, "client" -> c, "seq" -> seq,
            "bucket" -> bucket, "start_ms" -> (s0 - t0) / 1e6,
            "latency_ms" -> (s1 - s0) / 1e6) ++ fields
          seq += 1
        }
        def search(bucket: String, where: String, startKey: Option[String],
                   cold: Boolean): Unit = {
          val target = s"/$bucket?search=${enc(where)}&limit=$limit" +
            startKey.map(k => s"&start_key=${enc(k)}").getOrElse("")
          val s0 = System.nanoTime()
          val (st, body) = trace.span(if (cold) "search.cold" else "search.http", seq) {
            conn.request("GET", target)
          }
          val s1 = System.nanoTime()
          val rows = if (st == 200) Json.parse(body).children else Nil
          lastSearch =
            if (st == 200 && rows.size == limit)
              Some((bucket, where, (rows.last \ "key").extract[String]))
            else None
          rec("search", bucket, s0, s1, "cold" -> cold, "status" -> st, "where" -> where,
            "start_key" -> startKey, "limit" -> limit, "rows" -> rows.size,
            "body" -> Json.Raw(if (st == 200) body else Json.str(body)))
        }
        def list(bucket: String, prefix: String, after: Option[String]): Unit = {
          val s0 = System.nanoTime()
          val res = trace.span("search.listObjects", seq) {
            trace.tagged(spark, "list") {
              engine.listObjects(ListRequest(bucket, prefix, "/", after, maxKeys)).collect()
            }
          }
          val s1 = System.nanoTime()
          val names = res.map(r => Seq(r.getString(0), r.getString(1), r.getLong(2)))
          lastList =
            if (res.length == maxKeys) Some((bucket, prefix, res.last.getString(1))) else None
          rec("list", bucket, s0, s1, "status" -> 200, "prefix" -> prefix,
            "start_after" -> after, "max_keys" -> maxKeys, "rows" -> res.length,
            "body" -> names)
        }
        try {
          while (System.nanoTime() < deadline) {
            if (c == 0 && System.nanoTime() - t0 >= nextInv * invEveryMs * 1000000L) {
              val b = invOrder(nextInv % invOrder.size)
              nextInv += 1
              val p0 = System.nanoTime() // the pause starts with the drain
              gate.writeLock().lock()
              try {
                val s0 = System.nanoTime()
                val (st, body) = trace.span("search.invalidate", seq) {
                  conn.request("POST", s"/invalidate?bucket=${enc(b)}")
                }
                rec("invalidate", b, s0, System.nanoTime(), "status" -> st,
                  "body" -> Json.Raw(Json.str(body)))
                search(b, "", None, cold = true)
              } finally {
                pausedNs.addAndGet(System.nanoTime() - p0)
                gate.writeLock().unlock()
              }
            } else {
              val r = reqs(c)(i % reqs(c).size)
              i += 1
              gate.readLock().lock()
              try (r \ "op").extract[String] match {
                case "search" =>
                  search((r \ "bucket").extract[String], (r \ "where").extract[String], None,
                    cold = false)
                case "search_next" => lastSearch.foreach { case (b, where, k) =>
                  search(b, where, Some(k), cold = false)
                }
                case "list" =>
                  list((r \ "bucket").extract[String], (r \ "prefix").extract[String], None)
                case "list_next" => lastList.foreach { case (b, p, k) => list(b, p, Some(k)) }
              } finally gate.readLock().unlock()
            }
          }
        } finally conn.close()
      }

      // a client that throws (a failed listing, a socket error or timeout)
      // fails the run: its error is rethrown here once all clients ended
      val clientError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val threads = (0 until nClients).map { c =>
        val t = new Thread(() =>
          try client(c)
          catch { case e: Throwable => clientError.compareAndSet(null, e) },
          s"perfbench-client-$c")
        t.start()
        t
      }
      threads.foreach(_.join())
      Option(clientError.get).foreach(e => throw e)
      val measured = (System.nanoTime() - t0) / 1e9
      val hist = SearchMetricsSource.getOrRegister().latencyMs.getSnapshot
      Main.Outcome(firstOp, measured, records.toSeq.flatten, Map(
        "journal_rows" -> journalRows,
        "ingest_s" -> ingestNs / 1e9, "compact_s" -> compactNs / 1e9,
        "landed_bytes" -> landedBytes, "landed_files" -> landedFiles,
        "staging_files" -> stagingFiles, "staging_rows" -> stagingRows,
        "rows_folded" -> folded,
        "store_bytes" -> storeBytes, "cache_bytes" -> cacheBytes,
        "rebuilds" -> server.snapshotRebuilds,
        "paused_s" -> pausedNs.get / 1e9,
        "server_exec_p50_ms" -> hist.getMedian))
    } finally {
      http.close()
      server.close()
    }
  }
}
