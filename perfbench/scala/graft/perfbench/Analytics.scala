package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.ops.DerivedZone
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s.JValue

/** `analytics_sf01`: the planned `SparkEntry.queries` over a fixed, read-only
  * scale-factor directory, each run once cold and then once warm in the
  * fresh session, back to back. Both executions collect the full result.
  * Untimed, the cold rows are compared with the warm ones, and the warm
  * result is written as parquet for the DuckDB oracle check made outside
  * the JVM; so both are checked against the oracle.
  */
object Analytics {

  def run(spark: SparkSession, runDir: String, plan: JValue, trace: Trace): Main.Outcome = {
    implicit val f = Json.formats
    val sfDir = (plan \ "sf_dir").extract[String]
    val names = (plan \ "queries").extract[Seq[String]]
    val out = s"$runDir/results"
    val ops = ArrayBuffer.empty[Map[String, Any]]
    // oracle SQL of the planned queries, for the check outside the JVM
    Json.write(s"$runDir/oracle_sql.json",
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    val firstOp = System.currentTimeMillis()
    val t0 = System.nanoTime()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def exec(phase: String): (Either[String, (Array[Row], StructType)], Long, Long) = {
        val builds0 = DerivedZone.processBuilds.get()
        val s0 = System.nanoTime()
        val res =
          try Right(trace.span(s"analytics.$phase", ops.size.toLong) {
            trace.tagged(spark, s"analytics.$phase") {
              val df = fn(spark, sfDir)
              (df.collect(), df.schema)
            }
          })
          catch { case e: Throwable => Left(Main.errorClass(e) + ": " + e.getMessage) }
        (res, System.nanoTime() - s0, DerivedZone.processBuilds.get() - builds0)
      }
      val (cold, coldNs, coldBuilds) = exec("cold")
      val (warm, warmNs, warmBuilds) = exec("warm")
      val coldEqualsWarm = for (c <- cold.toOption; w <- warm.toOption) yield sameRows(c._1, w._1)
      warm.foreach { case (rows, schema) =>
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$name")
      }
      ops += Map("kind" -> "query", "name" -> name,
        "status" -> (if (cold.isRight && warm.isRight) "ok" else "failed"),
        "error" -> cold.left.toOption.orElse(warm.left.toOption),
        "cold_ms" -> coldNs / 1e6, "warm_ms" -> warmNs / 1e6,
        "cold_zone_builds" -> coldBuilds, "warm_zone_builds" -> warmBuilds,
        "cold_equals_warm" -> coldEqualsWarm, "rows" -> warm.map(_._1.length).getOrElse(-1))
      // untimed: drop this query's cached blocks and garbage so the next
      // query's windows do not pay for them
      spark.catalog.clearCache()
      System.gc()
    }
    Main.Outcome(firstOp, (System.nanoTime() - t0) / 1e9, ops.toSeq, Map.empty)
  }

  /** Whether two results hold the same rows, as multisets, by `Row.equals`
    * (exact values; NaN equals NaN). */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.sortBy(_.toString).sameElements(b.sortBy(_.toString))
}
