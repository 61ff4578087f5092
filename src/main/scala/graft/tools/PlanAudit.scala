package graft.tools

import org.apache.spark.sql.SparkSession

/** Registry-wide duplicated-subtree audit (r10): for every
  * `SparkEntry.queries` entry, count the parquet/orc/csv scans in its
  * final physical plan and flag queries whose plan reads the SAME
  * source more times than expected. Catalyst performs no common-subplan
  * reuse, so a derived relation consumed by two operators silently
  * re-scans (and re-computes) its whole subtree — the smell that cost
  * `dedup_canonical` a duplicated corpus pass (NOTES_r10).
  *
  * A repeated scan is NOT automatically wrong (self-joins and
  * inclusion–exclusion formulations legitimately read a table twice);
  * the tool prints counts so a human audits the top of the list against
  * the plan snapshot. Streaming queries are skipped — building them
  * runs the stream, and their batch plans don't reflect the state-store
  * pipeline anyway.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val scanRe = """(?m)^\s*(?:\+- |:- |)*.*Scan (parquet|orc|csv|json)""".r
    // building a stream_* query RUNS its micro-batches; their batch
    // plans don't reflect the state-store pipeline anyway (prefix match
    // so new streaming-maintenance twins stay excluded automatically)
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => n.startsWith("stream_") }
      .flatMap { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          Some(name -> scanRe.findAllIn(plan).size)
        } catch { case e: Throwable =>
          println(s"[planaudit] $name FAILED to build: ${e.getMessage}")
          None
        }
      }
    rows.sortBy(-_._2).foreach { case (name, n) =>
      println(f"[planaudit] $name%-28s scans=$n")
    }
    spark.stop()
  }
}
