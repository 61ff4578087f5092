package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The shared replay harness every incremental query stands on:
  * [[StreamingQueries.stageThirds]] staging, the
  * [[StreamingQueries.runBatchesWithId]] driver, and the
  * [[StreamingQueries.scratchDir]] state-dir lifecycle. */
class StreamingHarnessSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("streaming-harness-spec")
    .getOrCreate()

  test("stageThirds replays three key-ordered batches with ids 0, 1, 2") {
    val df = spark.range(0, 30).select(col("id").as("k"),
      (col("id") * 10).as("v"))
    val staging = StreamingQueries.stageThirds("graft_harness_spec_thirds",
      df, "k")
    val seen = new ConcurrentLinkedQueue[(Long, Seq[Long])]()
    StreamingQueries.runBatchesWithId(spark, df.schema, staging) {
      (batch, bid) =>
        seen.add(bid -> batch.select(col("k")).collect()
          .map(_.getLong(0)).toSeq.sorted)
    }
    val got = seen.asScala.toSeq
    // kMin = 0, kMax = 29: cut points 0 + 29/3 = 9 and 0 + 2·29/3 = 19
    assert(got.map(_._1) == Seq(0L, 1L, 2L))
    assert(got.map(_._2) ==
      Seq((0L to 9L).toSeq, (10L to 19L).toSeq, (20L to 29L).toSeq))
  }

  test("stageThirds on an empty relation throws") {
    val empty = spark.range(0, 10).select(col("id").as("k"))
      .filter(col("k") < 0)
    intercept[IllegalArgumentException] {
      StreamingQueries.stageThirds("graft_harness_spec_empty", empty, "k")
    }
  }

  test("scratchDir is pid-scoped and wiped at create time") {
    val dir = "/data/harness-spec"
    val first = StreamingQueries.scratchDir("graft_harness_spec", dir)
    assert(first.getName == "graft_harness_spec_" +
      StreamingQueries.pathTag(dir) + "_" + ProcessHandle.current().pid())
    val stale = new java.io.File(first, "stale/part.txt")
    stale.getParentFile.mkdirs()
    java.nio.file.Files.write(stale.toPath, "old".getBytes("UTF-8"))
    assert(stale.exists())

    val second = StreamingQueries.scratchDir("graft_harness_spec", dir)
    assert(second == first)
    assert(second.isDirectory)
    assert(second.list().isEmpty, "pre-existing contents must be wiped")

    val other = StreamingQueries.scratchDir("graft_harness_spec", dir + "2")
    assert(other != first, "distinct dataset paths get distinct dirs")
  }
}
