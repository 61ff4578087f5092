package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.mwas.{MwasCli, MwasConfig, MwasIntake, MwasServer, Pipeline}
import graft.sources.CsvIo

import Stats.{median, timed}

/** One workload. `prepare` is its repeatable set-up step and `warmUp` its
  * one untimed pass; `unit` is one timed unit of work (a CLI run, a round
  * of requests, a stream catch-up, a curation pass) and returns seconds. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  def prepare(): Unit
  def warmUp(): Unit
  def unit(rep: Int): Double
  /** Contract metrics and output checks after the timed loop. */
  def finish(times: Seq[Double]): Unit
  def close(): Unit = ()

  protected def spark = ctx.spark
  protected def out = ctx.out

  /** Session build + median of `reps` set-up steps + the warm-up. */
  def setUp(reps: Int = 3): Double = {
    val prep = (1 to reps).map { i =>
      if (i > 1) close()
      timed(prepare())._2
    }
    val warm = timed(warmUp())._2
    val s = ctx.sessionS + median(prep) + warm
    out.report(s"$name.setup_s") = s
    s
  }

  /** Units until `seconds` have passed, and at least two. */
  def untracedRun(): Unit = {
    out.metrics("setup_s") = setUp()
    val deadline = System.nanoTime + (ctx.seconds * 1e9).toLong
    val times = ArrayBuffer.empty[Double]
    var rep = 0
    while (times.length < 2 || System.nanoTime < deadline) {
      out.op(s"$name unit $rep")(unit(rep)).foreach(times += _)
      rep += 1
      require(rep < 10000 && (times.nonEmpty || rep < 2),
        s"$name: every unit failed")
    }
    Heap.sample()
    out.report(s"$name.units") = times.length
    out.samples(s"$name.unit_s") = times.toSeq
    finish(times.toSeq)
    close()
  }
}

object Workloads {
  def make(ctx: Ctx, name: String): Workload = name match {
    case "mwas_batch" => new Batch(ctx)
    case "mwas_server" => new Server(ctx)
    case "mwas_stream" => new Stream(ctx)
    case "curation_batch" => new Curation(ctx)
  }

  def deleteTree(path: String): Unit =
    graft.core.TempDirs.deleteTree(new File(path).toPath)

  def statusCounts(out: DataFrame): Map[String, Long] =
    out.groupBy(col("status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Share of permutation-routed contrasts, and among those the shares
    * that stopped early and that were enumerated exactly. */
  def routeShares(status: Map[String, Long]): (Double, Double, Double) = {
    val total = status.values.sum.toDouble
    def n(p: String => Boolean) =
      status.collect { case (k, v) if p(k) => v }.sum.toDouble
    val perm = n(_.startsWith("permutation_test"))
    (perm / total, n(_.contains("permutation_mc_early")) / perm.max(1),
      n(_.contains("permutation_exact")) / perm.max(1))
  }
}

/** The MWAS inputs as the CLI reads them. */
final case class MwasInputs(input: DataFrame, catalog: DataFrame,
    sets: DataFrame)

trait MwasFixture { self: Workload =>
  def inputCsv: String = ctx.mwas("input.csv")
  def catalogPath: String = ctx.mwas("catalog.parquet")
  def metadataPath: String = ctx.mwas("metadata.parquet")

  def open(): MwasInputs = MwasInputs(
    CsvIo.readUserInput(ctx.spark, inputCsv),
    ctx.spark.read.parquet(catalogPath),
    MwasIntake.toSets(ctx.spark.read.parquet(metadataPath)))

  /** What the CLI computes for these flags, collected and sorted. */
  def reference(in: MwasInputs, flags: Set[String]): Seq[Row] =
    Compare.sorted(Pipeline.run(in.input, in.catalog, in.sets,
      MwasIntake.flagsToConfig(flags)).collect().toSeq)
}

// ------------------------------------------------------------ mwas_batch --

/** One `MwasCli.run` with default flags over the whole fixture. */
final class Batch(ctx: Ctx) extends Workload(ctx) with MwasFixture {
  val name = "mwas_batch"
  /** (contrasts, significant) of every untraced CLI run. */
  val results = ArrayBuffer.empty[(Long, Long)]

  def args(dir: String): Array[String] =
    Array(inputCsv, catalogPath, metadataPath, dir)

  def prepare(): Unit = {
    val in = open()
    in.input.schema; in.catalog.schema; in.sets.schema
  }

  def warmUp(): Unit = MwasCli.run(spark, args(ctx.dir("batch/warm")))

  def unit(rep: Int): Double = {
    val dir = ctx.dir(s"batch/rep$rep")
    val (r, s) = timed(MwasCli.run(spark, args(dir)))
    results += r
    if (rep > 0) Workloads.deleteTree(ctx.work + s"/batch/rep${rep - 1}")
    out.files("batch_combined") = s"$dir/combined"
    s
  }

  def finish(times: Seq[Double]): Unit = {
    val (n, sig) = results.head
    out.check(n > 0, "mwas_batch wrote no contrasts")
    out.check(results.forall(_ == (n, sig)),
      s"mwas_batch reps disagree: ${results.distinct}")
    val job = median(times)
    out.metrics("op_p50_s") = job
    out.metrics("items_per_s") = n / job
    out.report("job_s") = job
    out.report("contrasts_per_s") = n / job
    out.traffic("contrasts") = n
    out.traffic("significant") = sig
  }
}

// ----------------------------------------------------------- mwas_server --

final case class Request(id: Int, file: String, flags: Seq[String],
    bioprojects: Seq[String]) {
  def query: String =
    flags.map(f => "flag=" + java.net.URLEncoder.encode(f, "UTF-8"))
      .mkString("?", "&", "")
}

/** A closed loop of two clients against `MwasServer.start`; each sends
  * its next request only after the reply to the previous one. */
final class Server(ctx: Ctx) extends Workload(ctx) with MwasFixture {
  val name = "mwas_server"
  val clients = 2
  private var in: MwasInputs = _
  private var server: com.sun.net.httpserver.HttpServer = _
  private val requests: IndexedSeq[Request] = {
    val src = Source.fromFile(ctx.mwas("requests/index.tsv"), "UTF-8")
    try src.getLines().map(_.split("\t", -1)).map { f =>
      Request(f(0).toInt, f(1), f(2).split(",").filter(_.nonEmpty).toSeq,
        f(3).split(",").toSeq)
    }.toIndexedSeq finally src.close()
  }
  private val bodies = requests.map(r => Files.readAllBytes(
    new File(ctx.mwas(s"requests/${r.file}")).toPath))
  /** (request id, latency s, reply) of every completed request. */
  val replies = ArrayBuffer.empty[(Int, Double, String)]
  private var windowS = 0.0

  def prepare(): Unit = {
    in = open()
    server = MwasServer.start(spark, in.catalog, in.sets, 0)
  }

  override def close(): Unit = if (server != null) {
    server.stop(0)
    server = null
  }

  def post(r: Request): String = {
    val port = server.getAddress.getPort
    val c = URI.create(s"http://127.0.0.1:$port/run_mwas${r.query}")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    c.getOutputStream.write(bodies(r.id))
    c.getOutputStream.close()
    val code = c.getResponseCode
    val stream = if (code == 200) c.getInputStream else c.getErrorStream
    val reply = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    c.disconnect()
    require(code == 200, s"request ${r.id}: HTTP $code $reply")
    reply
  }

  def warmUp(): Unit = { post(requests(0)); post(requests(1)) }

  /** Clients send requests from the shared list in order until
    * `deadline`, or until `limit` requests have been sent. */
  def loop(deadlineNs: Long, limit: Int, t: Tracer)
      : Seq[(Int, Double, String)] = {
    val next = new AtomicInteger(0)
    val got = ArrayBuffer.empty[(Int, Double, String)]
    val errors = ArrayBuffer.empty[Throwable]
    val t0 = System.nanoTime
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var k = next.getAndIncrement()
        while (k < limit && System.nanoTime < deadlineNs) {
          val r = requests(k % requests.length)
          try {
            val (reply, s) = timed(
              t.span("server.request", "mwas", s"req$k")(post(r)))
            got.synchronized { got += ((r.id, s, reply)) }
          } catch {
            case e: Throwable => got.synchronized { errors += e }
          }
          k = next.getAndIncrement()
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    windowS = (System.nanoTime - t0) / 1e9
    out.attempted += got.length + errors.length
    errors.foreach(e => out.failures += s"mwas_server: $e")
    got.toSeq
  }

  def unit(rep: Int): Double = throw new UnsupportedOperationException

  override def untracedRun(): Unit = {
    out.metrics("setup_s") = setUp()
    val deadline = System.nanoTime + (ctx.seconds * 1e9).toLong
    replies ++= loop(deadline, Int.MaxValue, ctx.untraced)
    Heap.sample()
    finish(replies.map(_._2).toSeq)
    close()
  }

  def finish(latencies: Seq[Double]): Unit = {
    require(latencies.nonEmpty, "mwas_server: no request completed")
    val p50 = median(latencies)
    out.metrics("op_p50_s") = p50
    out.metrics("items_per_s") = latencies.length / windowS
    out.report("latency_p50_s") = p50
    out.report("requests_per_s") = latencies.length / windowS
    out.report("requests") = latencies.length
    out.samples("latency_s") = latencies
    checkReplies()
  }

  /** Every distinct request's reply must equal the batch rows for the
    * same bioprojects and flags. */
  def checkReplies(): Unit = {
    val firsts = replies.groupBy(_._1).map { case (id, rs) =>
      id -> rs.head._3 }.toSeq.sortBy(_._1)
    val refs = Seq(Set.empty[String], Set("--only-t-test")).map(f =>
      f -> reference(in, f)).toMap
    val schema = Pipeline.run(in.input, in.catalog, in.sets).schema
    val session = spark
    import session.implicits._
    val parsed = firsts.map { case (id, reply) =>
      val i = reply.indexOf("\"results\":")
      (id, reply.substring(i + 10, reply.length - 1))
    }.toDF("id", "j")
      .select(col("id"), explode(from_json(col("j"), ArrayType(schema)))
        .as("r"))
      .select(col("id") +: schema.fieldNames.map(f => col(s"r.$f")): _*)
      .collect().groupBy(_.getInt(0))
    var rows = 0L
    firsts.foreach { case (id, _) =>
      val r = requests(id)
      val want = refs(r.flags.toSet).filter(row =>
        r.bioprojects.contains(row.getString(0)))
      val got = Compare.sorted(parsed.getOrElse(id, Array.empty[Row])
        .map(row => Row.fromSeq(row.toSeq.tail)).toSeq)
      rows += got.length
      out.check(want.nonEmpty, s"request $id: batch has no rows")
      Compare.rows(want, got).foreach(d =>
        out.failures += s"request $id differs from batch: $d")
    }
    out.traffic("contrasts_per_request") = rows.toDouble / firsts.length.max(1)
  }
}

// ----------------------------------------------------------- mwas_stream --

/** Seeded batches of the input replayed through `readStream` with
  * `maxFilesPerTrigger=1`, `AvailableNow` and `foreachBatch`; each trigger
  * calls `Pipeline.incrementalTrigger` and writes the result. */
final class Stream(ctx: Ctx) extends Workload(ctx) with MwasFixture {
  val name = "mwas_stream"
  val cfg = MwasConfig(onlyTTest = true)
  private var in: MwasInputs = _
  private var catalog: DataFrame = _
  private var sets: DataFrame = _
  private var pdims: graft.mwas.PipelineDims = _
  private var nUniverse = 0L
  val triggerS = ArrayBuffer.empty[Double]
  private var lastResult = ""
  private var finalState: Option[DataFrame] = None

  def prepare(): Unit = {
    in = open()
    catalog = in.catalog.persist()
    sets = in.sets.persist()
    pdims = Pipeline.dims(catalog, sets)
    pdims.bpUniverse.persist()
    pdims.member.persist()
    nUniverse = pdims.bpUniverse.count()
    pdims.member.count()
    sets.count()
  }

  override def close(): Unit = if (pdims != null) {
    Seq(pdims.member, pdims.bpUniverse, sets, catalog)
      .foreach(_.unpersist(blocking = true))
    pdims = null
  }

  /** One catch-up. The JIT still speeds up later triggers after it, so
    * the first timed catch-up reads a little slow; the medians over three
    * or more catch-ups absorb that, and a second warm-up catch-up would
    * lengthen every run by about a tenth. */
  def warmUp(): Unit = {
    catchUp("warm", ctx.untraced)
    triggerS.clear()
  }

  val batchSchema = StructType(Seq(StructField("run", StringType),
    StructField("group", StringType), StructField("quantifier", DoubleType)))

  /** Replays every batch; returns seconds from the first batch's start to
    * the end of the last result write. */
  def catchUp(tag: String, t: Tracer): Double = {
    val resultDir = ctx.dir(s"stream/$tag") + "/result"
    var state: Option[DataFrame] = None
    var results: Option[DataFrame] = None
    var first = 0L
    var last = 0L
    val q = spark.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", "1").parquet(ctx.mwas("stream"))
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = System.nanoTime
        if (first == 0L) first = t0
        t.span("stream.trigger", "streaming", s"trigger$id") {
          val (next, full) = t.span("streaming.merge", "streaming",
              s"trigger$id") {
            Pipeline.incrementalTrigger(batch, catalog, sets, cfg, pdims,
              nUniverse, state, results)
          }
          state = Some(next)
          results = Some(full)
          t.span("streaming.readout", "streaming", s"trigger$id") {
            full.write.mode("overwrite").parquet(resultDir)
          }
        }
        last = System.nanoTime
        triggerS += (last - t0) / 1e9
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    finalState = state
    lastResult = resultDir
    (last - first) / 1e9
  }

  def unit(rep: Int): Double = {
    val s = catchUp(s"rep$rep", ctx.untraced)
    if (rep > 0) Workloads.deleteTree(ctx.work + s"/stream/rep${rep - 1}")
    s
  }

  def stateRows: Long = finalState.map(_.count()).getOrElse(0L)

  def finish(catchUps: Seq[Double]): Unit = {
    val trig = median(triggerS.toSeq)
    val inputRows = spark.read.parquet(ctx.mwas("stream")).count()
    val catchup = median(catchUps)
    out.metrics("op_p50_s") = trig
    out.metrics("items_per_s") = inputRows / catchup
    out.report("trigger_p50_s") = trig
    out.report("catchup_s") = catchup
    out.report("triggers") = triggerS.length
    out.samples("trigger_s") = triggerS.toSeq
    out.traffic("stream_input_rows") = inputRows
    out.traffic("state_rows") = stateRows
    // the final streamed result must equal a batch --only-t-test run
    val want = reference(in, Set("--only-t-test"))
    val got = Compare.sorted(spark.read.parquet(lastResult).collect().toSeq)
    out.check(want.nonEmpty, "batch --only-t-test has no rows")
    val diffs = Compare.rows(want, got)
    out.check(diffs.isEmpty, s"stream result differs from batch: " +
      diffs.take(3).mkString("; "))
    out.traffic("contrasts") = got.length
  }
}

// -------------------------------------------------------- curation_batch --

/** One pass of pinned dedup/ANN/graph registry queries over the seeded
  * corpus through the noop sink. Each query's row count and an
  * order-independent digest ride along as an `Observation`. The queries
  * run in their own session, built with the engine's extensions. */
final class Curation(base: Ctx)
    extends Workload(base.copy(spark = Main.curationSession(base.spark))) {
  val name = "curation_batch"
  val queries = Seq("dedup_simhash", "dedup_components",
    "dedup_containment_prefix", "ann_lsh_bucket", "k_core",
    "stream_components")
  /** (query, rows, digest) per query run. */
  val seen = ArrayBuffer.empty[(String, Long, Long)]

  def prepare(): Unit = Seq("documents", "embeddings").foreach { t =>
    spark.read.parquet(s"${ctx.corpus}/$t.parquet").count()
  }

  def warmUp(): Unit = pass(ctx.untraced)

  def runQuery(q: String): Unit = {
    val df = SparkEntry.queries(q)(spark, ctx.corpus)
    val obs = Observation(q)
    df.observe(obs, count(lit(1)).as("n"),
      sum(shiftright(xxhash64(to_json(struct(df.columns.map(col): _*))),
        16)).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val digest = if (m("h") == null) 0L else m("h").asInstanceOf[Long]
    seen += ((q, m("n").asInstanceOf[Long], digest))
  }

  def pass(t: Tracer): Double = timed {
    queries.foreach(q => t.span(s"operators.$q", "operators", q)(runQuery(q)))
  }._2

  def unit(rep: Int): Double = pass(ctx.untraced)

  def finish(times: Seq[Double]): Unit = {
    val pass = median(times)
    val docs = spark.read.parquet(s"${ctx.corpus}/documents.parquet").count()
    out.metrics("op_p50_s") = pass
    out.metrics("items_per_s") = docs / pass
    out.report("pass_s") = pass
    checkDigests()
  }

  def checkDigests(): Unit = seen.groupBy(_._1).foreach { case (q, runs) =>
    val distinct = runs.map(r => (r._2, r._3)).distinct
    out.check(distinct.length == 1,
      s"$q: row count or digest differs across reps: $distinct")
    out.check(runs.head._2 > 0, s"$q returned no rows")
    out.traffic(s"$q.rows") = runs.head._2
  }
}
