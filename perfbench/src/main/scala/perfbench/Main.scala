package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.util.Locale

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything one run reports: operations attempted and failed (a failed
  * output check is a failed operation), the contract metrics, the
  * per-workload report metrics, the traffic shape and the spans. */
final class Outcome {
  var attempted = 0L
  val failures = ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.LinkedHashMap.empty[String, Double]
  val traffic = mutable.LinkedHashMap.empty[String, Double]
  val files = mutable.LinkedHashMap.empty[String, String]
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]

  /** One operation: counted as attempted, and as failed if it throws. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failures += s"$what: $e"
        None
    }
  }

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }
}

/** One run's inputs and knobs. */
final case class Ctx(spark: SparkSession, fixture: String, work: String,
    seconds: Double, sessionS: Double, out: Outcome) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Runs span bodies without recording: for every untraced unit. */
  val untraced = new Tracer(spark, on = false)
  def mwas(name: String): String = s"$fixture/mwas/$name"
  def corpus: String = s"$fixture/corpus"
  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getPath
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Seconds taken by `f`, with its result. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = f
    (r, (System.nanoTime - t0) / 1e9)
  }
}

/** Entry point:
  * `perfbench.Main --workload W --fixture DIR --work DIR --seconds S
  *  --trace 0|1 --result FILE`.
  * Writes the run's outcome as JSON to FILE; run.py turns it into the
  * printed result. */
object Main {
  val workloads = Seq("mwas_batch", "mwas_server", "mwas_stream",
    "curation_batch")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    Locale.setDefault(Locale.ROOT)
    // two cores, not nproc: on a shared 4-core host the run-to-run spread
    // of local[4] timings was about twice that of local[2]
    val cores = 2
    val work = a("work")
    val (spark, sessionS) = Stats.timed {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation",
          "true")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val out = new Outcome
    val ctx = Ctx(spark, a("fixture"), work, a("seconds").toDouble,
      sessionS, out)
    val tracer = new Tracer(spark, a("trace") == "1")
    try {
      if (tracer.on) Traced.run(ctx, workload, tracer)
      else Workloads.make(ctx, workload).untracedRun()
    } catch {
      case NonFatal(e) =>
        out.attempted += 1
        out.failures += s"$workload: $e"
        e.printStackTrace()
    }
    if (!tracer.on) {
      out.metrics("retained_heap_mb") = Heap.retainedMb
      out.report("retained_heap_mb") = Heap.retainedMb
    }
    writeResult(a("result"), out, tracer.spans)
    spark.stop()
  }

  /** A second session on the same SparkContext with the engine's
    * extensions, which the registry queries need, as in graft.Bench. The
    * MWAS entry points build a plain session, so the MWAS workloads run
    * in one; the main session stays the active and default one. */
  def curationSession(spark: SparkSession): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.extensions.GraftExtensions())
      .create()
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    s
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def str(s: String): String = graft.core.JsonUtil.escape(s)

  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  def writeResult(path: String, out: Outcome, spans: Seq[Span]): Unit = {
    val spanJson = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},""" +
        s""""layer":${str(s.layer)},"req":${str(s.req)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""counters":${obj(s.counters)}}"""
    }
    val json =
      s"""{"attempted":${out.attempted},"failed":${out.failures.length},""" +
        s""""failures":${out.failures.map(str).mkString("[", ",", "]")},""" +
        s""""metrics":${obj(out.metrics)},"report":${obj(out.report)},""" +
        s""""traffic":${obj(out.traffic)},""" +
        s""""samples":${out.samples.map { case (k, v) =>
          s"${str(k)}:${v.map(num).mkString("[", ",", "]")}" }
          .mkString("{", ",", "}")},""" +
        s""""files":${out.files.map { case (k, v) =>
          s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")},""" +
        s""""spans":${spanJson.mkString("[", ",", "]")}}"""
    val w = new PrintWriter(new File(path), StandardCharsets.UTF_8)
    try w.println(json) finally w.close()
  }
}
