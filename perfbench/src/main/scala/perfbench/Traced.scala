package perfbench

import org.apache.spark.sql.functions.col

import graft.mwas.{MwasConfig, MwasIntake, Pipeline}

import Stats.{median, timed}

/** The traced run. Every per-layer metric is measured in every traced
  * run, so each workload's section runs here, with spans around the calls
  * into each layer. The selected workload's section runs first, with its
  * warm-up and one untraced unit before the traced one: its traced unit
  * gives the engine counters, and the difference gives the tracing
  * overhead. The other sections run one traced unit after a single set-up
  * step, on the already warm JVM. */
object Traced {
  def run(ctx: Ctx, selected: String, t: Tracer): Unit = {
    val sections = Seq(
      "mwas_batch" -> ((w: Boolean) => batch(ctx, t, w)),
      "mwas_server" -> ((w: Boolean) => server(ctx, t, w)),
      "mwas_stream" -> ((w: Boolean) => stream(ctx, t, w)),
      "curation_batch" -> ((w: Boolean) => curation(ctx, t, w)))
    val ordered = sections.filter(_._1 == selected) ++
      sections.filterNot(_._1 == selected)
    ordered.foreach { case (name, section) =>
      val full = name == selected
      ctx.out.op(s"traced $name") {
        val (untraced, traced, root, perUnit) = section(full)
        ctx.out.report(s"$name.traced_unit_s") = traced
        if (full) {
          ctx.out.report(s"$name.untraced_unit_s") = untraced
          engine(ctx, root, perUnit, traced - untraced)
        }
      }
    }
  }

  /** Full set-up and one untraced unit, or a single set-up step. */
  private def start(w: Workload, full: Boolean)(unit: => Double): Double =
    if (full) { w.setUp(reps = 1); unit } else { w.prepare(); Double.NaN }

  private def m(ctx: Ctx) = ctx.out.metrics

  /** Span counters that are a largest value, not a sum. */
  private val maxima = Set("spark.max_task_s", "jvm.heap_after_gc_peak_mb")

  /** Engine counters of the selected workload's traced unit, per unit. */
  private def engine(ctx: Ctx, root: Span, perUnit: Int,
      overhead: Double): Unit = {
    root.counters.foreach { case (k, v) =>
      m(ctx)(k) = if (maxima(k)) v else v / perUnit }
    m(ctx)("spark.core_util") =
      root.counters("spark.task_busy_s") / (root.seconds * ctx.cores)
    m(ctx)("trace.overhead_s") = overhead
  }

  /** One untraced CLI run, then the CLI's calls with a span around each,
    * then probes (off the blocking path) that time the lazily built
    * layers alone. The traced copy counts the readout before it writes
    * it, where the CLI writes first and counts after: the first action
    * fills the persisted readout, so counting first times the readout
    * (exec) apart from the writes (sink). */
  def batch(ctx: Ctx, t: Tracer, full: Boolean)
      : (Double, Double, Span, Int) = {
    val b = new Batch(ctx)
    if (full) b.setUp(reps = 1) else b.prepare()
    val untraced = b.unit(0)
    ctx.out.report("mwas_batch.untraced_unit_s") = untraced
    val spark = ctx.spark
    val cfg = MwasIntake.flagsToConfig(Set.empty)
    val dir = ctx.dir("batch/traced")
    var state: org.apache.spark.sql.DataFrame = null
    val (cached, traced) = timed(t.span("mwas_batch.unit", "cli") {
      val in = t.span("sources.read_input", "sources") {
        graft.sources.CsvIo.readUserInput(spark, b.inputCsv) }
      val catalog = t.span("sources.read_catalog", "sources") {
        spark.read.parquet(b.catalogPath) }
      val sets = t.span("etl.to_sets", "etl") {
        MwasIntake.toSets(spark.read.parquet(b.metadataPath)) }
      state = t.span("mwas.state_build", "mwas") {
        Pipeline.biosampleState(in, catalog, cfg) }
      val built = t.span("mwas.readout_build", "mwas") {
        Pipeline.runFromBiosampleState(state, catalog, sets, cfg) }
      // persist() plans the readout eagerly, as it does inside the CLI
      val out = t.span("mwas.readout_plan", "mwas") {
        val p = built.persist()
        p.queryExecution.executedPlan
        p
      }
      val n = t.span("mwas.readout_exec", "mwas") { out.count() }
      t.span("mwas.sink", "mwas") {
        Pipeline.writePerBioproject(out, s"$dir/per_bioproject")
        Pipeline.writeCombined(out, s"$dir/combined")
      }
      val sig = t.span("mwas.summary", "mwas") {
        out.filter(col("status").contains("significant")).count() }
      m(ctx)("mwas.contrasts") = n
      ctx.out.check(b.results.head == ((n, sig)),
        s"traced mwas_batch copy found ${(n, sig)} (contrasts, " +
          s"significant), MwasCli.run ${b.results.head}")
      out
    })
    val shares = Workloads.routeShares(Workloads.statusCounts(cached))
    cached.unpersist(blocking = false)
    val root = t.last("mwas_batch.unit")
    Seq("readout_build", "readout_plan", "readout_exec", "sink").foreach(k =>
      m(ctx)(s"mwas.${k}_s") = t.last(s"mwas.$k").seconds)
    val (perm, early, exact) = shares
    m(ctx)("stats.perm_share") = perm
    m(ctx)("stats.early_stop_share") = early
    m(ctx)("stats.exact_share") = exact

    t.span("mwas_batch.probes", "probe") {
      val in = t.span("probe.sources_input", "sources") {
        graft.sources.CsvIo.readUserInput(spark, b.inputCsv).count() }
      m(ctx)("sources.input_s") = t.last("probe.sources_input").seconds
      m(ctx)("sources.input_rows") = in
      val nSets = t.span("probe.etl_condense", "etl") {
        MwasIntake.toSets(spark.read.parquet(b.metadataPath)).count() }
      m(ctx)("etl.condense_s") = t.last("probe.etl_condense").seconds
      m(ctx)("etl.sets_out") = nSets
      m(ctx)("mwas.state_s") =
        t.span("probe.mwas_state", "mwas") { timed(state.count())._2 }
      // kernel time: the same readout over a materialized state, with
      // and without the permutation kernel
      val catalog = spark.read.parquet(b.catalogPath)
      val sets = MwasIntake.toSets(spark.read.parquet(b.metadataPath))
        .localCheckpoint()
      val st = state.localCheckpoint()
      def readout(c: MwasConfig, name: String) = t.span(name, "stats") {
        timed(Pipeline.runFromBiosampleState(st, catalog, sets, c)
          .write.format("noop").mode("overwrite").save())._2
      }
      val full = readout(cfg, "probe.readout_kernel")
      val closed = readout(cfg.copy(statClosedForm = true),
        "probe.readout_closed_form")
      m(ctx)("stats.kernel_s") = full - closed
    }
    Workloads.deleteTree(dir)
    (untraced, traced, root, 1)
  }

  def server(ctx: Ctx, t: Tracer, full: Boolean)
      : (Double, Double, Span, Int) = {
    val s = new Server(ctx)
    val k = if (full) 4 else 2
    val untraced =
      start(s, full)(timed(s.loop(Long.MaxValue, k, ctx.untraced))._2 / k)
    val traced = timed(t.span("mwas_server.unit", "cli") {
      s.loop(Long.MaxValue, k, t) })._2 / k
    val root = t.last("mwas_server.unit")
    m(ctx)("mwas.jobs_per_request") = root.counters("spark.jobs") / k
    s.close()
    (untraced, traced, root, k)
  }

  def stream(ctx: Ctx, t: Tracer, full: Boolean)
      : (Double, Double, Span, Int) = {
    val st = new Stream(ctx)
    val untraced = start(st, full)(st.catchUp("untraced", ctx.untraced))
    val p0 = t.triggers.size
    val s0 = t.spans.length
    val traced = timed(t.span("mwas_stream.unit", "cli") {
      st.catchUp("traced", t) })._2
    val root = t.last("mwas_stream.unit")
    val spans = t.spans.drop(s0)
    def med(name: String) =
      median(spans.filter(_.name == name).map(_.seconds))
    val triggers = spans.filter(_.name == "stream.trigger")
    m(ctx)("streaming.merge_s") = med("streaming.merge")
    m(ctx)("streaming.readout_s") = med("streaming.readout")
    m(ctx)("streaming.jobs_per_trigger") =
      triggers.map(_.counters("spark.jobs")).sum / triggers.length
    val progress = t.triggers.since(p0)
    m(ctx)("streaming.add_batch_ms") =
      median(progress.map(_.getOrElse("addBatch", 0L).toDouble))
    m(ctx)("streaming.overhead_ms") = median(progress.map(p =>
      (p.getOrElse("triggerExecution", 0L) - p.getOrElse("addBatch", 0L))
        .toDouble))
    m(ctx)("streaming.state_rows") = st.stateRows
    st.close()
    (untraced, traced, root, 1)
  }

  def curation(ctx: Ctx, t: Tracer, full: Boolean)
      : (Double, Double, Span, Int) = {
    val c = new Curation(ctx)
    val untraced = start(c, full)(c.pass(ctx.untraced))
    val traced = timed(t.span("curation_batch.unit", "cli") {
      c.pass(t) })._2
    val root = t.last("curation_batch.unit")
    c.queries.foreach { q =>
      val s = t.last(s"operators.$q")
      m(ctx)(s"operators.${q}_s") = s.seconds
      m(ctx)(s"operators.${q}_jobs") = s.counters("spark.jobs")
      m(ctx)(s"operators.${q}_spill_mb") = s.counters("spark.spill_mb")
    }
    c.checkDigests()
    (untraced, traced, root, 1)
  }
}
