package graft.mwas

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.StatFunctions.{log2FoldChange, rpm}
import graft.functions.WelchTTest.welch_t
import graft.stats.PermutationTest

/** Permutation-kernel output row (top-level: generated projections need
  * public accessor access). */
case class PermOut(stat: Double, p: Double, method: String)

/** Readout dimensions derived purely from (catalog, sets) — see
  * [[Pipeline.dims]]. */
case class PipelineDims(bpUniverse: DataFrame, member: DataFrame)

/** Pipeline configuration (reference globals, main/mwas_general.py:70-94). */
case class MwasConfig(
    groupNonzerosThreshold: Int = 3, // GROUP_NONZEROS_ACCEPTANCE_THRESHOLD :82
    pValueThreshold: Double = 0.005, // P_VALUE_THRESHOLD :85
    onlyTTest: Boolean = false, // ONLY_T_TEST :86
    alreadyNormalized: Boolean = false, // ALREADY_NORMALIZED :84
    permutationSideCutoff: Int = 4, // min-side size routing :407
    biosampleListCap: Int = 1000, // truncated listing :428-430
    permResamples: Int = 10000, // n_resamples :416
    permMaxPooled: Int = 20000, // guard: fall back to Welch beyond this
    // hard cap on OBSERVED NONZERO values collected per (bioproject, group)
    // for the permutation kernel; larger groups route to Welch (closed form,
    // still exact) instead of buffering an unbounded vector — the analog of
    // the reference skipping >50 MB projects (main/mwas_general.py:72),
    // except nothing is dropped here. 100k doubles ≈ 800 KB per buffer.
    permCollectCap: Int = 100000,
    // statistic-only mode for consumers that never read the permutation
    // p-value (the stats slice, the results summary): the permutation
    // route's TEST STATISTIC is the closed-form mean difference — only its
    // p-value needs resampling — so value collection and the kernel are
    // skipped wholesale and the plan stays pure relational algebra.
    // p_value is null (and status says so) on permutation-routed rows.
    statClosedForm: Boolean = false)

/** The MWAS query engine: the reference's run_on_file + process_bioproject +
  * process_group call tree (main/mwas_general.py:344-679) collapsed into ONE
  * lazily-planned DataFrame pipeline — SURVEY.md §3.1.
  *
  * Scale design (SURVEY §7.4.4): the reference materializes a dense
  * biosample×group rpm matrix per bioproject (main/mwas_general.py:477).
  * Here the zero-fill stays VIRTUAL — per (bioproject, group) we keep only
  * observed rows plus group-level totals (sum, sum of squares); each side of
  * a contrast gets its statistics algebraically:
  *
  *     n_side     = |side| (from set cardinalities, not from rows)
  *     sum_side   = sum over observed members (implicit zeros add nothing)
  *     mean_side  = sum_side / n_side
  *     var_pop    = sumsq_side / n_side - mean_side²
  *
  * so the contrast stage shuffles O(observed nonzeros + |sets|), never
  * O(biosamples × groups × sets) — the rewrite that makes 100 TB feasible.
  *
  * Faithful-mode quirk kept on purpose: the reference feeds POPULATION sd
  * (np.nanstd, ddof=0; main/mwas_general.py:384-385) into scipy's
  * `ttest_ind_from_stats`, which expects sample sd. We reproduce exactly
  * that (SURVEY §7.4.3).
  */
object Pipeline {

  /** @param input   (run STRING, group STRING, quantifier DOUBLE) — the
    *                user CSV (main/mwas_general.py:744-759)
    * @param catalog (bio_project, bio_sample, run, spots) — the srarun
    *                catalog slice (main/mwas_general.py:37-54)
    * @param sets    MetadataCondenser.condense output
    * @return the reference's 18-column output relation
    *         (main/mwas_general.py:92-94); runtime/memory instrumentation
    *         columns are 0 (Spark-side metrics live in the event log, not
    *         in data rows)
    */
  def run(input: DataFrame, catalog: DataFrame, sets: DataFrame,
      cfg: MwasConfig = MwasConfig()): DataFrame =
    runFromBiosampleState(biosampleState(input, catalog, cfg),
      catalog, sets, cfg)

  /** Stages 1–2a: normalize + reduce to the per-(bioproject, group,
    * biosample) SUFFICIENT STATISTICS (Σ rpm over runs, run count).
    * This relation is the pipeline's mergeable state: two disjoint input
    * slices' states merge by adding the sums and counts
    * ([[mergeBiosampleState]]), which is what lets an incremental
    * consumer (stream_mwas) maintain it across micro-batches and pay
    * only the READOUT per increment instead of a full recompute.
    * Everything downstream of this grain is derived per readout. */
  def biosampleState(input: DataFrame, catalog: DataFrame,
      cfg: MwasConfig = MwasConfig()): DataFrame = {
    // ---- stage 1: normalize (J1 outer join + implicit-zero fill, F1 rpm) --
    // outer join: catalog runs absent from input become quantifier=0 rows
    // with null group (they densify the biosample universe); input runs
    // absent from the catalog are dropped (no bioproject to attribute to).
    val joined = catalog
      .join(input, Seq("run"), "left_outer")
      .na.fill(Map("quantifier" -> 0.0))
    val normalized = joined.withColumn("rpm",
      if (cfg.alreadyNormalized) col("quantifier")
      else rpm(col("quantifier"), col("spots")))
    // run-count and rpm-sum in ONE aggregation pass: the biosample mean
    // is rpm_sum / n_runs (identical accumulation to the former
    // avg(rpm) — Spark's Average is the same sum+count pair), and
    // n_provided is Σ n_runs (the reference counts PROVIDED run-level
    // rows — `group_subset['quantifier'].count()` after the outer-merge
    // fillna — NOT nonzero biosample means; r9 review finding).
    normalized
      .filter(col("group").isNotNull)
      .groupBy(col("bio_project"), col("group"), col("bio_sample"))
      .agg(sum(col("rpm")).as("rpm_sum"), count(lit(1)).as("n_runs"))
  }

  /** Merge two biosample-state slices built from DISJOINT input rows:
    * sums add, counts add. (bio_project, group, bio_sample) grain. */
  def mergeBiosampleState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("bio_project"), col("group"), col("bio_sample"))
      .agg(sum(col("rpm_sum")).as("rpm_sum"),
        sum(col("n_runs")).as("n_runs"))

  /** The readout's slowly-changing dimensions — pure functions of
    * (catalog, sets). An incremental consumer builds them ONCE per
    * stream (and persists them) instead of re-deriving the catalog
    * collect_set and the membership explode every trigger. */
  def dims(catalog: DataFrame, sets: DataFrame): PipelineDims =
    PipelineDims(
      // biosample universe per bioproject (implicit zeros + listings)
      bpUniverse = catalog
        .groupBy(col("bio_project"))
        .agg(sort_array(collect_set(col("bio_sample"))).as("all_biosamples"))
        .withColumn("n_biosamples_cat", size(col("all_biosamples"))),
      // join-ready stored-side membership
      member = sets.select(col("bioproject").as("bio_project"),
        col("set_id"), explode(col("members")).as("bio_sample")))

  /** One incremental trigger step — shared by the registry's
    * `stream_mwas` and the benchmark's stream workload. Merges the
    * batch's biosample-grain delta into `state`, then produces the new
    * full result by a full-recompute readout over the merged state.
    *
    * A delta-driven readout (restrict to the changed bioprojects, carry
    * the others' prior rows) was measured and dropped: at every locally
    * reachable scale the readout is ~95% plan/stage fixed cost, so its
    * extra per-trigger jobs cost more than the restriction saves
    * (10-trigger stream at 10×: 59.7 s vs 42.3 s full); it paid only once
    * state reached 5.5M rows (NOTES_r14, NOTES_r15). Reference analogue:
    * the block loop re-running every bioproject per chunk
    * (main/mwas_general.py:601-614).
    *
    * The new state is an eager localCheckpoint: it is long-lived across
    * triggers, so the lineage must be cut (the BPE/PCA per-round
    * precedent). The results frame is returned lazy — nothing carries it
    * to the next trigger.
    *
    * @param nUniverse  unused by the full-recompute readout; kept so
    *                   existing callers compile unchanged
    * @param results    unused likewise (the previous trigger's results)
    * @return (new state, new full results) */
  def incrementalTrigger(batch: DataFrame, catalog: DataFrame,
      sets: DataFrame, cfg: MwasConfig, pdims: PipelineDims,
      nUniverse: Long, state: Option[DataFrame],
      results: Option[DataFrame]): (DataFrame, DataFrame) = {
    val delta = biosampleState(batch, catalog, cfg)
    val merged = state match {
      case None => delta
      case Some(prev) => mergeBiosampleState(prev, delta)
    }
    val next = merged.localCheckpoint()
    (next, runFromBiosampleState(next, catalog, sets, cfg, Some(pdims)))
  }

  /** Stages 2b–5: the readout from the mergeable biosample state down to
    * the reference's 18-column output relation. `precomputed` lets an
    * incremental caller reuse persisted [[dims]] across triggers. */
  def runFromBiosampleState(state: DataFrame, catalog: DataFrame,
      sets: DataFrame, cfg: MwasConfig = MwasConfig(),
      precomputed: Option[PipelineDims] = None): DataFrame = {
    val PipelineDims(bpUniverse, member) =
      precomputed.getOrElse(dims(catalog, sets))

    // ---- stage 2: per-biosample mean over replicate runs (A5 :505-518) ----
    // NOT persisted: the four consumers below (group totals, permutation
    // values, stored-side totals, stored-side values) all contain this
    // aggregation's exchange with an identical canonical plan, so Spark's
    // ReuseExchange writes the shuffle once and reads it four times —
    // shuffle-file reuse costs no executor storage memory and cannot leak
    // (a persist() here outlived the query: nothing in a lazy plan can
    // know when the caller's action finishes, so it was never unpersisted).
    // n_runs rides along: every bsRpm consumer then references BOTH of
    // the state aggregate's accumulators (rpm needs sum AND count), so
    // column pruning cannot specialize any consumer's copy of the
    // subtree and ReuseExchange keeps exactly one materialized shuffle —
    // a separately-aggregated provided-count pruned rpm_sum out of its
    // branch and re-derived the catalog⋈input join (caught by
    // PipelineSpec's planned-ONCE gate after the r13 state refactor).
    val bsRpm = state.select(col("bio_project"), col("group"),
      col("bio_sample"), (col("rpm_sum") / col("n_runs")).as("rpm"),
      col("n_runs"))

    // Totals ONLY — sums/counts are map-side combinable and bounded no
    // matter how pathological one bioproject is; no collect_list here.
    // group acceptance (A4 :485-491) at run grain folded into the SAME
    // aggregation: Σ n_runs over the group's biosamples == the provided
    // row count of the old run-grain aggregation, exactly (integer
    // sums) — one aggregation and no join where there used to be both.
    val groupStats = bsRpm
      .groupBy(col("bio_project"), col("group"))
      .agg(
        sum(when(col("rpm") =!= 0, 1).otherwise(0)).as("nonzeros"),
        sum(col("rpm")).as("sum_all"),
        sum(col("rpm") * col("rpm")).as("sumsq_all"),
        count(lit(1)).as("n_observed"),
        sum(col("n_runs")).as("n_provided"))
      .filter(col("n_provided") >= cfg.groupNonzerosThreshold)
      .withColumn("perm_capped", col("nonzeros") > cfg.permCollectCap)

    // Raw values are needed ONLY by the permutation kernel, only for groups
    // under the cap, and only the NONZERO ones: the kernel pads each side
    // with implicit zeros up to its true cardinality, so an observed zero is
    // indistinguishable from padding — dropping observed zeros leaves the
    // padded multisets identical. The collect_list buffer is therefore
    // <= permCollectCap elements BY CONSTRUCTION (the semi join admits only
    // groups whose nonzero count was counted above and passed the cap).
    val needVals = !cfg.onlyTTest && !cfg.statClosedForm
    // skip value collection for bioprojects whose pooled universe exceeds
    // permMaxPooled: every contrast there satisfies num_true + num_false
    // = n_biosamples_cat > permMaxPooled and routes to Welch, so the
    // collect_list would be paid and never read (r9 review) — at scale
    // the oversized bioprojects are exactly the expensive ones
    val permKeys = groupStats
      .filter(!col("perm_capped"))
      .join(bpUniverse
          .filter(col("n_biosamples_cat") <= cfg.permMaxPooled)
          .select(col("bio_project")),
        Seq("bio_project"), "left_semi")
      .select(col("bio_project"), col("group"))
    // ONE relation feeds both value collections (group-level all_vals and
    // stored-side stored_vals): building it twice made the plan re-derive
    // the semi join per consumer. Arrays are sorted HERE, once per group at
    // aggregation time — collect_list order is partition-dependent, and the
    // memo key below needs canonical order; sorting per contrast row would
    // redo the O(n log n) work once per (group × set) instead of per group.
    val permVals = bsRpm.filter(col("rpm") =!= 0)
      .join(permKeys, Seq("bio_project", "group"), "left_semi")
    val emptyVals = array().cast("array<double>")
    val accepted =
      if (!needVals) groupStats.withColumn("all_vals", emptyVals)
      else groupStats
        .join(permVals
          .groupBy(col("bio_project"), col("group"))
          .agg(sort_array(collect_list(col("rpm"))).as("all_vals")),
          Seq("bio_project", "group"), "left_outer")
        .withColumn("all_vals", coalesce(col("all_vals"), emptyVals))

    // ---- stage 3: contrast statistics, zeros kept virtual ----------------
    // observed rows joined to STORED-side membership only ([[dims]].member);
    // the other side's stats fall out of the group totals by subtraction.
    // stored-side TOTALS feed every route (Welch included) — no raw values
    // here either; the values go through the same capped nonzero-only path
    // as all_vals, so this buffer has the same <= permCollectCap bound.
    val storedTotals = bsRpm
      .join(member, Seq("bio_project", "bio_sample"))
      .groupBy(col("bio_project"), col("group"), col("set_id"))
      .agg(
        sum(col("rpm")).as("sum_stored"),
        sum(col("rpm") * col("rpm")).as("sumsq_stored"))
    val storedStats =
      if (!needVals)
        storedTotals.withColumn("stored_vals", emptyVals)
      else storedTotals
        .join(permVals
          .join(member, Seq("bio_project", "bio_sample"))
          .groupBy(col("bio_project"), col("group"), col("set_id"))
          .agg(sort_array(collect_list(col("rpm"))).as("stored_vals")),
          Seq("bio_project", "group", "set_id"), "left_outer")

    val contrasts = sets.select(
        col("bioproject").as("bio_project"), col("set_id"),
        col("attributes"), col("values"), col("members"),
        col("n_stored"), col("include"))
      .join(accepted, Seq("bio_project"))
      .join(bpUniverse, Seq("bio_project"))
      .join(storedStats, Seq("bio_project", "group", "set_id"), "left_outer")
      .na.fill(Map("sum_stored" -> 0.0, "sumsq_stored" -> 0.0))
      .withColumn("stored_vals",
        coalesce(col("stored_vals"), array().cast("array<double>")))

    // side assignment by polarity (reference :363-372): stored side is the
    // true side iff include
    val nTrue = when(col("include"), col("n_stored"))
      .otherwise(col("n_biosamples_cat") - col("n_stored"))
    val nFalse = col("n_biosamples_cat") - nTrue
    val sumTrue = when(col("include"), col("sum_stored"))
      .otherwise(col("sum_all") - col("sum_stored"))
    val sumFalse = col("sum_all") - sumTrue
    val sumsqTrue = when(col("include"), col("sumsq_stored"))
      .otherwise(col("sumsq_all") - col("sumsq_stored"))
    val sumsqFalse = col("sumsq_all") - sumsqTrue

    val withStats = contrasts
      .withColumn("num_true", nTrue.cast("long"))
      .withColumn("num_false", nFalse.cast("long"))
      // guards (:376) — with implicit zeros both sides are full-size
      .filter(col("num_true") >= 2 && col("num_false") >= 2)
      .withColumn("mean_rpm_true", sumTrue / col("num_true"))
      .withColumn("mean_rpm_false", sumFalse / col("num_false"))
      // population sd (np.nanstd ddof=0, :384-385), clamped for FP noise
      .withColumn("sd_rpm_true",
        sqrt(greatest(sumsqTrue / col("num_true") -
          col("mean_rpm_true") * col("mean_rpm_true"), lit(0.0))))
      .withColumn("sd_rpm_false",
        sqrt(greatest(sumsqFalse / col("num_false") -
          col("mean_rpm_false") * col("mean_rpm_false"), lit(0.0))))
      // both-zero-means skip (:388)
      .filter(!(col("mean_rpm_true") === 0 && col("mean_rpm_false") === 0))

    // ---- stage 4: test routing (O14 :404-419) + significance (:424-434) --
    // Welch when a side is tiny (or forced), else the permutation test —
    // run through the value-level memoization the reference keeps as a
    // driver-side dict (O10 :351,396-399): `distinct` the test inputs,
    // evaluate each distinct input ONCE, join results back. Deterministic
    // and parallel-safe where the reference's dict was neither.
    val isTTest = lit(cfg.onlyTTest) ||
      least(col("num_true"), col("num_false")) < lit(cfg.permutationSideCutoff) ||
      (col("num_true") + col("num_false")) > cfg.permMaxPooled ||
      col("perm_capped") // values were never collected for capped groups
    val routed = withStats
      .withColumn("w", welch_t(
        col("mean_rpm_true"), col("sd_rpm_true"), col("num_true").cast("double"),
        col("mean_rpm_false"), col("sd_rpm_false"), col("num_false").cast("double")))
      .withColumn("is_t_test", isTTest)

    val withTest =
      if (cfg.statClosedForm)
        // the permutation route's statistic is the mean difference — the
        // algebraic group/stored totals already carry it; only the p-value
        // would need the resampling kernel, and this mode's consumers
        // never read it
        routed
          .withColumn("test_statistic",
            when(col("is_t_test"), col("w.t"))
              .otherwise(col("mean_rpm_true") - col("mean_rpm_false")))
          .withColumn("p_value",
            when(col("is_t_test"), col("w.p")))
          .withColumn("status_base",
            when(col("is_t_test"), lit("t_test"))
              .otherwise(lit("permutation_test (stat_only)")))
      else {
        // the permutation p is a pure function of (stored multiset, group
        // multiset, polarity, side sizes) — hash of the sorted arrays is
        // the memo key. xxhash64 hashes ARRAY columns natively (recursive
        // element hash, codegen'd); the arrays were already sorted at
        // aggregation time, so this is a straight pass over the doubles —
        // no JSON string ever built.
        val keyed = routed.withColumn("memo_key",
          when(col("is_t_test"), lit(null).cast("long")).otherwise(
            xxhash64(col("stored_vals"), col("all_vals"), col("include"),
              col("num_true"), col("num_false"))))
        // the hash leads the join key for cheap shuffle/equality, but the
        // REAL inputs ride along: a 64-bit collision is even odds around
        // 4e9 distinct tests (birthday bound) — at the 100 TB target that
        // is not ignorable, and a collision would silently hand one
        // contrast another's p (r9 review)
        val memoCols = Seq("memo_key", "stored_vals", "all_vals",
          "include", "num_true", "num_false")
        // early-stop bound: 20× the significance threshold — tests that are
        // decisively insignificant settle at the 1000-resample checkpoint;
        // anything near or under the threshold runs the full budget
        val permUdf = Pipeline.permPaddedUdf(cfg.permResamples,
          earlyStopAbove = 20.0 * cfg.pValueThreshold)
        // WIDTH PIN (r16 audit): the explicit repartition between the
        // memo dedup and the kernel projection is load-bearing. Without
        // it, AQE coalesces the dedup's post-shuffle partitions by
        // BYTES — and memo rows are tiny, so the CPU-heavy resampling
        // kernel (the one place bytes wildly understate cost) collapsed
        // to a 15.9 s single-task straggler at the 10× fixture while
        // the 30× point, with more bytes and therefore more coalesced
        // partitions, ran FASTER (the r15 audit's inverted-curvature
        // row). A user repartition is never coalesced, the shuffled
        // relation is the distinct memo tuples (small by construction),
        // and hash-on-key spreads the early-stop cost variance across
        // the full width. Measured 26.1 → 9.5 s at 10×; monotone
        // 1×/10×/30× walls after the pin (NOTES_r16).
        val permResults = keyed.filter(!col("is_t_test"))
          .select(memoCols.map(col): _*)
          .dropDuplicates(memoCols)
          .repartition(
            keyed.sparkSession.sparkContext.defaultParallelism)
          .select(col("memo_key") +: memoCols.drop(1).map(col) :+
            permUdf(col("stored_vals"), col("all_vals"), col("include"),
              col("num_true"), col("num_false")).as("perm"): _*)
        // plain equi-join back on the full memo tuple (AQE broadcasts
        // when small; at scale the distinct-inputs relation can be large,
        // so don't force it)
        keyed
          .join(permResults, memoCols, "left_outer")
          .withColumn("test_statistic",
            when(col("is_t_test"), col("w.t")).otherwise(col("perm.stat")))
          .withColumn("p_value",
            when(col("is_t_test"), col("w.p")).otherwise(col("perm.p")))
          .withColumn("status_base",
            when(col("is_t_test"), lit("t_test"))
              .otherwise(concat(lit("permutation_test ("),
                col("perm.method"), lit(")"))))
      }

    val tested = withTest
      .withColumn("fold_change",
        log2FoldChange(col("mean_rpm_true"), col("mean_rpm_false")))

    // coalesce to false: a null p (stat-only permutation mode) must read
    // as NOT significant — the reference's `p < threshold` is False for
    // its nan/empty cases, giving no suffix and EMPTY listings
    // (mwas_general.py:426-434); Kleene null would skip the
    // `when(!significant, "")` arm below and leak populated listings
    val significant =
      coalesce(col("p_value") < cfg.pValueThreshold, lit(false))
    val trueMembers = when(col("include"), col("members"))
      .otherwise(array_except(col("all_biosamples"), col("members")))
    val falseMembers = when(col("include"),
      array_except(col("all_biosamples"), col("members")))
      .otherwise(col("members"))
    val tooMany = lit("too many biosamples to list")

    tested.select(
      col("bio_project").as("bioproject"),
      col("group"),
      // CSV-sanitized labels (F6 :441)
      regexp_replace(col("attributes"), ",", " ").as("metadata_field"),
      regexp_replace(col("values"), ",", " ").as("metadata_value"),
      when(significant, concat(col("status_base"), lit("; significant")))
        .otherwise(col("status_base")).as("status"),
      lit(0.0).as("runtime_seconds"),
      lit(0L).as("memory_usage_bytes"),
      col("num_true"), col("num_false"),
      col("mean_rpm_true"), col("mean_rpm_false"),
      col("sd_rpm_true"), col("sd_rpm_false"),
      col("fold_change"), col("test_statistic"), col("p_value"),
      when(!significant, lit(""))
        .when(col("num_true") < cfg.biosampleListCap,
          array_join(trueMembers, "; "))
        .otherwise(tooMany).as("true_biosamples"),
      when(!significant, lit(""))
        .when(col("num_false") < cfg.biosampleListCap,
          array_join(falseMembers, "; "))
        .otherwise(tooMany).as("false_biosamples"))
  }

  /** S7/S8 output sinks (reference main/mwas_general.py:631-679): the
    * per-bioproject CSV tree comes from partitionBy (replacing the string
    * accumulation + per-file writes), the combined file from a single
    * coalesced write — no manual append loop. */
  def writePerBioproject(output: DataFrame, dir: String): Unit =
    output.write.mode("overwrite").partitionBy("bioproject")
      .option("header", "true").csv(dir)

  def writeCombined(output: DataFrame, dir: String): Unit =
    output.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(dir)

  /** Permutation test over virtually-zero-padded sides.
    *
    * Inputs are the OBSERVED values only; each side is padded with implicit
    * zeros up to its true cardinality (nTrue/nFalse from set membership),
    * reproducing the reference's dense per-bioproject vectors
    * (main/mwas_general.py:477) without ever materializing them in the
    * plan. The non-stored side's observations are recovered by multiset
    * subtraction (array_except can't: it has set semantics and drops
    * duplicate rpm values). */
  private[mwas] def permPaddedUdf(resamples: Int,
      earlyStopAbove: Double = Double.PositiveInfinity) =
    udf((stored: Seq[Double], all: Seq[Double], include: Boolean,
        nTrue: Long, nFalse: Long) => {
      val cnt = scala.collection.mutable.HashMap.empty[Double, Int]
      stored.foreach(v => cnt.update(v, cnt.getOrElse(v, 0) + 1))
      val other = scala.collection.mutable.ArrayBuffer.empty[Double]
      all.foreach { v =>
        val c = cnt.getOrElse(v, 0)
        if (c > 0) cnt.update(v, c - 1) else other += v
      }
      val trueObs = if (include) stored else other.toSeq
      val falseObs = if (include) other.toSeq else stored
      val x = trueObs.toArray[Double] ++
        new Array[Double]((nTrue - trueObs.length).max(0).toInt)
      val y = falseObs.toArray[Double] ++
        new Array[Double]((nFalse - falseObs.length).max(0).toInt)
      val r = PermutationTest.test(x, y, resamples, exactCutoff = 20000,
        earlyStopAbove)
      PermOut(r.statistic, r.p_value, r.method)
    }).asNondeterministic() // deterministic in fact; flag stops Catalyst
      // from duplicating the (expensive) call during plan rewrites
}
