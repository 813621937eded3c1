package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics over an event log: sequential funnels and
  * cohort retention.
  *
  * Both operators hinge on the same scale property: every window is
  * partitioned by the user key and all steps CHAIN over that one
  * partitioning, so Catalyst plans a single hash exchange on user_id
  * and evaluates the step columns back-to-back in one Window stage —
  * an N-step funnel costs one shuffle, not N. (A join-per-step funnel,
  * the naive formulation, shuffles N times and resorts each round.)
  */
object EventsAnalytics {

  private def df2StepCols(df: DataFrame, n: Int): Seq[String] =
    (1 to n).map(i => s"step_$i").filter(df.columns.contains)

  /** Strictly-ordered funnel: step i matches the earliest event of
    * `steps(i)` that happens strictly AFTER the user's step i-1 time.
    * Adds one nullable timestamp column per step (`step_1` … in input
    * order); a null means the user fell out of the funnel there.
    */
  def funnelTimes(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty)
    // withColumn REPLACES an existing column silently — a pre-existing
    // step_N in the input would vanish under the window min (same
    // hazard class as saltedAggregate's _salt / weightedSample's
    // sample_key, guarded the same way)
    val clash = df2StepCols(events, steps.size)
    require(clash.isEmpty,
      s"funnelTimes: input already has ${clash.mkString(", ")} — rename")
    val w = Window.partitionBy(userCol)
    steps.zipWithIndex.foldLeft(events) { case (df, (step, i)) =>
      val hit = if (i == 0) col(typeCol) === step
        else col(typeCol) === step && col(tsCol) > col(s"step_$i")
      df.withColumn(s"step_${i + 1}", min(when(hit, col(tsCol))).over(w))
    }
  }

  /** Funnel conversion counts: one row, `n_step_i` = users whose
    * funnel reached step i (distinct users with a non-null step time).
    */
  def funnelCounts(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    val timed = funnelTimes(events, userCol, tsCol, typeCol, steps)
    timed.agg(
      countDistinct(when(col("step_1").isNotNull, col(userCol)))
        .as("n_step_1"),
      steps.indices.drop(1).map(i =>
        countDistinct(when(col(s"step_${i + 1}").isNotNull, col(userCol)))
          .as(s"n_step_${i + 1}")): _*)
  }

  /** Daily resample with zero gap fill: one row per user per calendar
    * day between that user's first and last activity, `total_value` =
    * the day's decimal-exact value sum (0.0 on gap days). The day
    * domain comes from `sequence(min_day, max_day)` exploded per user
    * — row fanout is the user's active span in days, never a global
    * calendar cross join — and the domain↔daily join keys on
    * (user, day), riding the same partitioning as the daily rollup.
    */
  /** Shared resample core: the exploded per-user day domain LEFT
    * JOINed to the daily decimal sums — `_rd_sum` stays NULL on gap
    * days, so each fill variant is a pure projection over this one
    * plan (no second events scan, no re-join to recover
    * observedness).
    */
  private def resampleCore(events: DataFrame, userCol: String,
      tsCol: String, valueCol: String): DataFrame = {
    val daily = events
      .select(col(userCol).as("_rd_u"), to_date(col(tsCol)).as("_rd_day"),
        col(valueCol).cast("decimal(18,2)").as("_rd_v"))
      .groupBy("_rd_u", "_rd_day")
      .agg(sum("_rd_v").as("_rd_sum"))
    val domain = daily.groupBy("_rd_u")
      .agg(min("_rd_day").as("_rd_lo"), max("_rd_day").as("_rd_hi"))
      .select(col("_rd_u").as(userCol),
        explode(sequence(col("_rd_lo"), col("_rd_hi"))).as("_rd_dom_day"))
    domain
      .join(daily, col(userCol) === col("_rd_u") &&
        col("_rd_dom_day") === col("_rd_day"), "left")
      .select(col(userCol),
        date_format(col("_rd_dom_day"), "yyyy-MM-dd").as("day"),
        col("_rd_sum"),
        // observedness is NOT derivable from _rd_sum alone: a day
        // whose events all carry NULL values sums to NULL yet IS
        // observed (it must zero, not forward-fill)
        col("_rd_day").isNotNull.as("_rd_obs"))
  }

  def resampleDaily(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String): DataFrame =
    resampleCore(events, userCol, tsCol, valueCol)
      .select(col(userCol), col("day"),
        coalesce(col("_rd_sum"), lit(0).cast("decimal(18,2)"))
          .cast("double").as("total_value"))

  /** Daily resample with FORWARD fill: gap days carry the last
    * observed day's value instead of zero (the feature-pipeline
    * "state as of day d" shape). Observed days contribute their sum
    * (NULL-valued events count as 0.0 — same as the zero-fill
    * variant); only truly event-free days carry forward. One window
    * on the same user partitioning.
    */
  def resampleDailyFfill(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    resampleCore(events, userCol, tsCol, valueCol)
      .select(col(userCol), col("day"),
        last(
          when(col("_rd_obs"),
            coalesce(col("_rd_sum"), lit(0).cast("decimal(18,2)"))),
          ignoreNulls = true).over(w)
          .cast("double").as("total_value"))
  }

  /** Rolling active users: for every calendar day in the observed
    * span, the distinct users active that day (`dau`) and within the
    * trailing `windowDays` days ending that day (`rolling_users` —
    * WAU at 7, MAU at 30). Days with no activity appear with 0s.
    *
    * Scale shape: ONE distinct collapses the raw event volume to at
    * most |users|·|days| (user, day) rows; the trailing window is
    * then a fixed ×windowDays forward explode (each active day
    * contributes to exactly the windowDays target days it is visible
    * from) feeding an exact COUNT(DISTINCT user) per target day — no
    * range join and no per-day rescan of the events table, so the
    * whole report is two aggregate exchanges regardless of corpus
    * size. The explode fanout is the window length, a small constant
    * (7/28/30-class); the calendar spine is a one-row min/max
    * aggregate exploded into the span, never a driver collect.
    * Days past the observed max are clipped by the spine join.
    */
  def rollingActive(events: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "rollingActive: windowDays must be >= 1")
    val daily = events
      .select(col(userCol).as("_ra_u"), to_date(col(tsCol)).as("_ra_day"))
      .distinct()
    // every (user, day) contributes to windowDays target days; the
    // contribution's offset marks whether the user was active ON the
    // target day itself (off = 0), so ONE exploded pass feeds both
    // counts — dau is not a second scan, and neither count is a
    // DISTINCT aggregate (the (target, user) dedup below already
    // collapsed duplicates, so both counts take map-side partials)
    val marked = daily
      .select(col("_ra_u"), col("_ra_day"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("_ra_off"))
      .select(col("_ra_u"),
        date_add(col("_ra_day"), col("_ra_off")).as("_ra_td"),
        col("_ra_off"))
    val pairs = marked.groupBy(col("_ra_td"), col("_ra_u"))
      .agg(min(col("_ra_off")).as("_ra_moff"))
    val perday = pairs.groupBy(col("_ra_td"))
      .agg(count(lit(1)).as("_ra_roll"),
        count(when(col("_ra_moff") === 0, 1)).as("_ra_dau"))
    // Calendar spine and gap days come from the aggregate itself, not
    // a second events pass (a separate min/max branch gets its columns
    // pruned differently and defeats exchange reuse — measured as a
    // duplicate FileScan): clip the trailing-window overhang past the
    // last ACTIVE day with a global-max window, then let each row emit
    // the gap days since its predecessor (lag + explode) with 0s. Both
    // windows are SinglePartition by construction but run over the
    // |days|-sized aggregate — bounded, never corpus-sized. Plan spec
    // pins the single events scan.
    val wAll = Window.partitionBy()
    val wOrd = Window.orderBy("_ra_td")
    perday
      .withColumn("_ra_hi",
        max(when(col("_ra_dau") > 0, col("_ra_td"))).over(wAll))
      .where(col("_ra_td") <= col("_ra_hi"))
      .withColumn("_ra_prev", lag("_ra_td", 1).over(wOrd))
      .select(col("_ra_td"), col("_ra_roll"), col("_ra_dau"),
        explode(sequence(
          coalesce(date_add(col("_ra_prev"), 1), col("_ra_td")),
          col("_ra_td"))).as("_ra_cd"))
      .select(date_format(col("_ra_cd"), "yyyy-MM-dd").as("day"),
        when(col("_ra_cd") === col("_ra_td"), col("_ra_dau"))
          .otherwise(lit(0L)).as("dau"),
        when(col("_ra_cd") === col("_ra_td"), col("_ra_roll"))
          .otherwise(lit(0L)).as("rolling_users"))
  }

  /** Time-decayed engagement score per user: Σ over active days of
    * (that day's value sum) · 2^-⌊Δ/halvingDays⌋, where Δ is the age
    * in days against the corpus' last active day — recency-weighted
    * activity, the feature a ranking/retention model consumes.
    *
    * Every arithmetic step is cross-engine exact, the t29 stance:
    * daily sums ride the decimal-cast policy (order-free exact
    * additions); the weight is 1/2^k — power(2,k) is exactly
    * representable and the division is an exponent shift, so the
    * per-(user, day) term is ONE deterministic IEEE multiply; terms
    * quantize to micro-unit longs (floor(x·1e6 + 0.5)) whose sum is
    * exact and partition-order-free; the final /1e6 is a single
    * shared division. A raw double sum here would flake the oracle
    * hash on partition order.
    *
    * Scale shape: one (user, day) aggregate exchange, a broadcast
    * one-row max-day, one user-keyed aggregate. ⌊Δ/halvingDays⌋ is a
    * staircase half-life — the exact-arithmetic generalization
    * (fractional exponents would need transcendental pow, which is
    * not bit-portable).
    */
  def decayedEngagement(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, halvingDays: Int = 1): DataFrame = {
    val daily = events
      .select(col(userCol).as("_de_u"), to_date(col(tsCol)).as("_de_d"),
        col(valueCol).cast("decimal(18,2)").as("_de_v"))
      .groupBy("_de_u", "_de_d")
      .agg(sum("_de_v").cast("double").as("_de_dv"))
    decayChain(daily, halvingDays).withColumnRenamed("_de_u", userCol)
  }

  /** The decay-and-sum tail shared by the batch scorer and the ledger
    * server: (_de_u, _de_d, _de_dv double) → (_de_u, score). Kept as
    * ONE code path so the incremental and batch forms cannot drift.
    */
  private def decayChain(daily: DataFrame, halvingDays: Int): DataFrame = {
    require(halvingDays >= 1, "decayedEngagement: halvingDays must be >= 1")
    // the global-max branch deliberately stays a separate aggregate:
    // column pruning collapses it to a ts-only scan (one narrow
    // column re-read — pinned in PlanAuditSpec), which beats the e07
    // alternative of a global window here because daily is
    // |users|·|days|-sized — corpus-scale, not |days|-scale — and a
    // SinglePartition window over it would serialize the corpus
    val mx = daily.agg(max("_de_d").as("_de_dmax"))
    daily.crossJoin(broadcast(mx))
      .select(col("_de_u"),
        floor((col("_de_dv") *
          (lit(1.0) / pow(lit(2.0),
            floor(datediff(col("_de_dmax"), col("_de_d")) /
              lit(halvingDays))))) * lit(1e6) + lit(0.5)).as("_de_m"))
      .groupBy(col("_de_u"))
      .agg((sum("_de_m").cast("double") / lit(1e6)).as("score"))
  }

  /** One micro-batch of the engagement-ledger ingest loop — the
    * incremental-view-maintenance form of [[decayedEngagement]]'s
    * first stage. Appends the batch's per-(user, day) decimal partial
    * sums under the batch id; exactly-once per batch id via the
    * ingest_log replay guard, and the crash window between the data
    * append and the log write is absorbed at read time
    * ([[serveDecayedEngagement]] drops duplicate (batch_id, user,
    * day) rows, which a replayed half-visible append can only
    * duplicate byte-identically — decimal partials are deterministic
    * per batch). Use from foreachBatch.
    *
    * SINGLE-WRITER assumption (round-8 advice, now explicit): the
    * replay guard is check-then-append with no atomicity, which is
    * exactly the guarantee Structured Streaming's foreachBatch
    * provides — micro-batches of one query execute SEQUENTIALLY, so
    * at most one ingest runs at a time. Two CONCURRENT writers on
    * the same ledger path (two streams, or a manual caller racing a
    * stream) can both pass the guard for the same batch id and
    * double-append; the duplicates are byte-identical (same batch ⇒
    * same decimal partials) and serve-side dropDuplicates absorbs
    * them, but the ingest_log itself may then hold duplicate rows —
    * harmless to the guard (`limit(1)` existence check) and to
    * serving, yet a sign the deployment is violating the one-writer
    * contract. Run one ingest stream per ledger path.
    */
  def engagementLedgerIngest(userCol: String, tsCol: String,
      valueCol: String, path: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val logPath = s"$path/ingest_log"
    // watermark → compact → tail (round 18, the shared BatchLog
    // probe — see Similarity.ivfPqServeBatch): the guard stops paying
    // O(batches) listing metadata per trigger once the fold inside
    // [[compactEngagementLedger]] (or a direct BatchLog.compact) runs
    val replayed = graft.sources.BatchLog.contains(spark, logPath, batchId)
    if (replayed) return
    batch
      .select(col(userCol).as("user"), to_date(col(tsCol)).as("day"),
        col(valueCol).cast("decimal(18,2)").as("v"))
      .groupBy("user", "day").agg(sum("v").as("v"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(s"$path/daily")
    // driver-direct 1-row log append (r20 — TinyParquet)
    graft.sources.TinyParquet.appendRows(spark, logPath,
      "message spark_schema { required int64 batch_id; }",
      Seq(Seq[Any](batchId)))
  }

  /** Compact the engagement ledger into a FRESH path: per-batch
    * partials merge to one row per (user, day) — the ledger grows one
    * row-set per ingested batch, and serving re-aggregates all of
    * them, so periodic compaction keeps the serve cost proportional
    * to |users|·|days| instead of batches-since-birth. Decimal
    * addition is associative, so compaction is exact. The ingest_log
    * is carried over verbatim: already-applied batch ids stay
    * guarded after the swap (a replay against the compacted ledger
    * must still no-op), and the compacted rows take the sentinel
    * batch id -1 — foreachBatch ids are non-negative, so the
    * sentinel cannot collide; a DIRECT caller of
    * [[engagementLedgerIngest]] must not pass negative batch ids.
    * New-path-only, the writeLshIndex/rebuild stance: the old ledger
    * stays servable until the caller swaps pointers.
    */
  def compactEngagementLedger(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String): Unit = {
    require(inPath != outPath,
      "compactEngagementLedger: compact to a FRESH path (in-place would " +
        "truncate its own input); swap pointers after")
    spark.read.parquet(s"$inPath/daily")
      .dropDuplicates("batch_id", "user", "day")
      .groupBy("user", "day").agg(sum("v").as("v"))
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(s"$outPath/daily")
    // carry the replay guard through BatchLog (round 18): the copy
    // must include the COMPACTED history, not just the tail, and the
    // new path's log re-folds immediately — one file + watermark, so
    // the compacted ledger's guard starts life a watermark read
    graft.sources.BatchLog.readAll(spark, s"$inPath/ingest_log")
      .foreach(_.repartition(1).write.mode("overwrite")
        .parquet(s"$outPath/ingest_log"))
    graft.sources.BatchLog.compact(spark, s"$outPath/ingest_log")
    ()
  }

  /** Decayed scores from the persisted ledger, anchored at the
    * ledger's latest active day — the serving half of the
    * feature-store pair. Re-aggregating decimal partials is exact
    * (decimal addition is associative), so a served score equals
    * [[decayedEngagement]] over the union of all ingested batches,
    * bit for bit — the spec's contract. Output: (user, score).
    */
  def serveDecayedEngagement(
      spark: org.apache.spark.sql.SparkSession, path: String,
      halvingDays: Int = 1): DataFrame = {
    val daily = spark.read.parquet(s"$path/daily")
      .dropDuplicates("batch_id", "user", "day")
      .groupBy(col("user").as("_de_u"), col("day").as("_de_d"))
      .agg(sum("v").cast("double").as("_de_dv"))
    decayChain(daily, halvingDays).withColumnRenamed("_de_u", "user")
  }

  /** Cohort retention: users cohort by their first-activity date; the
    * output counts, per (cohort_day, day_offset), the users active
    * `day_offset` days after their cohort date. One exchange for the
    * cohort window + one for the final aggregate — the (user, day)
    * distinct rides the aggregate's partitioning.
    */
  def retention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val w = Window.partitionBy(userCol)
    events
      .select(col(userCol), to_date(col(tsCol)).as("_ra_day"))
      .withColumn("_ra_cohort", min(col("_ra_day")).over(w))
      .select(col("_ra_cohort"),
        datediff(col("_ra_day"), col("_ra_cohort")).as("day_offset"),
        col(userCol))
      .distinct()
      .groupBy(date_format(col("_ra_cohort"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Top-k most common event-type paths: each (user, calendar day)
    * contributes ONE path — its first `maxLen` events' types joined
    * with '>' in (ts, tie) order — and paths rank by frequency. The
    * discovery step BEFORE funnel analysis: e01 verifies a path you
    * already suspect, this surfaces the paths worth suspecting.
    *
    * Determinism and boundedness share one mechanism: a row_number
    * window on (ts, tieCol) — a total order — keeps only each
    * (user, day)'s first `maxLen` events BEFORE any collection, so
    * the aggregation buffer holds ≤ maxLen structs regardless of how
    * many events a bot's day carries (collect_list alone would buffer
    * the whole day and truncate after — an OOM/skew hazard at scale).
    * The groupBy rides the window's (user, day) partitioning — one
    * exchange total. collect_list still has no order contract, so the
    * ≤ maxLen-element array sorts after collection. Count table is
    * path-cardinality-sized; the final cut is TakeOrdered on
    * (n desc, path asc).
    */
  def topPaths(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCol: String, maxLen: Int, k: Int): DataFrame = {
    require(maxLen >= 1 && k >= 1, "topPaths: maxLen and k must be positive")
    val w = Window.partitionBy(col(userCol), col("_tp_day"))
      .orderBy(col(tsCol), col(tieCol))
    events
      .select(col(userCol), col(tsCol), col(tieCol),
        to_date(col(tsCol)).as("_tp_day"),
        struct(col(tsCol), col(tieCol), col(typeCol)).as("_tp_e"))
      .withColumn("_tp_rn", row_number().over(w))
      .where(col("_tp_rn") <= maxLen)
      .groupBy(col(userCol), col("_tp_day"))
      .agg(collect_list("_tp_e").as("_tp_es"))
      .select(array_join(
        transform(sort_array(col("_tp_es")), e => e.getField(typeCol)),
        ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(k)
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: for every (from, to) pair of consecutive event types,
    * the transition count and the row-normalized probability
    * `p = n / Σ_to n`. The classic next-event model behind "what do
    * users do after X" and synthetic-sequence generation.
    *
    * `tieCol` totalizes the per-user order under equal timestamps
    * (pass the event id) — without it `lead` is nondeterministic on
    * ties and the counts would vary run to run. One user-key exchange
    * feeds the lead window (the funnel/retention partitioning); the
    * (from, to) aggregate is |types|²-sized, and its row totals come
    * from a window over that TINY frame — a totals join would consume
    * the aggregate twice and re-run the events window (the plan audit
    * caught exactly that). `p` is a single long/long IEEE division —
    * bit-identical in any engine, no rounding helper needed.
    *
    * Output: (from_type, to_type, n, total_from, p).
    */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    events
      .select(col(userCol), col(tsCol), col(tieCol),
        col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("total_from",
        sum("n").over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"), col("n"), col("total_from"),
        (col("n").cast("double") / col("total_from").cast("double")).as("p"))
  }

  /** Rolling z-score spike detection over daily event volumes
    * (round 16): per `typeCol`, each day's count is scored against the
    * mean/stddev of the `window` PRECEDING days (the day itself
    * excluded — a spike must not dilute its own baseline). Days
    * without a full baseline window emit z = null (no partial-window
    * guesses), as do zero-variance baselines (a flat history makes
    * any change "infinitely" anomalous — surfaced as null, not ±Inf).
    *
    * Exactness chain (the e08 stance): daily counts are exact longs;
    * the baseline sums Σx and Σx² ride the window as LONGS (order-free
    * exact integer sums), and z derives in ONE fixed IEEE expression —
    *   z = (x − Σx/n) / sqrt((n·Σx² − (Σx)²) / (n·(n−1)))
    * — so both engines replay it bit-identically (sample variance via
    * integer numerator, no Welford-vs-textbook drift).
    *
    * Scale shape: one exchange keyed by type for the daily rollup —
    * the frame entering the per-type window is |types| × |days|
    * (metadata-scale next to the event log), so the ordered window is
    * over a tiny frame; the event scan itself is one map-side-combined
    * groupBy. Output: (event_type, d, n, z, is_anomaly) with
    * is_anomaly = |z| ≥ zThreshold.
    */
  def dailyAnomalies(events: DataFrame, typeCol: String, tsCol: String,
      window: Int = 7, zThreshold: Double = 2.0): DataFrame = {
    require(window >= 2, "dailyAnomalies: window must be >= 2")
    val daily = events
      .groupBy(col(typeCol).as("event_type"),
        to_date(col(tsCol)).as("d"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(-window, -1)
    val nW = lit(window.toLong)
    val scored = daily
      .withColumn("_ea_sx", sum(col("n")).over(w))
      .withColumn("_ea_sxx", sum(col("n") * col("n")).over(w))
      .withColumn("_ea_cnt", count(lit(1)).over(w))
    val varNum = nW * col("_ea_sxx") - col("_ea_sx") * col("_ea_sx")
    val z = (col("n").cast("double") -
        col("_ea_sx").cast("double") / nW.cast("double")) /
      sqrt(varNum.cast("double") /
        (nW * (nW - lit(1L))).cast("double"))
    scored
      .withColumn("z",
        when(col("_ea_cnt") === window && varNum > 0, z))
      .withColumn("is_anomaly",
        coalesce(abs(col("z")) >= zThreshold, lit(false)))
      .select("event_type", "d", "n", "z", "is_anomaly")
  }
}
