package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.DriverCollect.bounded
import graft.functions.KeyedFrameMemo.iterate
import graft.streaming.EventStreams

/** Temporal operators beyond the reference's surface: as-of join and
  * quantile summaries over the event stream.
  */
object TemporalOps {

  /** As-of join, composed from built-ins (the (a) rung of the
    * custom-operator ladder): for every left row, the latest right
    * row with `rightTime <= leftTime` per key.
    *
    * Formulation: tag and union both sides, then one window sorted by
    * (key, time, tag) carrying `last(right value ignoring nulls)` —
    * a single shuffle+sort over left+right, which is the optimal
    * distributed plan (no per-row lookups, no range join blowup; at
    * scale both sides co-partition on the key).
    */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      rightValue: String): DataFrame = {
    val l = left.withColumn("_tag", lit(1))
      .withColumn("_t", col(leftTime))
      .withColumn("_rv", lit(null).cast(right.schema(rightValue).dataType))
    val r = right.select(col(key), col(rightTime).as("_t"),
      lit(0).as("_tag"), col(rightValue).cast("double").as("_rv"))
    val unioned = l.select(col(key), col("_t"), col("_tag"), col("_rv"))
      .unionByName(r.select(col(key), col("_t"), col("_tag"), col("_rv")))
    // right rows sort before left rows at equal time (tag 0 < 1) →
    // a right row at exactly leftTime IS visible to that left row.
    val w = Window.partitionBy(key).orderBy(col("_t"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("_asof", last(col("_rv"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .select(col(key), col("_t").as(leftTime), col("_asof"))
  }

  /** Driver-contract query: for each purchase event, the value of the
    * user's most recent prior (or simultaneous) view event. */
  def purchaseAsofView(s: SparkSession, d: String): DataFrame = {
    val ev = EventStreams.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
    asofJoin(purchases.withColumnRenamed("ts", "p_ts"), views,
        key = "user_id", leftTime = "p_ts", rightTime = "ts", rightValue = "value")
      .select(col("user_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        round(coalesce(col("_asof"), lit(-1.0)), 2).as("last_view_value"))
      .orderBy("user_id", "purchase_ts")
  }

  /** Rolling (trailing-5-event) mean and max of the event value per
    * user — the feature-engineering shape of temporal aggregation
    * (fraud/engagement features). One shuffle on user_id; the bounded
    * ROWS frame keeps per-row state at 5 values regardless of history
    * length, so the window never spills on long user timelines. */
  def eventRolling(s: SparkSession, d: String, lastN: Int = 5): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val frame = w.rowsBetween(-(lastN - 1), Window.currentRow)
    EventStreams.events(s, d)
      .filter(col("user_id") % 20 === 0) // keyed sample (partition-key
      // predicate — sits below the window) keeps the gate compact
      .withColumn("rn", row_number().over(w))
      .withColumn("roll_avg", round(avg(col("value")).over(frame), 4))
      .withColumn("roll_max", round(max(col("value")).over(frame), 2))
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        col("rn"), col("roll_avg"), col("roll_max"))
      .orderBy("user_id", "rn")
  }

  /** E13 deterministic anomaly flags: per-user z-score outliers with
    * NO float arithmetic anywhere. Values quantize to cents
    * (⌊100·v + 0.5⌋ — floor-form, identical on both engines) and the
    * z > 2 test is the integer inequality
    * `(n·qx − S)² > 4·(n·Sq − S²)` (with positive variance), derived
    * from z² = (n·qx−S)²/(n·Sq−S²): exact long sums in any order, so
    * flags can never drift cross-engine. Long headroom: safe while
    * n·|qx| < 3·10⁹ per user (≈ millions of events at these value
    * magnitudes); beyond that, promote the sums to decimal(38,0).
    * One groupBy(user_id) + a user-keyed join — two narrow shuffles.
    */
  def eventAnomalies(s: SparkSession, d: String): DataFrame =
    anomalies(EventStreams.events(s, d)
      .filter(col("user_id") % 20 === 0)) // keyed sample, as eventRolling

  /** Core of [[eventAnomalies]] over any (user_id, event_id, value)
    * frame. */
  def anomalies(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("event_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("value_cents"))
    val st = ev.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      sum(col("value_cents")).as("s"),
      sum(col("value_cents") * col("value_cents")).as("sq"))
    val dev = col("n") * col("value_cents") - col("s")
    val varN2 = col("n") * col("sq") - col("s") * col("s")
    ev.join(st, "user_id")
      .select(col("user_id"), col("event_id"), col("value_cents"),
        (varN2 > 0 && dev * dev > lit(4L) * varN2).as("is_outlier"))
      .orderBy("user_id", "event_id")
  }

  /** CUSUM changepoint detection (Page 1954) per user, in EXACT
    * integers: where did this metric's level shift? The sequential
    * recursion S_i = max(0, S_{i-1} + x_i − μ) is not window-
    * expressible, but its closed form is — S_i = cs_i − min_{j≤i}
    * cs_j over the running deviation sum — so one window pass
    * computes both the upward and downward drift tracks. Division by
    * n never happens: deviations are scaled by n (d_i = n·x_i − S,
    * so cs_k = n·Σ_{i≤k}x_i − k·S), keeping every term an exact long
    * exactly like [[anomalies]]' z-score trick. The estimated
    * changepoint is the earliest rank attaining max |cs| — the MLE
    * location for a single level shift (deterministic tie-break);
    * the up/down drift maxima are the alarm magnitudes. Long headroom: |cs| ≲ n²·|x̄| — safe
    * to ~10⁶ events/user at cent magnitudes; promote to
    * decimal(38,0) beyond. One user-keyed window sort + one narrow
    * agg — two shuffles, both on user_id.
    */
  def eventCusum(s: SparkSession, d: String): DataFrame =
    cusum(EventStreams.events(s, d))

  /** Core of [[eventCusum]] over any (user_id, event_id, ts, value)
    * frame. */
  def cusum(events: DataFrame): DataFrame = {
    val part = Window.partitionBy("user_id")
    val ord = part.orderBy(col("ts"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = part.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val enriched = events
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 100 + 0.5).cast("long").as("x"))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("s", sum(col("x")).over(all))
      .withColumn("rn", row_number().over(ord))
      .withColumn("cs", col("n") * sum(col("x")).over(run) - col("rn") * col("s"))
      .withColumn("up", col("cs") - min(col("cs")).over(run))
      .withColumn("down", max(col("cs")).over(run) - col("cs"))
      // changepoint estimate: the MLE for a single level shift is the
      // earliest argmax of |cs| (the drift tracks `up`/`down` are the
      // ALARM statistic; |cs| peaks where the level changed)
      .withColumn("adev", abs(col("cs")))
      .withColumn("mdev", max(abs(col("cs"))).over(part))
    enriched.groupBy("user_id")
      .agg(max(col("n")).as("n_events"),
        max(col("up")).as("max_up"),
        max(col("down")).as("max_down"),
        min(when(col("adev") === col("mdev"), col("rn")))
          .cast("long").as("cp_rank"))
      .orderBy("user_id")
  }

  /** Ordered conversion funnel view→click→purchase: per user, the
    * earliest view, the earliest click strictly after that view, and
    * the earliest purchase strictly after that click — stage
    * timestamps must be CAUSALLY ordered, which a mere
    * "did-all-three" intersection gets wrong (a purchase before the
    * first view must not convert). Three narrow user-keyed
    * aggregations, each stage filtering against the previous stage's
    * min — no window over the full stream, no self-join blowup: each
    * stage's frame is one row per user. Returns per-stage reached
    * counts plus per-1e6 integer conversion ratios (exact floor-div,
    * no float drift).
    */
  def conversionFunnel(events: DataFrame): DataFrame = {
    def stage(tpe: String) = events.filter(col("event_type") === tpe)
      .select(col("user_id"), col("ts"))
    val v = stage("view").groupBy("user_id").agg(min(col("ts")).as("v_ts"))
    val c = stage("click").join(v, "user_id")
      .filter(col("ts") > col("v_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
    val p = stage("purchase").join(c, "user_id")
      .filter(col("ts") > col("c_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
    val counts = v.agg(count(lit(1)).as("n_view")).crossJoin(
      c.agg(count(lit(1)).as("n_click"))).crossJoin(
      p.agg(count(lit(1)).as("n_purchase")))
    // zero-denominator guard (the reciprocity/clustering convention):
    // a stage with no entrants yields ratio 0, not NULL/divide-by-zero
    counts.select(col("n_view"), col("n_click"), col("n_purchase"),
      when(col("n_view") === 0, lit(0L))
        .otherwise(expr("n_click * 1000000 div n_view")).as("click_ppm"),
      when(col("n_click") === 0, lit(0L))
        .otherwise(expr("n_purchase * 1000000 div n_click")).as("purchase_ppm"))
  }

  /** Cohort retention: users grouped by first-active day, fraction
    * still active at each day offset — the classic product-analytics
    * triangle. All time arithmetic is exact integer epoch days
    * (⌊ms/86400000⌋); retention is an integer ppm floor division. The
    * (user, day) activity frame distincts ONCE and is checkpointed
    * (≤ users·days rows — far smaller than the event stream), so
    * cohort assignment and the offset aggregation share one pass;
    * every shuffle keys on user or (cohort, offset) — uniform.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .distinct()
      .localCheckpoint(true)
    val cohort = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    val sizes = cohort.groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
    days.join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        expr("(1000000 * n_active) div cohort_size").as("retention_ppm"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Out-of-orderness profile — the measurement that SIZES a streaming
    * watermark: per event, disorder = how far its event time lags the
    * running max over earlier arrivals (event_id = arrival order) of
    * the SAME key, bucketed into a histogram. All arithmetic is exact
    * epoch milliseconds (unix_millis ≡ DuckDB epoch_ms — integer, no
    * float drift). The window partitions by user_id — per-key
    * disorder, matching per-key watermark semantics, and the partition
    * key keeps the sort narrow at scale (a GLOBAL arrival window would
    * serialize the stream through one partition).
    */
  def eventDisorder(s: SparkSession, d: String): DataFrame =
    disorder(EventStreams.events(s, d))

  /** Core of [[eventDisorder]] over any (user_id, event_id, ts) frame. */
  def disorder(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("disorder_ms",
        greatest(lit(0L), coalesce(max(col("ms")).over(w) - col("ms"), lit(0L))))
      .withColumn("bucket",
        when(col("disorder_ms") === 0, "a_in_order")
          .when(col("disorder_ms") < 60000L, "b_lt_1m")
          .when(col("disorder_ms") < 600000L, "c_lt_10m")
          .otherwise("d_gte_10m"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_events"), max(col("disorder_ms")).as("max_disorder_ms"))
      .orderBy("bucket")
  }

  /** Trailing exponential moving average per user with INTEGER dyadic
    * weights: over the last `n` events in (ts, event_id) order, the
    * i-th-back value weighs 2^(n−1−i) — α=1/2 exponential decay
    * truncated at n lags, which both bounds per-row window state (the
    * eventRolling discipline) and makes the whole estimate exact
    * integer arithmetic: ewma_cents = ⌊Σ wᵢ·xᵢ / Σ_avail wᵢ⌋, where
    * partial head windows renormalize over the weights actually
    * present (no zero-padded warm-up bias). No float ever exists, so
    * the smoothed series replays bit-identically cross-engine. */
  def eventEwma(s: SparkSession, d: String): DataFrame =
    ewma(EventStreams.events(s, d)
      .filter(col("user_id") % 20 === 0)) // keyed sample, as eventRolling

  /** Core of [[eventEwma]] over any (user_id, event_id, ts, value)
    * frame; `lastN` ≤ 62 keeps the weight sum in long range. */
  def ewma(events: DataFrame, lastN: Int = 8): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val base = events.select(col("user_id"), col("event_id"), col("ts"),
      floor(col("value") * 100 + 0.5).cast("long").as("value_cents"))
    val lagged = (0 until lastN).foldLeft(base) { (df, i) =>
      df.withColumn(s"x$i", lag(col("value_cents"), i).over(w))
    }
    val num = (0 until lastN).map(i =>
      coalesce(col(s"x$i") * lit(1L << (lastN - 1 - i)), lit(0L))).reduce(_ + _)
    val den = (0 until lastN).map(i =>
      when(col(s"x$i").isNotNull, lit(1L << (lastN - 1 - i))).otherwise(lit(0L)))
      .reduce(_ + _)
    lagged
      .withColumn("_num", num).withColumn("_den", den)
      .select(col("user_id"), col("event_id"), col("value_cents"),
        expr("_num div _den").as("ewma_cents"))
      .orderBy("user_id", "event_id")
  }

  /** E23 Holt double exponential smoothing (level + trend) with a
    * TRUNCATED warm start — the forecasting complement of [[ewma]]
    * (which has no trend term and so lags ramps by construction).
    * Contract, all exact integer cents: over the last `lastN` = 6
    * points per user in (ts, event_id) order, init l = x₅ (oldest),
    * b = x₄ − x₅, then five smoothing steps (x₄ down to the current
    * value — the init's second point is re-smoothed, the textbook
    * warm start that makes a perfect linear ramp an exact fixpoint:
    * l stays ON the ramp and b at its slope) with α = β = ½:
    * l' = (x + l + b) div 2, b' = ((l' − l) + b) div 2 — `div` is
    * TRUNCATING integral division, which is what DuckDB's `//` does
    * too (verified on negatives: −3 div 2 = −1 in both; arithmetic
    * shiftright would floor instead and diverge on negative trends),
    * and the one-step-ahead forecast is l + b. Rows with fewer than
    * lastN predecessors report (value, 0, value) — total, no NULL
    * branches for the oracle to mis-replay. The recursion is unrolled
    * over bounded lag columns (the [[ewma]] discipline): per-row
    * window state is O(lastN), one user-keyed shuffle at scale, and
    * the oracle replays the identical unroll via lateral column
    * aliases. */
  def holt(events: DataFrame, lastN: Int = 6): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val base = events.select(col("user_id"), col("event_id"), col("ts"),
      floor(col("value") * 100 + 0.5).cast("long").as("value_cents"))
    var df = base.withColumn("rn", row_number().over(w))
    for (i <- 1 until lastN)
      df = df.withColumn(s"x$i", lag(col("value_cents"), i).over(w))
    df = df
      .withColumn("l0", col(s"x${lastN - 1}"))
      .withColumn("b0", col(s"x${lastN - 2}") - col(s"x${lastN - 1}"))
    var step = 0
    for (i <- lastN - 2 to 0 by -1) {
      val x = if (i == 0) "value_cents" else s"x$i"
      df = df
        .withColumn(s"l${step + 1}", expr(s"($x + l$step + b$step) div 2"))
        .withColumn(s"b${step + 1}", expr(s"(l${step + 1} - l$step + b$step) div 2"))
      step += 1
    }
    df.select(col("user_id"), col("event_id"), col("value_cents"),
        when(col("rn") >= lastN, col(s"l$step")).otherwise(col("value_cents"))
          .as("holt_level"),
        when(col("rn") >= lastN, col(s"b$step")).otherwise(lit(0L))
          .as("holt_trend"),
        when(col("rn") >= lastN, col(s"l$step") + col(s"b$step"))
          .otherwise(col("value_cents")).as("forecast_cents"))
      .orderBy("user_id", "event_id")
  }

  def eventHolt(s: SparkSession, d: String): DataFrame =
    holt(EventStreams.events(s, d).filter(col("user_id") % 20 === 0))

  /** Per-user inter-arrival gap statistics with EXACT integer
    * quantiles: consecutive (ts, event_id)-ordered gap in epoch-ms,
    * then per user n_gaps / min / max plus the discrete median and
    * p90 picked by RANK, not interpolation — med = the ⌊(n+1)/2⌋-th
    * smallest, p90 = the ⌈9n/10⌉-th smallest, ties broken by the
    * later event's id so the row choice is total-ordered. Every value
    * is a long; nothing can drift cross-engine (the percentile
    * functions of the two engines interpolate differently — rank
    * selection sidesteps the whole contract problem). Two windows
    * over the same (user) partition → one shuffle; at scale user is
    * the natural key and the per-user state is the gap list.
    */
  def interArrival(events: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wRank = Window.partitionBy("user_id").orderBy(col("gap_ms"), col("event_id"))
    val wAll = Window.partitionBy("user_id")
    events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(wSeq))
      .filter(col("gap_ms").isNotNull)
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy("user_id")
      .agg(max(col("n")).as("n_gaps"),
        min(col("gap_ms")).as("min_ms"),
        max(col("gap_ms")).as("max_ms"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("gap_ms"))).as("med_ms"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("gap_ms"))).as("p90_ms"))
      .orderBy("user_id")
  }

  /** E65 leakage-safe training-feature frame: per event (on a gated
    * 1-in-`mod` user slice) the previous-value lags and the
    * trailing-3 mean — the supervised-learning feature shape where
    * every feature strictly PRECEDES its label row in the user's
    * total (ts, event_id) order, so no target leakage by
    * construction. Missing history is the explicit −1 sentinel
    * (cents ≥ 1 by data contract), never null — null-vs-null hash
    * semantics stay out of the gate. Trailing mean =
    * ⌊Σprev3 / count⌋ exact integers. ONE user-keyed window sort
    * (both frame shapes share it), map-side after; at 100 TB the
    * user is the natural partition key and the slice filter is
    * pushed to the scan. */
  def lagFeatures(events: DataFrame, mod: Long = 25,
      residue: Long = 3): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wPrev3 = w.rowsBetween(-3, -1)
    events.filter(col("user_id") % mod === residue)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("lag1_cents", coalesce(lag(col("cents"), 1).over(w), lit(-1L)))
      .withColumn("lag2_cents", coalesce(lag(col("cents"), 2).over(w), lit(-1L)))
      .withColumn("p_n", count(col("cents")).over(wPrev3))
      .withColumn("p_s", coalesce(sum(col("cents")).over(wPrev3), lit(0L)))
      .select(col("user_id"), col("event_id"), col("ms"), col("cents"),
        col("lag1_cents"), col("lag2_cents"),
        when(col("p_n") === 0, lit(-1L)).otherwise(expr("p_s div p_n"))
          .as("prev3_mean_cents"))
      .orderBy("user_id", "ms", "event_id")
  }

  /** First-order event-type transition matrix (the Markov chain over
    * each user's event sequence): counts of consecutive (from_type →
    * to_type) steps ordered by (ts, event_id) — the deterministic
    * total order, ties broken by the unique id — with row-normalized
    * probabilities as exact integer ppm (floor division over exact
    * counts, the funnel/retention ratio contract). One user-keyed
    * window sort over the stream, then one narrow agg whose key space
    * is |types|² — tiny, so the totals join broadcasts itself.
    */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("row_total"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(1000000 * n) div row_total").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  /** Mergeable histogram quantile sketch — the 100 TB quantile path:
    * fixed-width cent bins (default $1), one map-side-combinable
    * (type, bin) count, and the p-quantile reported as the UPPER
    * BOUND of the first bin where the cumulative count crosses
    * ⌈p·n⌉ (the integer inequality cum·den ≥ n·num — no float, no
    * interpolation, error bounded by the bin width). Unlike the
    * exact [[eventQuantiles]] sort, the state is the histogram:
    * shards merge by adding bin counts, streams fold in place, and
    * the shuffle carries bins, not rows. Requires non-negative
    * values (integer `div` vs `//` disagree on negative floors).
    */
  def quantileSketch(events: DataFrame, binCents: Long = 100L): DataFrame =
    quantilesFromBins(
      events
        .select(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .withColumn("bin", expr(s"cents div $binCents"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("c")),
      binCents)

  /** The quantile read-off over a prepared (event_type, bin, c)
    * histogram — shared VERBATIM by the batch sketch and the
    * streaming deployment (the burstFlags pattern: the streaming
    * state IS the mergeable bin histogram; each micro-batch replays
    * this tail over it, so parity cannot drift). */
  def quantilesFromBins(bins: DataFrame, binCents: Long = 100L): DataFrame = {
    val cum = bins
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy("event_type").orderBy("bin")))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy("event_type")))
    def pick(num: Int, den: Int, name: String) =
      min(when(col("cum") * den >= col("n") * num,
        (col("bin") + 1) * binCents)).as(name)
    cum.groupBy("event_type")
      .agg(max(col("n")).as("n"),
        pick(1, 2, "p50_up_cents"),
        pick(9, 10, "p90_up_cents"),
        pick(99, 100, "p99_up_cents"))
      .orderBy("event_type")
  }

  /** Per-user event-type Shannon entropy — behavioral diversity (0
    * for a single-type user, ln k for uniform over k types): H =
    * ln(n) − Σc·ln(c)/n with every count an exact long and the one
    * float surface the shared 4dp-round contract. Two narrow
    * user-keyed aggs. */
  def typeEntropy(events: DataFrame): DataFrame = {
    val c = events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
    c.groupBy("user_id")
      .agg(sum(col("c")).as("n_events"),
        round(sum(col("c") * log(col("c").cast("double"))), 4).as("_slc"))
      .select(col("user_id"), col("n_events"),
        graft.functions.Rounding.rnd(
          log(col("n_events").cast("double")) -
            col("_slc") / col("n_events"), 4).as("entropy"))
      .orderBy("user_id")
  }

  /** Last-touch attribution: for each conversion event, the user's
    * most recent STRICTLY PRIOR touch event (the marketing/causal
    * "which click gets credit for this purchase" join). Prior = the
    * (ms, event_id) lexicographic order — the deterministic total
    * order every sequence op here uses — so a touch at the exact
    * conversion timestamp attributes only if its id sorts first.
    * One user-keyed window over the type-filtered union (the asofJoin
    * shape: last-ignoring-nulls over ROWS … 1 PRECEDING); both sides
    * co-partition on user, no range join, no per-row lookup.
    * Unattributed conversions keep -1 (NULL-free gate columns).
    */
  def lastTouch(events: DataFrame, convType: String = "purchase",
      touchType: String = "click"): DataFrame = {
    val ev = events.filter(col("event_type").isin(convType, touchType))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    def lastOf(c: Column) = last(c, ignoreNulls = true).over(w)
    ev
      .withColumn("touch_id",
        lastOf(when(col("event_type") === touchType, col("event_id"))))
      .withColumn("touch_ms",
        lastOf(when(col("event_type") === touchType, col("ms"))))
      .filter(col("event_type") === convType)
      .select(col("event_id"), col("user_id"),
        coalesce(col("touch_id"), lit(-1L)).as("touch_event_id"),
        coalesce(col("ms") - col("touch_ms"), lit(-1L)).as("gap_ms"))
      .orderBy("event_id")
  }

  /** Burst windows: fixed-width time buckets where a type's count
    * exceeds `num/den` × its mean over OCCUPIED buckets (empty
    * buckets don't dilute the mean — the honest form when streams
    * start/stop). The whole test is the integer cross-multiplication
    * c·nb·den > total·num; the reported ratio is exact ppm. One
    * map-side-combinable (type, bucket) count + a |types|-row
    * broadcast — the same two-shuffle shape at any scale.
    */
  def burstWindows(events: DataFrame, windowMs: Long = 3600000L,
      num: Int = 2, den: Int = 1): DataFrame =
    burstFlags(
      events
        .select(col("event_type"), expr(s"unix_millis(ts) div $windowMs").as("w"))
        .groupBy("event_type", "w").agg(count(lit(1)).as("c")),
      windowMs, num, den)

  /** The flag tail shared VERBATIM by [[burstWindows]] and the
    * streaming deployment ([[EventStreams.streamingBucketCounts]] →
    * this, per micro-batch in foreachBatch under complete mode — the
    * rankWindows pattern, so batch/stream parity cannot drift).
    * Input: one (event_type, w, c) row per occupied bucket. */
  def burstFlags(bucketCounts: DataFrame, windowMs: Long = 3600000L,
      num: Int = 2, den: Int = 1): DataFrame = {
    val t = bucketCounts.groupBy("event_type")
      .agg(sum(col("c")).as("total"), count(lit(1)).as("nb"))
    bucketCounts.join(broadcast(t), Seq("event_type"))
      .filter(col("c") * col("nb") * den > col("total") * num)
      .select(col("event_type"), (col("w") * windowMs).as("window_start_ms"),
        col("c").as("n_events"),
        expr("(1000000 * c * nb) div total").as("ratio_ppm"))
      .orderBy("event_type", "window_start_ms")
  }

  /** Per-user session statistics: the [[EventStreams.sessionize]]
    * gap-break construction (same window, same 30-min default) kept
    * in epoch-ms and re-aggregated per user — how many sessions, how
    * long on average (integer-ms floor division), and the largest /
    * total event counts. Two shuffles, both user-keyed: the session
    * window sort, then the two-level agg. Every output is an exact
    * long; single-event sessions contribute duration 0, not NULL.
    */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"))
    val gapMs = gapMinutes * 60L * 1000L
    val sess = events
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("brk",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_ev"), (max(col("ms")) - min(col("ms"))).as("dur_ms"))
    sess.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_ev")).as("total_events"),
        max(col("n_ev")).as("max_events"),
        sum(col("dur_ms")).as("_sd"))
      .select(col("user_id"), col("n_sessions"), col("total_events"),
        col("max_events"), expr("_sd div n_sessions").as("avg_dur_ms"))
      .orderBy("user_id")
  }

  /** Daily/weekly active users + stickiness: DAU, trailing-7-day WAU,
    * and DAU/WAU in exact ppm per day. The rolling distinct is NOT a
    * window-distinct (no per-day set state): each distinct (user,
    * day) activity row CONTRIBUTES to the 7 target days it keeps a
    * user active for — a bounded 7× explode on the already-distinct
    * day-user frame, then one plain (day → distinct user) count.
    * Contribution days past the last observed day are clipped so
    * trailing windows never invent future days. Both counts shuffle
    * on the day key; everything is exact longs.
    */
  def activeUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val ad = events
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .distinct()
      .localCheckpoint(true)
    val dau = ad.groupBy("day").agg(count(lit(1)).as("dau"))
    val maxDay = ad.agg(max(col("day")).as("max_day"))
    val wau = ad.crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        explode(sequence(col("day"),
          least(col("day") + (windowDays - 1), col("max_day")))).as("wd"))
      .groupBy(col("wd").as("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "day")
      .select((col("day") * 86400000L).as("day_start_ms"), col("dau"), col("wau"),
        expr("(1000000 * dau) div wau").as("stickiness_ppm"))
      .orderBy("day_start_ms")
  }

  /** Exact interpolated quantiles per event type (Spark `percentile`
    * ≡ DuckDB `quantile_cont`). The approx scale path is
    * `approx_percentile` — same call shape, sketch-based. */
  def eventQuantiles(s: SparkSession, d: String): DataFrame =
    EventStreams.events(s, d)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Robust per-user outlier profile via median/MAD — the
    * heavy-tail-safe complement of [[anomalies]]' z-score (a single
    * wild value inflates a stddev but moves a median by at most one
    * rank). Both medians are RANK-SELECTED (the [[interArrival]]
    * discipline): med = the ⌊(n+1)/2⌋-th smallest value (ties broken
    * by event_id), MAD = the same rank over |x − med|. A row is an
    * outlier iff |x − med| > 3·MAD — exact longs end to end, no
    * interpolation, so the two engines cannot drift. Three shuffles,
    * all user-keyed (value-rank window, deviation-rank window, final
    * agg); at scale user_id is the natural partition key and the
    * per-user window state is the value list.
    */
  def madOutliers(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("event_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("x"))
    val byUser = Window.partitionBy("user_id")
    val wv = byUser.orderBy(col("x"), col("event_id"))
    val med = ev
      .withColumn("rn", row_number().over(wv))
      .withColumn("n", count(lit(1)).over(byUser))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("user_id"), col("x").as("med"))
    val dev = ev.join(med, "user_id")
      .withColumn("d", abs(col("x") - col("med")))
    val wd = byUser.orderBy(col("d"), col("event_id"))
    val mad = dev
      .withColumn("rn", row_number().over(wd))
      .withColumn("n", count(lit(1)).over(byUser))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("user_id"), col("d").as("mad"))
    dev.join(mad, "user_id")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(col("med")).as("med_cents"),
        max(col("mad")).as("mad_cents"),
        sum(when(col("d") > lit(3L) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("user_id")
  }

  /** Hour-of-day seasonal profile + seasonal-naive fit error per
    * event type: the mean level per (type, hour-of-day) slot in
    * truncated cents (`div`, the [[holt]] division contract), and the
    * sum of absolute residuals against that profile — the in-sample
    * SAE of the seasonal-naive forecaster, i.e. how much of the
    * stream the 24-slot profile explains. The profile is ≤ |types|·24
    * rows, so the residual pass joins it BROADCAST: two narrow
    * map-side-combinable (type, hour) aggregations and zero wide
    * exchanges of the event stream at any scale.
    */
  def seasonalProfile(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"),
      (expr("unix_millis(ts) div 3600000") % 24).as("hour"),
      floor(col("value") * 100 + 0.5).cast("long").as("x"))
    val prof = ev.groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      .select(col("event_type"), col("hour"), expr("s div n").as("mean_cents"))
    ev.join(broadcast(prof), Seq("event_type", "hour"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"), max(col("mean_cents")).as("mean_cents"),
        sum(abs(col("x") - col("mean_cents"))).as("sae_cents"))
      .orderBy("event_type", "hour")
  }

  /** OHLC bars per (event_type, stream-hour): open/close picked by
    * the (epoch-ms, event_id) total order via min/max over a
    * lexicographic struct — ONE map-side-combinable keyed aggregation
    * over the stream, no per-bar window sort anywhere (the window
    * formulation sorts every bar's rows; the struct-argmin is a plain
    * partial agg, the 100 TB shape). All prices in exact floor-cents
    * (the anomaly/cusum contract), so both engines agree bit-for-bit.
    */
  /** The OHLC aggregate list — shared VERBATIM by the batch operator
    * and the streaming twin (EventStreams.streamingOhlc), so parity
    * cannot drift. Every entry is an ordinary incremental aggregate:
    * per-bar streaming state is 4 longs + 2 structs, never raw rows. */
  private[graft] def ohlcAggs: Seq[Column] = Seq(
    min(struct(col("ms"), col("event_id"), col("c")))
      .getField("c").as("open_cents"),
    max(col("c")).as("high_cents"),
    min(col("c")).as("low_cents"),
    max(struct(col("ms"), col("event_id"), col("c")))
      .getField("c").as("close_cents"),
    count(lit(1)).as("n_events"))

  def ohlcBars(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"),
      expr("unix_millis(ts) div 3600000").as("hr"),
      expr("unix_millis(ts)").as("ms"), col("event_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("c"))
    ev.groupBy("event_type", "hr")
      .agg(ohlcAggs.head, ohlcAggs.tail: _*)
      .orderBy("event_type", "hr")
  }

  /** Concurrent-session load profile: how many gap-delimited sessions
    * (the [[sessionStats]] 30-min break contract, epoch-ms) were LIVE
    * in each stream-hour. The interval-overlap count is NOT a sweep
    * over a global time order (a single-partition running sum at any
    * scale): each session contributes one row per hour bucket it
    * overlaps — a bounded explode (sessions are gap-bounded, so the
    * span is short) — and the count is one plain hour-keyed agg, the
    * [[activeUsers]] contribution-day trick applied to intervals.
    */
  /** Time-weighted average value per user (TWAP): each observation is
    * weighted by the epoch-ms interval it was live for (gap to the
    * next event in (ts, event_id) order; the last observation has no
    * interval and drops — the standard left-Riemann TWAP). Products
    * and the divisor ride DECIMAL(38,0)/HUGEINT (cents·ms exceeds a
    * long once day-scale gaps meet large values at corpus scale);
    * co-timestamped events get 0-ms weight identically on both
    * engines. One user-keyed window pass + one user-keyed agg. Users
    * whose every interval is 0 ms report the −1 sentinel.
    */
  def twap(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("unix_millis(ts)").as("ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .withColumn("nxt", lead(col("ms"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("user_id"), col("c"), (col("nxt") - col("ms")).as("dt"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * dt")).as("_num"),
        sum(expr("CAST(dt AS DECIMAL(38,0))")).as("_den"))
      .select(col("user_id"), col("n_intervals"),
        expr("CASE WHEN _den = 0 THEN CAST(-1 AS BIGINT)" +
          " ELSE CAST(_num div _den AS BIGINT) END").as("twap_cents"))
      .orderBy("user_id")
  }

  def sessionOverlap(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapMs = gapMinutes * 60000L
    val w = Window.partitionBy("user_id").orderBy("ts")
    val sess = events
      .withColumn("ms", expr("unix_millis(ts)"))
      .withColumn("prev", lag(col("ms"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("ms") - col("prev") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"))
    sess
      .select(explode(sequence(
        expr("start_ms div 3600000"), expr("end_ms div 3600000"))).as("hr"))
      .groupBy("hr")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("hr")
  }

  /** Autocorrelation function of the hourly event-count series at
    * lags 1..maxLag — the seasonality detector (a daily cycle shows
    * as a peak at lag 24). The series is DENSIFIED over
    * [min_hour, max_hour] (a quiet hour is a 0, not a missing row —
    * skipping gaps would silently splice the series), then the
    * standard sample ACF r_L = Σ_{t≤n−L}(x_t−x̄)(x_{t+L}−x̄) /
    * Σ(x_t−x̄)² is computed in EXACT integers by scaling both sides
    * by n²: with S = Σx, the centered products become
    * (n·x_t − S)(n·x_{t+L} − S) — longs times longs, so the sums
    * ride DECIMAL(38,0) (n·x ≈ 10⁵·10⁹ already puts the square at
    * 10²⁸). Lag terms can be negative, so the ppm goes through the
    * assortativity floor(x·10⁶+0.5) double contract, exact to far
    * beyond 6 dp for a ratio in [−1, 1].
    *
    * Plan: one map-side-combinable hour agg over the stream (the
    * only pass that sees raw events), a sequence() densify of the
    * ≤ |hours| count frame, one self-join per the lag ladder on
    * (hour+lag) — all over the tiny hourly frame. At 100 TB the
    * event scan is one shuffle; everything after is metadata-sized.
    */
  def acf(events: DataFrame, maxLag: Int = 6): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val hourly = events
      .select(expr("unix_millis(ts) div 3600000").as("hr"))
      .groupBy("hr").agg(count(lit(1)).as("cnt"))
    val bounds = hourly.agg(min("hr").as("h0"), max("hr").as("h1"))
    val dense = bounds
      .select(explode(sequence(col("h0"), col("h1"))).as("hr"))
      .join(hourly, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("cnt"), lit(0L)).as("x"))
      .localCheckpoint(true)
    val stats = dense.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val centered = dense.crossJoin(broadcast(stats))
      .select(col("hr"), (col("n") * col("x") - col("s")).as("cx"),
        col("n"), col("s"))
    val den = centered
      .agg(sum(expr("CAST(cx AS DECIMAL(38,0)) * cx")).as("den"))
    val lags = (1 to maxLag).toDF("lag")
    centered.select(col("hr"), col("cx"))
      .crossJoin(broadcast(lags))
      .select(col("lag"), (col("hr") + col("lag")).as("hr2"), col("cx"))
      .join(centered.select(col("hr").as("hrr"), col("cx").as("cy")),
        col("hr2") === col("hrr"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_terms"),
        sum(expr("CAST(cx AS DECIMAL(38,0)) * cy")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag").cast("long").as("lag"), col("n_terms"),
        when(col("den") === 0, lit(0L)).otherwise(expr(
          """CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
               * 1000000 + 0.5) AS BIGINT)""")).as("acf_ppm"))
      .orderBy("lag")
  }

  /** Stationary distribution of the first-order event-type Markov
    * chain (the [[transitions]] matrix) by bounded power iteration —
    * "where does user behavior settle": π₀ uniform ⌊10⁶/k⌋ over the k
    * observed types, πₜ₊₁(j) = Σᵢ ⌊πₜ(i)·c(i,j) / rowTotal(i)⌋, with
    * types having no outgoing steps holding their mass (self-loop) so
    * the frame stays k rows every round. All arithmetic is exact
    * integer ppm with a PER-TERM floor — the fixed `rounds` unroll is
    * what the oracle replays, so the result is bit-identical whether
    * or not the chain has mixed. Scale shape: the chain state is
    * |types| rows (broadcast-sized) while the only data-sized work is
    * the ONE (ts, event_id)-ordered lag window producing the count
    * matrix — the iteration itself never touches the event stream
    * again, so 100 TB costs exactly one sort-shuffle more than a
    * count. When the types and the count matrix fit under
    * `spark.sql.autoBroadcastJoinThreshold` both are collected once and
    * the rounds run on the driver ([[markovRounds]]); otherwise each
    * round is a checkpointed join. */
  def markovStationary(events: DataFrame, rounds: Int = 8): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val counts = events
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val typeFrame = events.select(col("event_type").as("type")).distinct()
    val onDriver = for {
      types <- bounded(typeFrame)
      matrix <- bounded(counts)
    } yield events.sparkSession.createDataFrame(
        markovRounds(types.map(_.get(0)), matrix, rounds)
          .map { case (t, pi) => Row(t, pi) }.asJava,
        StructType(Seq(typeFrame.schema.head.copy(name = "event_type"),
          StructField("pi_ppm", LongType, false))))
    onDriver.getOrElse {
      val c = counts.localCheckpoint(true)
      val totals = c.groupBy("from_type").agg(sum(col("n")).as("row_total"))
      val cm = c.join(totals, "from_type").localCheckpoint(true)
      val types = typeFrame.localCheckpoint(true)
      val k = types.count()
      // eager per-round materialization: the chain state is |types|
      // rows, but left un-checkpointed Catalyst re-optimizes the whole
      // 8-round join tree at the end (measured 12 s of pure planning
      // at sf0.1 for 5 types)
      iterate(types.withColumn("pi", lit(1000000L / math.max(k, 1L))), rounds,
          c, cm, types) { pi =>
        val stepped = pi.join(cm, pi("type") === cm("from_type"))
          .groupBy(col("to_type").as("type2"))
          .agg(sum(expr("(pi * n) div row_total")).as("pin"))
        // no-outgoing types keep their mass: left join falls back to pi
        val dangling = pi.join(totals, pi("type") === totals("from_type"), "left_anti")
          .select(col("type").as("type2"), col("pi").as("pin"))
        // A SINK type (inflow but no outgoing steps) appears in BOTH
        // stepped and dangling — its new mass is held + received, so the
        // union is re-aggregated per type before the join (a bare union
        // would carry two rows per sink type, one extra per round,
        // breaking the one-row-per-type contract)
        val merged = stepped.unionByName(dangling)
          .groupBy("type2").agg(sum(col("pin")).as("pin"))
        types.join(merged, col("type") === col("type2"), "left")
          .select(col("type"), coalesce(col("pin"), lit(0L)).as("pi"))
      }.select(col("type").as("event_type"), col("pi").as("pi_ppm"))
    }.orderBy("event_type")
  }

  /** The rounds of [[markovStationary]] on the driver, over the
    * collected types (null included) and (from_type, to_type, n)
    * count rows: the distributed rounds' exact Long arithmetic, with
    * ANSI's overflow error. A null type matches no join key, so from
    * the first round on it holds 0 and mass stepping into it is lost,
    * as in the distributed left join. */
  private def markovRounds(types: Array[Any], matrix: Array[Row],
      rounds: Int): Seq[(Any, Long)] = {
    val totals = matrix.groupMapReduce(_.get(0))(_.getLong(2))(Math.addExact)
    var pi: Map[Any, Long] =
      types.map(_ -> 1000000L / math.max(types.length, 1).toLong).toMap
    for (_ <- 1 to rounds) {
      val stepped = matrix.iterator.filter(r => pi.contains(r.get(0))).map { r =>
        r.get(1) -> Math.multiplyExact(pi(r.get(0)), r.getLong(2)) / totals(r.get(0))
      }
      val dangling = types.iterator.filterNot(totals.contains).map(t => t -> pi(t))
      val merged = (stepped ++ dangling).toSeq.groupMapReduce(_._1)(_._2)(Math.addExact)
      pi = types.map(t => t -> (if (t == null) 0L else merged.getOrElse(t, 0L))).toMap
    }
    types.toSeq.map(t => t -> pi(t))
  }

  /** Benford's-law first-digit audit over the value stream — the
    * classic fabricated-data / instrumentation-bug screen: the
    * distribution of leading significant digits of `value` (in exact
    * cents) against the Benford expectation log₁₀(1+1/d), both as
    * floor ppm. The expected ppm are compile-time integer literals
    * shared verbatim with the oracle SQL ([[BenfordPpm]]) so no
    * engine evaluates a logarithm. ONE map-side-combinable 9-key agg
    * — the 100 TB plan is a scan plus a 9-row shuffle. */
  def benford(events: DataFrame): DataFrame = {
    val expected = BenfordPpm.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (ppm, i)) => when(col("digit") === (i + 1), lit(ppm)).otherwise(acc)
    }
    // the 9-row histogram is checkpointed so the total rides it —
    // ONE corpus scan, never two (PlanAuditSpec gates it)
    val digits = events
      .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tot = digits.agg(sum(col("n")).as("total"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("(1000000 * n) div total").as("obs_ppm"),
        expected.as("benford_ppm"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("benford_ppm")))
      .orderBy("digit")
  }

  /** ⌊10⁶·log₁₀(1+1/d)⌋ for d = 1..9 — the Benford expectation as
    * frozen integer literals (both engines consume these constants;
    * neither computes the log). */
  val BenfordPpm: Seq[Long] =
    (1 to 9).map(d => math.floor(1e6 * math.log10(1.0 + 1.0 / d)).toLong)

  /** Day-of-week × hour-of-day activity heatmap — the load-profile /
    * anomaly-context operator. Both coordinates derive from epoch ms
    * by pure integer arithmetic (dow 0=Monday via (days+3) mod 7 —
    * 1970-01-01 was a Thursday; hour = (ms div 3600000) mod 24,
    * UTC), so no engine-specific calendar function can drift. Counts,
    * exact summed cents, and each cell's traffic share as floor ppm.
    * ONE map-side-combinable agg over ≤168 keys. */
  def calendarHeat(events: DataFrame): DataFrame = {
    val cells = events
      .select(unix_millis(col("ts")).as("ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .select(expr("((ms div 86400000) + 3) % 7").as("dow"),
        expr("(ms div 3600000) % 24").as("hour"), col("cents"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .localCheckpoint(true) // ≤168 rows; the share total rides it
    val tot = cells.agg(sum(col("n")).as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), col("n"), col("sum_cents"),
        expr("(1000000 * n) div total").as("share_ppm"))
      .orderBy("dow", "hour")
  }

  /** Weekly growth accounting — the standard active-user ledger
    * (new / retained / resurrected / churned) every growth dashboard
    * reconciles: for Monday-aligned integer weeks (wk =
    * (epoch_days+3) div 7 — pure arithmetic, no calendar function),
    * a user active in week w is NEW if it is their first-ever week,
    * RETAINED if also active in w−1, RESURRECTED otherwise; CHURNED
    * counts last week's actives who went silent (= active(w−1) −
    * retained(w), computed exactly from the same frames so the
    * ledger balances by construction). Plan: one distinct over
    * (user, wk), one per-user min, ONE self-join shifted by a week —
    * all user-keyed narrow shuffles; output is |weeks| rows. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val uw = events
      .select(col("user_id"),
        expr("((unix_millis(ts) div 86400000) + 3) div 7").as("wk"))
      .distinct()
      .localCheckpoint(true)
    val firstWk = uw.groupBy("user_id").agg(min(col("wk")).as("first_wk"))
    val prev = uw.select(col("user_id"), (col("wk") + 1).as("wk"),
      lit(1L).as("was_active"))
    val classed = uw
      .join(firstWk, "user_id")
      .join(prev, Seq("user_id", "wk"), "left")
      .select(col("wk"),
        when(col("first_wk") === col("wk"), lit("new"))
          .when(col("was_active") === 1, lit("retained"))
          .otherwise(lit("resurrected")).as("cls"))
      .groupBy("wk")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
      .localCheckpoint(true)
    val prevActive = uw.groupBy(col("wk")).agg(count(lit(1)).as("prev_active"))
      .select((col("wk") + 1).as("wk"), col("prev_active"))
    classed.join(prevActive, Seq("wk"), "left")
      .select(col("wk"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        (coalesce(col("prev_active"), lit(0L)) - col("n_retained"))
          .as("n_churned"))
      .orderBy("wk")
  }

  /** Seasonality-adjusted hour anomalies — the operational twin of
    * [[calendarHeat]]: each CONCRETE hour's event count is compared
    * to the mean of its own (dow, hour-of-day) cell (the seasonal
    * baseline), and hours at ≥ `ratioPpm` of baseline are flagged —
    * "this Tuesday 14:00 is 3× a normal Tuesday 14:00", which a
    * global z-score (E13) can't see through weekly rhythm. Exact
    * integers end-to-end: ratio = ⌊10⁶·n·occurrences / cellTotal⌋;
    * the TOP-`k` hours by (ratio desc, hr asc) are reported — a
    * fixed threshold returns nothing on healthy traffic, while the
    * worst-k ranking is always a meaningful watchlist. Two narrow
    * aggs (concrete-hour, cell) + a broadcast-sized join — the cell
    * frame is ≤168 rows. */
  def hourAnomalies(events: DataFrame, k: Int = 20): DataFrame = {
    val hours = events
      .select(unix_millis(col("ts")).as("ms"))
      .select(expr("ms div 3600000").as("hr"))
      .groupBy("hr").agg(count(lit(1)).as("n"))
      .select(col("hr"), col("n"),
        expr("((hr div 24) + 3) % 7").as("dow"),
        expr("hr % 24").as("hod"))
      .localCheckpoint(true)
    val cells = hours.groupBy("dow", "hod")
      .agg(sum(col("n")).as("cell_total"), count(lit(1)).as("occurrences"))
    hours.join(broadcast(cells), Seq("dow", "hod"))
      .select(col("hr"), col("dow"), col("hod"), col("n"),
        expr("cell_total div occurrences").as("baseline"),
        expr("(1000000 * n * occurrences) div cell_total").as("ratio_ppm"))
      .orderBy(col("ratio_ppm").desc, col("hr"))
      .limit(k)
  }

  /** Cohort LTV triangle — the revenue companion to the retention
    * triangle (E21): users grouped by FIRST-active week, each later
    * week's purchase revenue (exact cents) attributed to (cohort,
    * offset), with the running cumulative — the payback-curve frame
    * a growth model is calibrated on. One per-user min, one join
    * back to events, one (cohort, offset) agg; the cumulative
    * window runs on the triangle (weeks², tiny), never the events. */
  def cohortLtv(events: DataFrame): DataFrame = {
    val wk = expr("((unix_millis(ts) div 86400000) + 3) div 7")
    val firstWk = events
      .select(col("user_id"), wk.as("wk"))
      .groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val tri = events
      .select(col("user_id"), wk.as("wk"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)
          .as("cents"))
      .join(firstWk, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_offset"))
      .agg(count_distinct(col("user_id")).as("n_active"),
        sum(col("cents")).as("rev_cents"))
    tri.withColumn("cum_rev_cents",
        sum(col("rev_cents")).over(Window.partitionBy("cohort_wk")
          .orderBy("wk_offset")))
      .orderBy("cohort_wk", "wk_offset")
  }

  /** Per-user tenure profile: first/last activity (epoch ms), whole
    * tenure days (floor), and activity density as exact ppm events
    * per active-window day (+1 so single-event users divide by one
    * day, not zero) — the retention-cohort denominator and churn
    * screen in one pass. ONE map-side-combinable user-keyed agg; all
    * integer arithmetic (unix_millis ≡ DuckDB epoch_ms). */
  def userTenure(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        min("ms").as("first_ms"), max("ms").as("last_ms"))
      .select(col("user_id"), col("n_events"), col("first_ms"), col("last_ms"),
        expr("(last_ms - first_ms) div 86400000").as("tenure_days"),
        expr("""(1000000 * n_events) div
             ((last_ms - first_ms) div 86400000 + 1)""").as("per_day_ppm"))
      .orderBy("user_id")
}
