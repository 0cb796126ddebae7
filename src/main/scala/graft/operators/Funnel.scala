package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** User-journey analytics over the event stream — the product side of
  * the reference's event pipeline (the web_api/admin views aggregate
  * per-user activity; these are the two classic questions asked of
  * that activity at scale).
  *
  * Both operators are pure counting — no float folds anywhere except
  * one final rounded division — so oracle parity is structural.
  */
object Funnel {

  /** Exact integer `div` of a timestamp column's epoch-microseconds,
    * with the caller-supplied column name backtick-quoted so names
    * needing escaping (spaces, dots, hyphens) parse and resolve like
    * the `col()`-based handling elsewhere in this file. */
  private def epochDiv(tsCol: String, unitMicros: Long) = {
    val quoted = "`" + tsCol.replace("`", "``") + "`"
    expr(s"unix_micros($quoted) div $unitMicros")
  }

  /** Ordered funnel conversion: step i counts users whose FIRST
    * step-i event happens strictly after their first step-(i-1)
    * event (the classic "view → click → purchase within order"
    * definition, unbounded horizon).
    *
    * Scale shape: one filtered scan + (user) aggregate per step, each
    * joined user-to-user with the previous stage — co-partitioned
    * shuffles on the natural high-cardinality key, never a window
    * over the event stream. Stage totals are single-row aggregates
    * assembled by union; the conversion join is over #steps rows.
    *
    * Returns (stage_idx, stage, n_users, conv) with conv =
    * n_users / previous stage's n_users (1.0 for the first). */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // per-stage (user, first-qualifying-ts) frames, built sequentially
    val stageFrames = steps.foldLeft(Seq.empty[DataFrame]) {
      case (acc, step) =>
        val mine = events.filter(col(typeCol) === step)
        val staged = acc.lastOption match {
          case None => mine.groupBy(col(userCol)).agg(min(col(tsCol)).as("t"))
          case Some(prev) =>
            mine.join(prev.select(col(userCol), col("t").as("prev_t")), userCol)
              .filter(col(tsCol) > col("prev_t"))
              .groupBy(col(userCol)).agg(min(col(tsCol)).as("t"))
        }
        acc :+ staged
    }
    val counts = stageFrames.zip(steps).zipWithIndex.map { case ((df, step), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).cast("long").as("stage_idx"),
          lit(s"${i + 1}_$step").as("stage"), col("n_users"))
    }.reduce(_.union(_))
    // conversion from the previous stage: a #steps-row self-join,
    // never a global window
    val prev = counts.select((col("stage_idx") + 1).as("stage_idx"),
      col("n_users").as("prev_n"))
    counts.join(prev, Seq("stage_idx"), "left")
      .select(col("stage_idx"), col("stage"), col("n_users"),
        round(col("n_users").cast("double") /
          coalesce(col("prev_n"), col("n_users")).cast("double"), 4).as("conv"))
      .orderBy(col("stage_idx"))
  }

  /** Hourly event-rate anomaly detection — the alerting half of the
    * reference's admin metrics (1h invocation/error windows,
    * admin_lambda.py get_lambda_summaries): per event type, each
    * hour's count is z-scored against the trailing `lookback` full
    * hours, and |z| ≥ `zThresh` rows are flagged.
    *
    * Engine-exact: the rolling mean/std come from ROWS-frame sums of
    * INTEGER counts (exact in any engine), so the only float ops are
    * the final mean/variance/sqrt/z expressions — single IEEE ops
    * replayed identically by the oracle. Scale shape: one (type,
    * hour) pre-aggregation (map-side combined), then a window whose
    * partitions are event types ordered by hour — bounded rows per
    * partition (hours, not events); the raw stream never meets the
    * window.
    *
    * Returns flagged rows only: (event_type, hour_start, n, mean24,
    * z) with mean/z rounded to 4. */
  def rateAnomalies(events: DataFrame, typeCol: String, tsCol: String,
                    lookback: Int = 24, zThresh: Double = 3.0): DataFrame =
    anomaliesFromHourly(
      events.groupBy(col(typeCol).as("event_type"),
          epochDiv(tsCol, 3600000000L).as("hour"))
        .agg(count(lit(1)).as("n")),
      lookback, zThresh)

  /** The z-score half of [[rateAnomalies]] over an ALREADY-hourly
    * (event_type, hour, n) frame — shared by the batch operator and
    * the streaming alerting loop, where the hourly counts come from a
    * watermarked window aggregate materialized by
    * [[graft.streaming.MergeIngest.latestSink]] (update-mode counts
    * are monotone per window, so last-writer-wins by n keeps the
    * latest). */
  def anomaliesFromHourly(hourly: DataFrame,
                          lookback: Int = 24, zThresh: Double = 3.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-lookback, -1)
    hourly
      .withColumn("k", count(col("n")).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .filter(col("k") === lookback) // full trailing windows only
      .withColumn("mean", col("s1").cast("double") / col("k").cast("double"))
      .withColumn("variance",
        col("s2").cast("double") / col("k").cast("double") - col("mean") * col("mean"))
      .filter(col("variance") > 0.0)
      .withColumn("z",
        (col("n").cast("double") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) >= zThresh)
      .select(col("event_type"), col("hour").as("hour_start"), col("n"),
        round(col("mean"), 4).as("mean24"), round(col("z"), 4).as("z"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /** Robust per-group location/spread: exact median and MAD (median
    * absolute deviation) — the outlier-resistant complement to the
    * moment-based z-scores of [[rateAnomalies]] (one wild value moves
    * a mean arbitrarily; it moves a median by at most one rank).
    *
    * Medians are SELECTIONS, not folds — the lower median is the row
    * ranked (n+1)/2 under the deterministic (value, id) order — so
    * the result is engine-exact with no float-order discipline
    * needed; the only arithmetic is the |x − med| subtraction.
    *
    * Scale shape: two rank-selection passes per group (the q17 exact-
    * percentile shape — exactness demanded, each group's rows sort on
    * one reducer; the sketch-based alternative is q69). Group counts
    * re-enter as broadcasts.
    *
    * Returns (group, n, median, mad). */
  def medianMad(df: DataFrame, groupCol: String, valueCol: String,
                idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def lowerMedian(in: DataFrame, v: String, as: String): DataFrame = {
      val w = Window.partitionBy(col(groupCol)).orderBy(col(v), col(idCol))
      val counts = in.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      in.withColumn("__rn", row_number().over(w))
        .join(broadcast(counts), groupCol)
        .filter(col("__rn") === expr("(__n + 1) div 2")) // integer division
        .select(col(groupCol), col("__n").as("n"), col(v).as(as))
    }
    val med = lowerMedian(df.select(col(groupCol), col(valueCol), col(idCol)),
      valueCol, "median")
    val dev = df.join(broadcast(med.select(col(groupCol), col("median"))), groupCol)
      .withColumn("__absdev", abs(col(valueCol) - col("median")))
    lowerMedian(dev, "__absdev", "mad")
      .select(col(groupCol), col("mad"))
      .join(med, groupCol)
      .select(col(groupCol), col("n"), col("median"), col("mad"))
      .orderBy(col(groupCol))
  }

  /** [[medianMad]]'s SCALE PATH — exact selection without the full
    * per-group sort (the q24/q54 pairing pattern: same output, proved
    * by the shared oracle; the baseline stays registered as the A/B
    * reference). The baseline's two `row_number` windows sort EVERY
    * row of every group twice — the ×4.7 line in BENCH_SCALING. A
    * rank-k selection doesn't need a sort, it needs to FIND the row:
    *
    *  1. histogram pass — bucket each value by range-quantized
    *     arithmetic (monotone in the value, so equal values share a
    *     bucket and bucket order is value order; nulls → bucket -1,
    *     matching the window's nulls-first default), count per
    *     (group, bucket), and cumulate counts per group over the
    *     ≤ `buckets` histogram rows (a bounded window, the Pack
    *     base-offset shape — never over data rows);
    *  2. the target bucket is the one whose cumulative range covers
    *     rank k = (n+1) div 2; broadcast the ≤ #groups winners;
    *  3. sort ONLY the target bucket's ~n/buckets rows (per-group
    *     window over the semi-joined slice) and take row
    *     k − cumBefore under the same (value, id) order.
    *
    * Two selections (median, then MAD over |x − median|) = two
    * histogram scans + two slice sorts, O(n) + O(n/buckets ·
    * log(n/buckets)) work per selection vs O(n log n) twice. The
    * all-values-equal group degenerates to one bucket and reverts to
    * the baseline's sort of that group — correct, just not faster.
    * Output is bit-identical to [[medianMad]] (selection returns the
    * ORIGINAL value; the bucketing arithmetic never reaches the
    * output), so q102 registers under q86's oracle SQL verbatim. */
  def medianMadBucketed(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String, buckets: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def select1(in: DataFrame, v: String, as: String): DataFrame = {
      val ranges = in.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"),
        min(col(v)).as("__lo"), max(col(v)).as("__hi"))
      val kCol = call_function("div", col("__n") + 1, lit(2L))
      val bucket = when(col(v).isNull, lit(-1L))
        .when(col("__hi") === col("__lo"), lit(0L))
        .otherwise(least(lit((buckets - 1).toLong), greatest(lit(0L),
          floor(((col(v) - col("__lo")) / (col("__hi") - col("__lo")))
            * lit(buckets.toDouble)).cast("long"))))
      val withB = in.join(broadcast(ranges), groupCol).withColumn("__b", bucket)
      val wHist = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val target = withB.groupBy(col(groupCol), col("__b"), col("__n"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__before", coalesce(sum(col("__c")).over(wHist), lit(0L)))
        .filter(col("__before") < kCol && kCol <= col("__before") + col("__c"))
        .select(col(groupCol), col("__b"), col("__before"), col("__n"))
      val wIn = Window.partitionBy(col(groupCol)).orderBy(col(v), col(idCol))
      withB.drop("__n")
        .join(broadcast(target), Seq(groupCol, "__b"))
        .withColumn("__rn", row_number().over(wIn))
        .filter(col("__rn") === kCol - col("__before"))
        .select(col(groupCol), col("__n").as("n"), col(v).as(as))
    }
    val med = select1(df.select(col(groupCol), col(valueCol), col(idCol)),
      valueCol, "median")
    val dev = df.join(broadcast(med.select(col(groupCol), col("median"))), groupCol)
      .withColumn("__absdev", abs(col(valueCol) - col("median")))
    select1(dev.select(col(groupCol), col("__absdev"), col(idCol)),
      "__absdev", "mad")
      .select(col(groupCol), col("mad"))
      .join(med, groupCol)
      .select(col(groupCol), col("n"), col("median"), col("mad"))
      .orderBy(col(groupCol))
  }

  /** Weekly cohort retention: users are cohorted by the week of their
    * first event; each (cohort_week, week_offset) cell counts how
    * many came back `offset` weeks later. Weeks are integer
    * microsecond-epoch division (604800e6 us) — no calendar
    * convention to disagree on across engines.
    *
    * Scale shape: one map-only week projection, one (user, week)
    * distinct, one co-partitioned join back on user, two bounded
    * aggregates; cohort sizes re-join as a broadcast (≤ #weeks rows).
    *
    * Returns (cohort_week, week_offset, n_active, n_cohort,
    * retention), retention rounded to 4. */
  def weeklyRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val week = epochDiv(tsCol, 604800000000L).as("week")
    val uw = events.select(col(userCol), week).distinct()
    val cohort = uw.groupBy(col(userCol)).agg(min(col("week")).as("w0"))
    val sizes = cohort.groupBy(col("w0")).agg(count(lit(1)).as("n_cohort"))
    uw.join(cohort, userCol) // (user, week) is distinct → cells count rows
      .groupBy(col("w0"), (col("week") - col("w0")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "w0")
      .select(col("w0").as("cohort_week"), col("week_offset"),
        col("n_active"), col("n_cohort"),
        round(col("n_active").cast("double") / col("n_cohort").cast("double"), 4)
          .as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }
}
