package graft.profiles

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Temporal profile machinery — reference emiproc/profiles/temporal/.
  *
  * The reference's "window functions": mapping timestamps into cyclic
  * profile positions (T1, operators.py:49-94), composing scaling factors
  * across profile kinds as a product (T2, :97-149), and the temporal
  * explode that turns annual totals into time series (T3,
  * exports/utils.py:13-156). All pure Column arithmetic + joins — the
  * profile tables broadcast, the explode is a map-side join against a
  * `sequence()` time spine, and the only shuffle is an optional final
  * groupBy(time).
  */
object Temporal {

  /** T1 — index of a timestamp inside each cyclic profile kind
    * (reference emiproc/profiles/temporal/operators.py:49-94).
    * Day-of-week is Monday=0 like pandas `.dt.dayofweek`. */
  def month0(ts: Column): Column = month(ts) - 1
  def dayOfYear0(ts: Column): Column = dayofyear(ts) - 1
  def hourOfDay(ts: Column): Column = hour(ts)
  def dayOfWeek0(ts: Column): Column = (dayofweek(ts) + 5) % 7
  def hourOfYear(ts: Column): Column = dayOfYear0(ts) * 24 + hour(ts)
  def hourOfWeek(ts: Column): Column = dayOfWeek0(ts) * 24 + hour(ts)
  def hour3OfDay(ts: Column): Column = floor(hour(ts) / 3).cast("int")

  /** All T1 indexes as named columns for a timestamp column. */
  def timeIndexes(ts: Column): Seq[(String, Column)] = Seq(
    "month0" -> month0(ts),
    "day_of_year0" -> dayOfYear0(ts),
    "hour_of_day" -> hourOfDay(ts),
    "day_of_week0" -> dayOfWeek0(ts),
    "hour_of_year" -> hourOfYear(ts),
    "hour_of_week" -> hourOfWeek(ts),
    "hour3_of_day" -> hour3OfDay(ts))

  /** T2 — composite scaling factors over an hour-of-week cycle from a
    * daily (24) and weekly (7) profile pair: the product across kinds
    * with each kind's factor = ratio × kind size (reference
    * emiproc/profiles/temporal/operators.py:97-149 and composite
    * product semantics, temporal/composite.py:178-204).
    *
    * `daily(pos, ratio)`, `weekly(pos, ratio)` →
    * `(hour_of_week, sf)` with sf = (daily_ratio·24)·(weekly_ratio·7). */
  def hourOfWeekScalingFactors(
      spark: SparkSession,
      daily: DataFrame,
      weekly: DataFrame): DataFrame = {
    val spine = spark.range(168).select(col("id").cast("int").as("hour_of_week"))
    val d = daily.select(col("pos").as("h"), (col("ratio") * 24.0).as("sf_d"))
    val w = weekly.select(col("pos").as("dw"), (col("ratio") * 7.0).as("sf_w"))
    spine
      .join(broadcast(d), pmod(col("hour_of_week"), lit(24)) === col("h"))
      .join(broadcast(w), (col("hour_of_week") / 24).cast("int") === col("dw"))
      .select(col("hour_of_week"), (col("sf_d") * col("sf_w")).as("sf"))
  }

  /** Profile-kind catalog: cyclic size per kind (reference
    * emiproc/profiles/temporal/profiles.py: DailyProfile 24,
    * WeeklyProfile 7, MounthsProfile 12, Hour3OfDay 8, DayOfYear 365,
    * HourOfYear 8760 — leap variants 366/8784 exist in the reference;
    * pass a leap-sized profile and the product works unchanged since the
    * factor is ratio × size of the PROFILE's kind). */
  val kindSizes: Map[String, Int] = Map(
    "month" -> 12,
    "day_of_week" -> 7,
    "hour_of_day" -> 24,
    "hour3_of_day" -> 8,
    // 8 three-hour slots × 12 months — the reference's Hour3OfDayPerMonth
    // (profiles.py), the GFED4 diurnal-cycle layout (gfed.py:232-268)
    "hour3_of_day_per_month" -> 96,
    "hour_of_week" -> 168,
    // 168 hours-of-week × 12 months — the reference's HourOfWeekPerMonth
    // (profiles.py:23-267), position = hour + 24·dow + 168·(month−1)
    "hour_of_week_per_month" -> 2016,
    "day_of_year" -> 365,
    "hour_of_year" -> 8760)

  /** Position of a timestamp inside a named kind's cycle. */
  def kindPos(kind: String, ts: Column): Column = kind match {
    case "month" => month0(ts)
    case "day_of_week" => dayOfWeek0(ts)
    case "hour_of_day" => hourOfDay(ts)
    case "hour3_of_day" => hour3OfDay(ts)
    case "hour3_of_day_per_month" => month0(ts) * 8 + hour3OfDay(ts)
    case "hour_of_week" => hourOfWeek(ts)
    case "hour_of_week_per_month" => month0(ts) * 168 + hourOfWeek(ts)
    case "day_of_year" => dayOfYear0(ts)
    case "hour_of_year" => hourOfYear(ts)
    case other => throw new IllegalArgumentException(s"unknown kind: $other")
  }

  /** Scalar twin of [[kindPos]] for driver-side per-hour loops (the
    * single-file NetCDF sinks iterate hours on the driver): position of
    * a JVM LocalDateTime inside a named kind's cycle, same Monday=0
    * convention. Kept in lockstep with [[kindPos]] by TemporalSpec. */
  def kindPosScalar(kind: String, t: java.time.LocalDateTime): Int = {
    val dow0 = t.getDayOfWeek.getValue - 1 // java Monday=1 → pandas Monday=0
    val how = dow0 * 24 + t.getHour
    kind match {
      case "month" => t.getMonthValue - 1
      case "day_of_week" => dow0
      case "hour_of_day" => t.getHour
      case "hour3_of_day" => t.getHour / 3
      case "hour3_of_day_per_month" => (t.getMonthValue - 1) * 8 + t.getHour / 3
      case "hour_of_week" => how
      case "hour_of_week_per_month" => (t.getMonthValue - 1) * 168 + how
      case "day_of_year" => t.getDayOfYear - 1
      case "hour_of_year" => (t.getDayOfYear - 1) * 24 + t.getHour
      case other => throw new IllegalArgumentException(s"unknown kind: $other")
    }
  }

  /** SpecificDay name → pandas day numbers, Monday = 0 (reference
    * emiproc/profiles/temporal/specific_days.py:5-98: the 7 day names
    * plus the WEEKDAY (Mon–Fri), WEEKDAY_4 (Mon–Thu) and WEEKEND
    * (Sat–Sun) groups). Callers expand a grouped SpecificDayProfile into
    * the per-dow rows [[compositeScalingFactors]]'s `specificDaily`
    * table expects. */
  def specificDays(name: String): Seq[Int] = name.toLowerCase match {
    case "monday" => Seq(0)
    case "tuesday" => Seq(1)
    case "wednesday" => Seq(2)
    case "thursday" => Seq(3)
    case "friday" => Seq(4)
    case "saturday" => Seq(5)
    case "sunday" => Seq(6)
    case "weekday" => 0 to 4
    case "weekday_4" => 0 to 3
    case "weekend" => Seq(5, 6)
    case other =>
      throw new IllegalArgumentException(s"unknown specific day: $other")
  }

  /** T2 (general form) + T4 — composite scaling factors over an ARBITRARY
    * kind set with missing-kind = 1.0 product semantics (reference
    * `get_scaling_factors_at_time`, emiproc/profiles/temporal/
    * operators.py:446-499: per sub-profile index lookup, missing index →
    * 1.0, `.prod(dim="sub_profile")`), evaluated in LOCAL time (T4,
    * `create_scaling_factors_time_serie` `:443-520`: UTC spine converted
    * to the local tz before indexing).
    *
    * `kinds` maps kind name → profile `(pos, ratio)`; each present
    * position contributes ratio × kindSize, absent positions contribute
    * 1.0. `specificDaily(dow, pos, ratio)` overrides the `hour_of_day`
    * profile on specific weekdays — the reference's SpecificDayProfile
    * rule (`ensure_specific_days_consistency`, operators.py:345-437).
    * Local time is either a fixed `tzShiftHours` offset (engine-portable)
    * or a real zone via `localTz` (JVM tz database; Spark-side only).
    *
    * Plan: one `range(hours)` spine, one broadcast left join per kind —
    * no shuffle; the spine never exceeds one year of hours. */
  def compositeScalingFactors(
      spark: SparkSession,
      startTs: String,
      hours: Int,
      kinds: Seq[(String, DataFrame)],
      tzShiftHours: Int = 0,
      specificDaily: Option[DataFrame] = None,
      localTz: Option[String] = None): DataFrame = {
    var df = spark.range(hours)
      .select(col("id").cast("int").as("h"))
      .withColumn("_uts",
        expr(s"timestampadd(HOUR, h, to_timestamp('$startTs'))"))
      .withColumn("_lts", localTz
        .map(tz => from_utc_timestamp(col("_uts"), tz))
        .getOrElse(expr(s"timestampadd(HOUR, $tzShiftHours, _uts)")))
    specificDaily.foreach { sd =>
      df = df.join(
        broadcast(sd.select(col("dow").as("_sd_dow"), col("pos").as("_sd_pos"),
          col("ratio").as("_sd_r"))),
        dayOfWeek0(col("_lts")) === col("_sd_dow") &&
          hourOfDay(col("_lts")) === col("_sd_pos"), "left")
    }
    var sf: Column = null
    kinds.foreach { case (kind, prof) =>
      val size = kindSizes(kind).toDouble
      val rc = s"_r_$kind"
      df = df.join(
        broadcast(prof.select(col("pos").as(s"_p_$kind"), col("ratio").as(rc))),
        kindPos(kind, col("_lts")) === col(s"_p_$kind"), "left")
      val c =
        if (kind == "hour_of_day" && specificDaily.nonEmpty)
          coalesce(col("_sd_r") * size, col(rc) * size, lit(1.0))
        else
          coalesce(col(rc) * size, lit(1.0))
      sf = if (sf == null) c else sf * c
    }
    df.select(col("h"), sf.as("sf"))
  }

  /** T3 — the temporal explode: emissions × hourly time spine × profile
    * scaling factor (reference emiproc/exports/utils.py:13-156
    * `get_temporally_scaled_array`). Missing profile → factor 1.0.
    * The spine is `explode(sequence(...))` — fully declarative, the
    * factor join is broadcast, and the fact table is touched once. */
  def temporalExplode(
      emissions: DataFrame,
      scalingFactors: DataFrame, // (category, substance, hour_of_day, sf)
      startTs: String,
      hours: Int): DataFrame =
    emissions
      .select(col("*"), hourSpine(startTs, hours))
      .withColumn("hour_of_day", hourOfDay(col("ts")))
      .join(broadcast(scalingFactors), Seq("category", "substance", "hour_of_day"), "left")
      .select(
        col("cell_id"), col("category"), col("substance"),
        tsStr(col("ts")).as("ts_str"),
        (col("value") * coalesce(col("sf"), lit(1.0))).as("value"))

  /** The time spine of [[temporalExplode]], a generator of the
    * [[hourSeq]] instants `ts`. */
  private[graft] def hourSpine(startTs: String, hours: Int): Column =
    explode(hourSeq(startTs, hours)).as("ts")

  /** The hourly instants of [[temporalExplode]] as one array: from
    * `startTs`, read in the session time zone, to `startTs + INTERVAL
    * (hours − 1) HOURS`. Shared with callers that must reproduce the
    * explode's hours exactly. */
  private[graft] def hourSeq(startTs: String, hours: Int): Column =
    sequence(
      to_timestamp(lit(startTs)),
      to_timestamp(lit(startTs)) + expr(s"INTERVAL ${hours - 1} HOURS"),
      expr("INTERVAL 1 HOUR"))

  /** `ts_str` of [[temporalExplode]]: the session-zone wall-clock hour. */
  private[graft] def tsStr(ts: Column): Column = date_format(ts, "yyyy-MM-dd HH:mm:ss")

  /** T5 — piecewise-linear interpolation of monthly anchor values to a
    * daily curve (reference emiproc/profiles/temporal/operators.py:238-338
    * `interpolate_profiles`): anchors sit at day (m-1)·30+15 of a 360-day
    * year; days before the first / after the last anchor hold constant.
    * `monthly(month, v)` (month 1..12) → `(day, y)`. */
  def interpolateMonthlyToDaily(spark: SparkSession, monthly: DataFrame): DataFrame = {
    val days = spark.range(360).select(col("id").cast("int").as("day"))
    // floor((day-15)/30): exact for these int/30.0 ratios, clamped to [0,10]
    val k = least(lit(10), greatest(lit(0),
      floor((col("day") - 15) / 30.0).cast("int")))
    val a0 = monthly.select(col("month").as("m0"), col("v").as("v0"))
    val a1 = monthly.select(col("month").as("m1"), col("v").as("v1"))
    days
      .withColumn("k", k)
      .join(broadcast(a0), col("m0") === col("k") + 1)
      .join(broadcast(a1), col("m1") === col("k") + 2)
      .withColumn("d0", col("k") * 30 + 15)
      .withColumn("y",
        when(col("day") < 15, col("v0"))
          .when(col("day") >= 345, col("v1"))
          .otherwise(
            col("v0") + (col("v1") - col("v0")) * ((col("day") - col("d0")) / 30.0)))
      .select(col("day"), col("y"))
  }

  /** T5 (general form) — piecewise-linear interpolation of per-profile
    * anchor points onto an hourly spine via the as-of window pattern
    * (reference emiproc/profiles/temporal/operators.py:238-338
    * `interpolate_profiles`: anchors at period midpoints, linear interp,
    * constant extrapolation at the ends). `anchors(profile_id, h, v)` →
    * `(profile_id, h, y)` for h in [0, hours).
    *
    * Scale note: windows partition by profile_id (one profile's spine is
    * at most 8784 rows — bounded), so the sort never concentrates the
    * whole dataset on one partition. */
  def interpolateAnchorsToHourly(
      spark: SparkSession,
      anchors: DataFrame,
      hours: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spine = anchors.select("profile_id").distinct()
      .crossJoin(spark.range(hours).select(col("id").cast("double").as("h")))
      .withColumn("v", lit(null).cast("double"))
      .withColumn("is_spine", lit(1))
    val a = anchors.select(
      col("profile_id"), col("h").cast("double"),
      col("v").cast("double"), lit(0).as("is_spine"))
    val u = a.unionByName(spine)
    val w = Window.partitionBy("profile_id").orderBy(col("h"), col("is_spine"))
    val back = w.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = w.rowsBetween(0, Window.unboundedFollowing)
    val anchorH = when(col("v").isNotNull, col("h"))
    u
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("ph", last(anchorH, ignoreNulls = true).over(back))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("nh", first(anchorH, ignoreNulls = true).over(fwd))
      .where(col("is_spine") === 1)
      .select(
        col("profile_id"), col("h"),
        when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .when(col("ph") === col("nh"), col("pv"))
          .otherwise(col("pv") +
            (col("nv") - col("pv")) * ((col("h") - col("ph")) / (col("nh") - col("ph"))))
          .as("y"))
  }

  /** T7 — leap-year profile selection (reference
    * emiproc/profiles/temporal/profiles.py:277-284): the reference checks
    * `year % 4` ONLY — intentionally ignoring the 100/400 Gregorian rule
    * at this call-site (unlike `get_day_per_year`,
    * emiproc/utilities.py:38-46); we replicate the documented behavior. */
  def isLeapRef(year: Column): Column = year % 4 === 0

  /** The reference's `get_day_per_year` (emiproc/utilities.py:38-46):
    * the FULL Gregorian rule — 366 iff `year % 4 == 0 && (year % 100 !=
    * 0 || year % 400 == 0)`, else 365 (the `year = None → 365.25` branch
    * is the caller's concern). Kept separate from [[isLeapRef]], which
    * deliberately replicates the profile code path's %4-only check. */
  def dayPerYear(year: Column): Column =
    when(year % 4 === 0 && (year % 100 =!= 0 || year % 400 === 0),
      lit(366)).otherwise(lit(365))

  /** T6 — fold the `day_type` dimension into hour-of-week factors
    * (reference emiproc/profiles/temporal/operators.py:345-437
    * `resolve_daytype`): each hour of the week selects the profile row of
    * its day type (weekday / saturday / sunday) at its hour-of-day, scaled
    * by the kind size 24. `profiles(day_type, pos, ratio)`. */
  def resolveDayType(spark: SparkSession, profiles: DataFrame): DataFrame = {
    val spine = spark.range(168).select(col("id").cast("int").as("hour_of_week"))
    val dow = expr("hour_of_week div 24")
    spine
      .withColumn("day_type",
        when(dow <= 4, "weekday").when(dow === 5, "saturday").otherwise("sunday"))
      .withColumn("pos", pmod(col("hour_of_week"), lit(24)))
      .join(broadcast(profiles), Seq("day_type", "pos"))
      .select(col("hour_of_week"), col("day_type"), (col("ratio") * 24.0).as("sf"))
  }

  /** T8 (full form) — the reference's complete HDD scaling-factor serie
    * (emiproc/profiles/hdd.py:9-115 `create_HDD_scaling_factor`):
    *
    *  1. daily mean temperature; HDD = (T_inside − T_mean) ONLY when
    *     heating is active (T_mean < T_min), else 0 (hdd.py:61-63);
    *  2. normalized by the YEARLY MEAN of HDD (hdd.py:65-71);
    *  3. forward-filled onto the hourly spine (hdd.py:73-81 — the
    *     reindex+ffill; here the as-of union+last-ignore-nulls window,
    *     same shape as Events.asofJoin; DuckDB expresses it as ASOF JOIN);
    *  4. blended with the hourly heating and domestic-hot-water
    *     profiles: sf = (1 − f_DHW)·a_HDD·heat + f_DHW·dhw (hdd.py:83-90),
    *     profiles evaluated in LOCAL time (tz offset).
    *
    * Aggregates of arbitrary doubles are rounded to 6 dp on both engines
    * before reuse so hash compares cannot drift on summation order. The
    * ffill window is a single global sort over (hours + days) rows —
    * bounded by the requested spine, never the fact table. */
  def hddHourlyBlend(
      events: DataFrame,
      heating: DataFrame, // (pos, ratio) hour-of-day profile
      dhw: DataFrame, // (pos, ratio) hour-of-day profile
      hours: Int,
      tzShiftHours: Int = 0,
      minHeatingT: Double = 200.0,
      insideT: Double = 220.0,
      dhwScaling: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(round(avg("value"), 6).as("t_mean"))
      .withColumn("hdd",
        when(col("t_mean") < minHeatingT, lit(insideT) - col("t_mean"))
          .otherwise(lit(0.0)))
      .withColumn("yr", year(col("day")))
    val ym = daily.groupBy("yr").agg(round(avg("hdd"), 6).as("ym"))
    val aDaily = daily.join(broadcast(ym), "yr")
      .select(col("day").as("ts"), round(col("hdd") / col("ym"), 6).as("a_hdd"),
        lit(0).as("is_spine"))
    val spine = events
      .agg(date_trunc("day", min("ts")).as("start0"))
      .select(explode(sequence(
        col("start0"),
        col("start0") + expr(s"INTERVAL ${hours - 1} HOURS"),
        expr("INTERVAL 1 HOUR"))).as("ts"))
      .withColumn("sday", date_trunc("day", col("ts")))
    // as-of forward fill WITHOUT a global window: the daily table is
    // bounded (one row per day of the event span), so the day → last
    // known a_hdd map is a broadcast range join + max_by over days —
    // every hour then equi-joins its day. Same semantics as sorting
    // (ts, is_spine) and last(ignoreNulls): a day's own value wins from
    // hour 00 on, missing days carry the previous day, leading hours
    // with no prior day get null.
    val dayAsof = spine.select("sday").distinct()
      .join(broadcast(aDaily.select(col("ts").as("_aday"), col("a_hdd"))),
        col("_aday") <= col("sday"), "left")
      .groupBy("sday")
      .agg(max_by(col("a_hdd"), col("_aday")).as("a"))
    val ffilled = spine.join(broadcast(dayAsof), "sday")
    val lh = hour(expr(s"timestampadd(HOUR, $tzShiftHours, ts)"))
    ffilled
      .join(broadcast(heating.select(col("pos").as("_hp"),
        (col("ratio") * 24.0).as("hsf"))), lh === col("_hp"))
      .join(broadcast(dhw.select(col("pos").as("_dp"),
        (col("ratio") * 24.0).as("dsf"))), lh === col("_dp"))
      .select(
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        (lit(1.0 - dhwScaling) * (col("a") * col("hsf")) +
          lit(dhwScaling) * col("dsf")).as("sf"))
  }

  /** T8 (simple form) — heating-degree-day scaling (reference
    * emiproc/profiles/hdd.py:9-115): daily mean driver value →
    * HDD = max(0, threshold − mean), normalized by the total over the
    * period. Aggregates of arbitrary doubles are rounded to 6 dp on both
    * engines so the hash compare cannot drift on summation order. */
  def hddScaling(events: DataFrame, threshold: Double = 200.0): DataFrame = {
    val daily = events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(round(avg("value"), 6).as("t_mean"))
      .withColumn("hdd", greatest(lit(0.0), lit(threshold) - col("t_mean")))
    val total = daily.agg(round(sum("hdd"), 6).as("hdd_total"))
    daily
      .crossJoin(broadcast(total))
      .select(col("day"), col("t_mean"), col("hdd"),
        round(col("hdd") / col("hdd_total"), 9).as("hdd_ratio"))
  }
}
