package graft

import org.apache.spark.sql.functions._
import graft.profiles.Temporal

class TemporalSpec extends SparkSpec {

  test("time indexes match pandas conventions on known timestamps") {
    // 2024-01-01 is a Monday; 2024-03-01 is day-of-year 61 (leap year)
    val df = spark.sql(
      """SELECT timestamp'2024-01-01 05:30:00' AS a,
        |       timestamp'2024-03-01 23:00:00' AS b""".stripMargin)
    val r = df.select(
      Temporal.dayOfWeek0(col("a")), Temporal.hourOfDay(col("a")),
      Temporal.month0(col("a")), Temporal.hour3OfDay(col("a")),
      Temporal.dayOfYear0(col("b")), Temporal.hourOfYear(col("b")),
      Temporal.hourOfWeek(col("a"))).collect()(0)
    assert(r.getInt(0) == 0) // Monday = 0
    assert(r.getInt(1) == 5)
    assert(r.getInt(2) == 0)
    assert(r.getInt(3) == 1) // hour 5 -> block 1
    assert(r.getInt(4) == 60) // 2024-03-01 is doy 61 -> 0-based 60
    assert(r.getInt(5) == 60 * 24 + 23)
    assert(r.getInt(6) == 5) // Monday 05h
  }

  test("kindPosScalar stays in lockstep with the kindPos column for every kind") {
    // spans: leap day, year end, midnight/noon, every month boundary
    val stamps = Seq(
      "2024-01-01 00:00:00", "2024-02-29 23:00:00", "2024-06-15 12:30:00",
      "2024-12-31 23:00:00", "2023-03-01 07:00:00", "2023-11-05 01:00:00")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    val df = spark.createDataFrame(stamps.map(Tuple1(_))).toDF("s")
      .withColumn("ts", to_timestamp(col("s")))
    Temporal.kindSizes.keys.foreach { kind =>
      val colVals = df.select(col("s"), Temporal.kindPos(kind, col("ts")))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      stamps.foreach { s =>
        val scalar = Temporal.kindPosScalar(kind, java.time.LocalDateTime.parse(s, fmt))
        assert(scalar == colVals(s), s"kind=$kind ts=$s")
      }
    }
  }

  test("hourOfWeekScalingFactors average to 1 for normalized profiles") {
    val daily = spark.range(24).select(
      col("id").cast("int").as("pos"), lit(1.0 / 24.0).as("ratio"))
    val weekly = spark.range(7).select(
      col("id").cast("int").as("pos"), lit(1.0 / 7.0).as("ratio"))
    val sf = Temporal.hourOfWeekScalingFactors(spark, daily, weekly).collect()
    assert(sf.length == 168)
    sf.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-12))
  }

  test("temporalExplode applies hourly factors; missing profile = 1.0") {
    val emi = spark.createDataFrame(Seq(
      (0L, "A", "F", 10.0), (0L, "B", "F", 10.0)))
      .toDF("cell_id", "category", "substance", "value")
    val sf = spark.createDataFrame(Seq(("A", "F", 0, 2.0), ("A", "F", 1, 0.5)))
      .toDF("category", "substance", "hour_of_day", "sf")
    val out = Temporal.temporalExplode(emi, sf, "2024-01-01 00:00:00", 2)
      .collect().map(r => (r.getString(1), r.getString(3)) -> r.getDouble(4)).toMap
    assert(out(("A", "2024-01-01 00:00:00")) == 20.0)
    assert(out(("A", "2024-01-01 01:00:00")) == 5.0)
    assert(out(("B", "2024-01-01 00:00:00")) == 10.0) // no profile -> 1.0
  }

  test("hourSeq steps `hours` instants from the start, across DST switches too") {
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    def micros(seq: org.apache.spark.sql.Column): Seq[Long] =
      spark.range(1).select(transform(seq, unix_micros(_))).collect()(0).getSeq[Long](0)
    try {
      // 2024-03-31 and 2024-10-27 switch Europe/Zurich; local interval
      // arithmetic gave 199 and 201 instants for these 200-hour windows
      Seq(("UTC", "2024-03-25 00:00:00", 200), ("UTC", "2023-01-01 00:00:00", 1),
        ("Europe/Zurich", "2024-03-25 00:00:00", 200),
        ("Europe/Zurich", "2024-10-21 00:00:00", 200)).foreach { case (zone, start, hours) =>
        spark.conf.set(key, zone)
        val t0 = java.time.LocalDateTime.parse(start.replace(' ', 'T'))
          .atZone(java.time.ZoneId.of(zone)).toInstant.toEpochMilli * 1000L
        val want = (0 until hours).map(i => t0 + i * 3600000000L)
        assert(micros(Temporal.hourSeq(start, hours)) == want, s"$zone $start")
        assert(micros(Temporal.hourInstants(to_timestamp(lit(start)), hours)) == want)
        // the export's hour keys: every instant keyed, one key per local hour
        val (tss, spine) = graft.sinks.Exports.hourKeys(spark, start, hours)
        assert(spine.size == hours)
        assert(tss.size == (if (start == "2024-10-21 00:00:00") hours - 1 else hours))
      }
    } finally spark.conf.set(key, saved)
  }

  test("monthly interpolation hits anchors at day m*30+15 and clamps ends") {
    val monthly = spark.range(12).select(
      (col("id") + 1).cast("int").as("month"),
      ((col("id") + 1) * 10).cast("int").as("v"))
    val out = Temporal.interpolateMonthlyToDaily(spark, monthly)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(out(15) == 10.0) // first anchor
    assert(out(45) == 20.0) // second anchor
    assert(out(30) == 15.0) // midpoint
    assert(out(0) == 10.0) // clamped before first anchor
    assert(out(359) == 120.0) // clamped after last anchor
  }

  test("anchor interpolation: exact at anchors, linear between, clamped ends") {
    val anchors = spark.createDataFrame(Seq(
      (1, 10.0, 10.0), (1, 20.0, 30.0), (2, 5.0, 100.0)))
      .toDF("profile_id", "h", "v")
    val out = Temporal.interpolateAnchorsToHourly(spark, anchors, hours = 30)
      .collect().map(r => (r.getInt(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(out((1, 10.0)) == 10.0)
    assert(out((1, 15.0)) == 20.0)
    assert(out((1, 20.0)) == 30.0)
    assert(out((1, 0.0)) == 10.0) // clamp before first anchor
    assert(out((1, 25.0)) == 30.0) // clamp after last
    assert(out((2, 29.0)) == 100.0) // single-anchor profile constant
  }

  test("hddScaling ratios sum to 1 over the period") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val out = Temporal.hddScaling(ev)
    val s = out.agg(sum("hdd_ratio")).collect()(0).getDouble(0)
    assert(math.abs(s - 1.0) < 1e-6)
  }

  test("compositeScalingFactors: missing kind positions contribute 1.0, " +
    "hour-of-week special case reproduced") {
    val daily = spark.range(24).select(
      col("id").cast("int").as("pos"), ((col("id") + 1) / lit(300.0)).as("ratio"))
    val weekly = spark.range(7).select(
      col("id").cast("int").as("pos"), ((col("id") + 1) / lit(28.0)).as("ratio"))
    // 2024-01-01 is a Monday: the first 168 hours = exactly one
    // hour-of-week cycle, so the general product must equal the
    // daily x weekly special case
    val general = Temporal.compositeScalingFactors(spark,
      "2024-01-01 00:00:00", 168,
      Seq("day_of_week" -> weekly, "hour_of_day" -> daily))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val special = Temporal.hourOfWeekScalingFactors(spark, daily, weekly)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    (0 until 168).foreach { h =>
      assert(math.abs(general(h) - special(h)) < 1e-12, s"hour $h")
    }
    // missing kind rows -> factor 1.0: empty month profile leaves the
    // product unchanged
    val emptyMonth = spark.range(0).select(
      col("id").cast("int").as("pos"), lit(1.0).as("ratio"))
    val withEmpty = Temporal.compositeScalingFactors(spark,
      "2024-01-01 00:00:00", 168,
      Seq("month" -> emptyMonth, "day_of_week" -> weekly, "hour_of_day" -> daily))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    (0 until 168).foreach { h =>
      assert(math.abs(withEmpty(h) - general(h)) < 1e-12)
    }
  }

  test("compositeScalingFactors real-tz path follows DST (T4 local time)") {
    val daily = spark.range(24).select(
      col("id").cast("int").as("pos"), (col("id") * 1.0).as("ratio"))
    // Europe/Zurich: 2024-03-31 DST jump, UTC+1 -> UTC+2
    val before = Temporal.compositeScalingFactors(spark,
      "2024-03-30 10:00:00", 1, Seq("hour_of_day" -> daily),
      localTz = Some("Europe/Zurich"))
      .collect()(0).getDouble(1)
    val after = Temporal.compositeScalingFactors(spark,
      "2024-03-31 10:00:00", 1, Seq("hour_of_day" -> daily),
      localTz = Some("Europe/Zurich"))
      .collect()(0).getDouble(1)
    // 10:00 UTC = 11:00 local before DST (ratio 11*24), 12:00 after
    assert(before == 11.0 * 24)
    assert(after == 12.0 * 24)
  }

  test("specificDays groups match the reference enum") {
    assert(Temporal.specificDays("monday") == Seq(0))
    assert(Temporal.specificDays("SUNDAY") == Seq(6))
    assert(Temporal.specificDays("weekday") == (0 to 4))
    assert(Temporal.specificDays("weekday_4") == (0 to 3))
    assert(Temporal.specificDays("weekend") == Seq(5, 6))
    intercept[IllegalArgumentException] { Temporal.specificDays("holiday") }
  }

  test("grouped specific-day profile overrides all its days in the composite") {
    // a WEEKEND-grouped daily override expands to dows 5 and 6
    val daily = spark.range(24).select(
      col("id").cast("int").as("pos"), lit(1.0 / 24.0).as("ratio"))
    val weekendRows = Temporal.specificDays("weekend")
    val sd = spark.createDataFrame(
      weekendRows.flatMap(d => (0 until 24).map(h => (d, h, 2.0 / 24.0))))
      .toDF("dow", "pos", "ratio")
    // 2023-01-07 Sat, 2023-01-08 Sun, 2023-01-09 Mon
    val sf = Temporal.compositeScalingFactors(spark,
      "2023-01-07 12:00:00", 49, Seq("hour_of_day" -> daily),
      specificDaily = Some(sd))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(sf(0) == 2.0) // Saturday noon: override
    assert(sf(24) == 2.0) // Sunday noon: override
    assert(sf(48) == 1.0) // Monday noon: base profile
  }

  test("hour_of_week kinds: position = hour + 24·dow (+ 168·month0)") {
    // 2023-02-15 was a Wednesday (dow0 = 2), month0 = 1
    val expectedHow = 2 * 24 + 13
    val expectedHowm = 1 * 168 + expectedHow
    val how = spark.range(168).select(
      col("id").cast("int").as("pos"), (col("id") * 1.0).as("ratio"))
    val howm = spark.range(2016).select(
      col("id").cast("int").as("pos"), (col("id") * 1.0).as("ratio"))
    val sf = Temporal.compositeScalingFactors(spark,
      "2023-02-15 13:00:00", 1,
      Seq("hour_of_week" -> how, "hour_of_week_per_month" -> howm))
      .collect()(0).getDouble(1)
    assert(sf == expectedHow * 168.0 * expectedHowm * 2016.0)
  }
}
