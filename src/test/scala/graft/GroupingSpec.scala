package graft

import graft.ops.Grouping
import org.apache.spark.sql.functions.col

class GroupingSpec extends SparkSpec {

  test("shipped CategoryGroups mappings: codes disjoint, official shapes") {
    import graft.model.CategoryGroups._
    // a source code must map to exactly one GNFR sector
    val chCodes = Ch2Gnfr.values.flatten.toSeq
    assert(chCodes.distinct.size == chCodes.size)
    assert(Ch2Gnfr.keySet == Tno2Gnfr.keySet) // both cover GNFR_A..L,R
    assert(Tno2Gnfr("GNFR_F") == Seq("F1", "F2", "F3", "F4"))
    assert(Tno2Gnfr("GNFR_R").isEmpty) // reference keeps the empty group
    assert(Ch2Gnfr("GNFR_A") == Seq("eipkv"))
    // the mapping drives groupCategories directly
    val emi = spark.createDataFrame(Seq(
      (0L, "evstr", "CO2", 1.0), (0L, "evzon", "CO2", 2.0),
      (0L, "eipkv", "CO2", 4.0))).toDF("cell_id", "category", "substance", "value")
    val out = Grouping.groupCategories(spark, emi, Ch2Gnfr)
      .collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    assert(out == Map("GNFR_F" -> 3.0, "GNFR_A" -> 4.0))
  }

  test("groupedTotals equals totals-of-groupCategories exactly") {
    val m = Map("gA" -> Seq("adf", "liku"), "gB" -> Seq("test"))
    val slow = Grouping.totals(Grouping.groupCategories(spark, basicInv, m))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val fused = Grouping.groupedTotals(spark, basicInv, m)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(fused == slow)
    assert(fused.keys.exists(_._2 == "__total__"))
  }

  test("shipped Zurich tables: cross-consistent with each other") {
    import graft.model.ZurichData._
    val gnfrCodes = Zh2Gnfr.values.flatten.toSeq
    assert(gnfrCodes.distinct.size == gnfrCodes.size) // one sector per code
    // the GNFR mapping and the CO2-bio ratio table cover the SAME 65
    // Zurich categories; categories_info adds exactly one more (the
    // compost category, which has metadata but no CO2 split)
    assert(gnfrCodes.toSet == Co2BioRatios.keySet)
    val gralCodes = ZhCo2GralGroups.values.flatten.toSet
    assert(gralCodes.subsetOf(gnfrCodes.toSet))
    assert(ZurichSources.map(_._1).toSet -- gnfrCodes.toSet ==
      Set("c3415_Kompostierung_Emissionen_Kanton"))
    // metadata plugs straight into the GRAL writers' dim table
    val info = graft.sinks.GralExport.infoTable(spark, ZurichSources)
    assert(info.count() == 66)
    assert(info.where(col("category") === "c1301_Personenwagen_Emissionen_Kanton")
      .select("ei_width").head.getDouble(0) == 7.0)
  }

  test("groupCategories sums member categories per (cell, substance)") {
    val out = Grouping.groupCategories(spark, basicInv,
      Map("gA" -> Seq("adf", "liku"), "gB" -> Seq("test")))
    val t = totalsBySub(out)
    // adf/CO2 total = 0+1+2+3+4 = 10 ; liku/CO2 = 10 → gA/CO2 = 20
    assert(t(("gA", "CO2")) == 20.0)
    assert(t(("gA", "CH4")) == 25.0) // Σ(c+3) = 10 + 15
    assert(t(("gB", "NH3")) == 15.0) // Σ(c+1)
  }

  test("groupCategories rejects a category mapped to two groups") {
    val e = intercept[IllegalArgumentException] {
      Grouping.groupCategories(spark, basicInv,
        Map("g1" -> Seq("adf"), "g2" -> Seq("adf", "test", "liku")))
    }
    assert(e.getMessage.contains("adf"))
  }

  /** The message of the `USER_RAISED_EXCEPTION` that `action` raises. */
  private def raisedBy(action: => Any): String = {
    val e = intercept[Exception](action)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case t: org.apache.spark.SparkThrowable
        if t.getCondition == "USER_RAISED_EXCEPTION" => t.getMessage }
      .getOrElse(fail(s"no USER_RAISED_EXCEPTION under $e"))
  }

  /** The join types of `df`'s optimized plan. */
  private def joinTypes(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType
    }

  test("groupCategories rejects uncovered categories unless ignoreMissing") {
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    // the coverage check is lazy: the call returns, the first action
    // raises and names an uncovered value. The join must stay a left
    // outer join: an inner one would drop the rows the check looks for
    val grouped = Grouping.groupCategories(spark, basicInv, Map("g1" -> Seq("adf")))
    assert(joinTypes(grouped) == Seq(LeftOuter))
    val msg = raisedBy(grouped.collect())
    assert(msg.contains("liku") || msg.contains("test"), msg)
    val bySub = Grouping.groupSubstances(spark, basicInv,
      Map("GHG" -> Seq("CO2", "CH4")))
    assert(joinTypes(bySub) == Seq(LeftOuter))
    assert(raisedBy(bySub.collect()).contains("NH3"))
    val totals = Grouping.groupedTotals(spark, basicInv, Map("g1" -> Seq("adf")))
    try {
      val m = raisedBy(totals.collect())
      assert(m.contains("liku") || m.contains("test"), m)
    } finally Caching.release()
    // explicit drop semantics
    val out = Grouping.groupCategories(spark, basicInv,
      Map("g1" -> Seq("adf")), ignoreMissing = true)
    assert(out.select("category").distinct().collect().map(_.getString(0)).toSeq == Seq("g1"))
  }

  test("groupSubstances validates and sums on the substance axis") {
    intercept[IllegalArgumentException] {
      Grouping.groupSubstances(spark, basicInv,
        Map("x" -> Seq("CO2", "CH4"), "y" -> Seq("CO2", "NH3")))
    }
    val out = Grouping.groupSubstances(spark, basicInv,
      Map("GHG" -> Seq("CO2", "CH4"), "OTH" -> Seq("NH3")))
    assert(totalsBySub(out)(("adf", "GHG")) == 35.0) // 10 + 25
  }

  test("addInventories is a union-sum; totals add") {
    val out = Grouping.addInventories(basicInv, basicInv)
    totalsBySub(out).foreach { case (k, v) => assert(v == 2 * totalsBySub(basicInv)(k)) }
  }

  test("scale multiplies only listed pairs") {
    val out = Grouping.scale(spark, basicInv, Seq(("adf", "CO2", 2.0)))
    val t = totalsBySub(out)
    assert(t(("adf", "CO2")) == 20.0)
    assert(t(("adf", "CH4")) == 25.0)
  }

  test("drop filters both axes") {
    val out = Grouping.drop(basicInv, categories = Seq("adf"), substances = Seq("NH3"))
    val kept = out.select("category", "substance").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept == Set(("liku", "CO2")))
  }

  test("totals emits per-(sub,cat) rows plus __total__ rollup") {
    val rows = Grouping.totals(basicInv).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rows(("CO2", "__total__")) == 20.0)
    assert(rows(("CO2", "adf")) == 10.0)
    assert(rows(("CH4", "__total__")) == 25.0)
  }

  test("conservationDiff is zero against itself and signed against scaled") {
    Grouping.conservationDiff(basicInv, basicInv).collect()
      .foreach(r => assert(r.getDouble(4) == 0.0))
    val scaled = Grouping.scale(spark, basicInv, Seq(("adf", "CO2", 0.5)))
    val d = Grouping.conservationDiff(basicInv, scaled).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(d(("adf", "CO2")) == 5.0)
  }
}
