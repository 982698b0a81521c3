package graft

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{CountryMask, HumanRespiration, PolygonCrop, SourceWeights, Vprm}
import graft.sinks.{Exports, GeoPackage}
import graft.profiles.{Profiles, Temporal}
import graft.multimodal.Multimodal
import graft.sources.RasterTable
import graft.sinks.IconExport

/** Gate queries for the remaining profile-algebra operators (P5 country→
  * cells, P15 profile regions, T6 day-type resolution) and the multimodal
  * metadata slice. */
object QueriesExtra {

  /** Shared CTE: the y-band country fraction table over the 64×64 grid —
    * mirrors CountryMask.bandMask(fractions = true) with dyadic edges. */
  private val FracCte: String =
    """cellsf AS (SELECT i AS cell_id, (i % 64) * 1.0 AS ymin, (i % 64) + 1.0 AS ymax
      |           FROM range(4096) t(i)),
      |bands AS (SELECT * FROM (VALUES ('C1', 0.0, 20.5), ('C2', 20.5, 43.5), ('C3', 43.5, 64.0))
      |          b(country, bymin, bymax)),
      |fr AS (SELECT cell_id, country,
      |              (least(ymax, bymax) - greatest(ymin, bymin)) / 1.0 AS fraction
      |       FROM cellsf, bands WHERE least(ymax, bymax) - greatest(ymin, bymin) > 0)""".stripMargin

  /** One Sutherland–Hodgman clip stage as SQL: clip the vertex list `vs`
    * by the half-plane `dExpr(V) >= 0` (V = a vertex struct), mirroring
    * `BoxPolyClipAreaExpr.clipArea`'s emit order and arithmetic exactly:
    * keep v_i when d_i >= 0, then add the intersection when the edge
    * strictly crosses, with t = d_i / (d_i - d_j) and
    * p = v_i + t * (v_j - v_i). Stages shorter than 3 vertices pass
    * through unchanged (the kernel's guard). */
  private def shClipStage(prev: String, next: String, dExpr: String): String = {
    def d(v: String) = dExpr.replace("V", v)
    val (da, db) = (d("(e.a)"), d("(e.b)"))
    s"""$next AS MATERIALIZED (SELECT cell_id, bx0, by0, bx1, by1,
       |  CASE WHEN len(vs) < 3 THEN vs ELSE flatten(list_transform(
       |    list_transform(range(1, len(vs) + 1),
       |      i -> {'a': vs[i], 'b': vs[(i % len(vs)) + 1]}),
       |    e -> CASE
       |      WHEN $da >= 0 AND (($da > 0 AND $db < 0) OR ($da < 0 AND $db > 0))
       |        THEN [e.a, {'x': (e.a).x + ($da / ($da - $db)) * ((e.b).x - (e.a).x),
       |                    'y': (e.a).y + ($da / ($da - $db)) * ((e.b).y - (e.a).y)}]
       |      WHEN $da >= 0 THEN [e.a]
       |      WHEN ($da > 0 AND $db < 0) OR ($da < 0 AND $db > 0)
       |        THEN [{'x': (e.a).x + ($da / ($da - $db)) * ((e.b).x - (e.a).x),
       |               'y': (e.a).y + ($da / ($da - $db)) * ((e.b).y - (e.a).y)}]
       |      ELSE [] END)) END AS vs
       |  FROM $prev)""".stripMargin
  }

  /** Full SQL oracle for q_crop_polygon: per-cell clip area of the fixed
    * triangle against each unit cell (4 half-plane stages + shoelace),
    * joined back onto the emissions — the exact computation
    * `PolygonCrop.cropWithPolygon` runs, in the same IEEE order. */
  private lazy val CropPolygonOracle: String =
    s"""$EmiAggCte,
       |cells AS MATERIALIZED (SELECT cell_id,
       |            (cell_id // 64) * 1.0 AS bx0, (cell_id % 64) * 1.0 AS by0,
       |            (cell_id // 64) + 1.0 AS bx1, (cell_id % 64) + 1.0 AS by1
       |          FROM (SELECT DISTINCT cell_id FROM emi)),
       |p0 AS MATERIALIZED (SELECT cell_id, bx0, by0, bx1, by1,
       |         [{'x': 5.0, 'y': 5.0}, {'x': 55.0, 'y': 10.0},
       |          {'x': 30.0, 'y': 60.0}] AS vs
       |       FROM cells),
       |${shClipStage("p0", "p1", "(V.x - bx0)")},
       |${shClipStage("p1", "p2", "(bx1 - V.x)")},
       |${shClipStage("p2", "p3", "(V.y - by0)")},
       |${shClipStage("p3", "p4", "(by1 - V.y)")},
       |w AS MATERIALIZED (SELECT cell_id,
       |        CASE WHEN len(vs) < 3 THEN 0.0 ELSE
       |          abs(list_sum(list_transform(range(1, len(vs) + 1),
       |            i -> vs[i].x * vs[(i % len(vs)) + 1].y
       |               - vs[(i % len(vs)) + 1].x * vs[i].y))) / 2.0
       |        END AS weight
       |      FROM p4)
       |SELECT emi.cell_id, category, substance, value * weight AS value
       |FROM emi JOIN w ON emi.cell_id = w.cell_id
       |WHERE weight > 0 AND value * weight <> 0""".stripMargin

  val extra: Seq[Q] = Seq(
    Q("q_speciate_by_country",
      (s, d) => {
        val fr = CountryMask.bandMask(s, srcGrid,
          Seq(("C1", 0.0, 20.5), ("C2", 20.5, 43.5), ("C3", 43.5, 64.0)),
          fractions = true)
          .where(col("cell_id") % 64 < 60) // leave some cells "homeless"
        graft.ops.Speciation.speciateByCountry(s, emissionsAgg(s, d), fr,
          ratios = Seq(
            ("C1", "F", "PM10", 0.25), ("C1", "F", "PM25", 0.75),
            ("C2", "F", "PM10", 0.5), ("C2", "F", "PM25", 0.5),
            ("C3", "F", "PM10", 0.75), ("C3", "F", "PM25", 0.25)),
          defaultRatios = Seq(("F", "PM10", 0.5), ("F", "PM25", 0.5)))
      },
      Some(s"""$EmiAggCte,
        |$FracCte,
        |fr2 AS (SELECT * FROM fr WHERE cell_id % 64 < 60),
        |rt AS (SELECT * FROM (VALUES ('C1','F','PM10',0.25), ('C1','F','PM25',0.75),
        |               ('C2','F','PM10',0.5), ('C2','F','PM25',0.5),
        |               ('C3','F','PM10',0.75), ('C3','F','PM25',0.25))
        |       t(country, substance, new_substance, ratio)),
        |dflt AS (SELECT * FROM (VALUES ('F','PM10',0.5), ('F','PM25',0.5))
        |         d(substance, new_substance, default_ratio)),
        |cr AS (SELECT cell_id, substance, new_substance,
        |              sum(fraction * ratio) AS eff_ratio
        |       FROM fr2 JOIN rt USING (country) GROUP BY 1, 2, 3)
        |SELECT e.cell_id, e.category, dflt.new_substance AS substance,
        |       e.value * coalesce(cr.eff_ratio, dflt.default_ratio) AS value
        |FROM emi e
        |JOIN dflt ON dflt.substance = e.substance
        |LEFT JOIN cr ON cr.cell_id = e.cell_id AND cr.substance = e.substance
        |            AND cr.new_substance = dflt.new_substance
        |UNION ALL
        |SELECT cell_id, category, substance, value FROM emi WHERE substance <> 'F'""".stripMargin)),

    Q("q_country_to_cells",
      (s, _) => {
        val fr = CountryMask.bandMask(s, srcGrid,
          Seq(("C1", 0.0, 20.5), ("C2", 20.5, 43.5), ("C3", 43.5, 64.0)), fractions = true)
        val factors = s.createDataFrame(Seq(("C1", 1.5), ("C2", 0.5), ("C3", 2.0)))
          .toDF("country", "factor")
        Profiles.countryToCells(fr, factors)
      },
      Some(s"""WITH $FracCte,
        |fac AS (SELECT * FROM (VALUES ('C1', 1.5), ('C2', 0.5), ('C3', 2.0)) f(country, factor))
        |SELECT cell_id, sum(fraction * factor) AS factor
        |FROM fr JOIN fac USING (country) GROUP BY 1""".stripMargin)),

    Q("q_profile_regions",
      (s, _) => {
        val index = s.range(4096)
          .select(col("id").as("cell_id"),
            explode(array(lit("A"), lit("N"), lit("R"))).as("category"))
          .withColumn("profile_id",
            (col("cell_id") + ascii(substring(col("category"), 1, 1))) % 5)
        Profiles.groupCellsByRegions(index)
      },
      Some("""WITH idx AS (SELECT i AS cell_id, c AS category, (i + ascii(c)) % 5 AS profile_id
        |              FROM range(4096) t(i), (VALUES ('A'), ('N'), ('R')) v(c)),
        |vecs AS (SELECT cell_id, string_agg(category || ':' || profile_id, ',' ORDER BY category) AS vec
        |         FROM idx GROUP BY 1)
        |SELECT cell_id, dense_rank() OVER (ORDER BY vec) AS region_id FROM vecs""".stripMargin)),

    Q("q_resolve_daytype",
      (s, _) => {
        val mk = (dt: String, f: Int => Double) =>
          (0 until 24).map(p => (dt, p, f(p)))
        val profiles = s.createDataFrame(
          mk("weekday", p => (p + 1) / 300.0) ++
            mk("saturday", p => (24 - p) / 300.0) ++
            mk("sunday", _ => 1.0 / 24.0))
          .toDF("day_type", "pos", "ratio")
        Temporal.resolveDayType(s, profiles)
      },
      Some("""WITH prof AS (
        |  SELECT 'weekday' AS day_type, p AS pos, (p + 1) / 300.0 AS ratio FROM range(24) t(p)
        |  UNION ALL
        |  SELECT 'saturday', p, (24 - p) / 300.0 FROM range(24) t(p)
        |  UNION ALL
        |  SELECT 'sunday', p, 1.0 / 24.0 FROM range(24) t(p)),
        |spine AS (SELECT CAST(i AS INT) AS hour_of_week, i // 24 AS dow, i % 24 AS pos
        |          FROM range(168) t(i)),
        |dt AS (SELECT hour_of_week, pos,
        |              CASE WHEN dow <= 4 THEN 'weekday'
        |                   WHEN dow = 5 THEN 'saturday' ELSE 'sunday' END AS day_type
        |       FROM spine)
        |SELECT hour_of_week, dt.day_type, ratio * 24.0 AS sf
        |FROM dt JOIN prof ON prof.day_type = dt.day_type AND prof.pos = dt.pos""".stripMargin)),

    Q("q_point_weights",
      (s, d) => SourceWeights.pointWeights(
        customer(s, d).select(
          col("c_custkey").as("source_id"),
          (col("c_custkey") % 1281 / 20.0).as("x"),
          (col("c_custkey") % 2561 / 40.0).as("y")),
        srcGrid),
      Some("""WITH pts AS (SELECT c_custkey AS source_id,
        |                    (c_custkey % 1281) / 20.0 AS fx,
        |                    (c_custkey % 2561) / 40.0 AS fy
        |             FROM customer),
        |cand AS (SELECT source_id,
        |                floor(fx)::BIGINT - ox AS ix, floor(fy)::BIGINT - oy AS iy
        |         FROM pts, (VALUES (0), (1)) a(ox), (VALUES (0), (1)) b(oy)
        |         WHERE (ox = 0 OR fx = floor(fx)) AND (oy = 0 OR fy = floor(fy))
        |           AND floor(fx)::BIGINT - ox BETWEEN 0 AND 63
        |           AND floor(fy)::BIGINT - oy BETWEEN 0 AND 63),
        |n AS (SELECT source_id, count(*) AS n FROM cand GROUP BY 1)
        |SELECT cand.source_id, ix * 64 + iy AS cell_id, 1.0 / n.n AS weight
        |FROM cand JOIN n USING (source_id)""".stripMargin)),

    Q("q_line_weights",
      (s, d) => SourceWeights.lineWeights(
        supplier(s, d).select(
          col("s_suppkey").as("source_id"),
          (col("s_suppkey") % 640 / 10.0).as("x1"),
          (col("s_suppkey") % 320 / 5.0).as("y1"),
          (col("s_suppkey") % 640 / 10.0 + col("s_suppkey") % 7 - 3).as("x2"),
          (col("s_suppkey") % 320 / 5.0 + col("s_suppkey") % 11 - 5).as("y2")),
        srcGrid),
      Some("""WITH segs AS (SELECT s_suppkey AS source_id,
        |                     (s_suppkey % 640) / 10.0 AS fx1, (s_suppkey % 320) / 5.0 AS fy1,
        |                     (s_suppkey % 640) / 10.0 + s_suppkey % 7 - 3 AS fx2,
        |                     (s_suppkey % 320) / 5.0 + s_suppkey % 11 - 5 AS fy2
        |              FROM supplier),
        |cx AS (SELECT *, unnest(generate_series(greatest(0, floor(least(fx1, fx2))::BIGINT - 1),
        |                                        least(63, floor(greatest(fx1, fx2))::BIGINT))) AS ix
        |       FROM segs),
        |cxy AS (SELECT *, unnest(generate_series(greatest(0, floor(least(fy1, fy2))::BIGINT - 1),
        |                                         least(63, floor(greatest(fy1, fy2))::BIGINT))) AS iy
        |        FROM cx),
        |t AS (SELECT source_id, ix, iy,
        |        CASE WHEN fx2 - fx1 = 0
        |             THEN CASE WHEN fx1 >= CAST(ix AS DOUBLE) AND fx1 <= ix + 1.0 THEN -1e18 ELSE 1e18 END
        |             ELSE least((CAST(ix AS DOUBLE) - fx1) / (fx2 - fx1), (ix + 1.0 - fx1) / (fx2 - fx1)) END AS txin,
        |        CASE WHEN fx2 - fx1 = 0
        |             THEN CASE WHEN fx1 >= CAST(ix AS DOUBLE) AND fx1 <= ix + 1.0 THEN 1e18 ELSE -1e18 END
        |             ELSE greatest((CAST(ix AS DOUBLE) - fx1) / (fx2 - fx1), (ix + 1.0 - fx1) / (fx2 - fx1)) END AS txout,
        |        CASE WHEN fy2 - fy1 = 0
        |             THEN CASE WHEN fy1 >= CAST(iy AS DOUBLE) AND fy1 <= iy + 1.0 THEN -1e18 ELSE 1e18 END
        |             ELSE least((CAST(iy AS DOUBLE) - fy1) / (fy2 - fy1), (iy + 1.0 - fy1) / (fy2 - fy1)) END AS tyin,
        |        CASE WHEN fy2 - fy1 = 0
        |             THEN CASE WHEN fy1 >= CAST(iy AS DOUBLE) AND fy1 <= iy + 1.0 THEN 1e18 ELSE -1e18 END
        |             ELSE greatest((CAST(iy AS DOUBLE) - fy1) / (fy2 - fy1), (iy + 1.0 - fy1) / (fy2 - fy1)) END AS tyout
        |      FROM cxy),
        |w AS (SELECT source_id, ix, iy,
        |             greatest(least(txout, tyout, 1.0) - greatest(txin, tyin, 0.0), 0.0) AS w
        |      FROM t),
        |f AS (SELECT source_id, ix * 64 + iy AS cell_id, w,
        |             sum(w) OVER (PARTITION BY source_id) AS wsum
        |      FROM w WHERE w > 0)
        |SELECT source_id, cell_id, CASE WHEN wsum > 1.0 THEN w / wsum ELSE w END AS weight
        |FROM f""".stripMargin)),

    Q("q_data_profile",
      (s, d) => graft.ops.DataQuality.profile(nation(s, d)),
      Some("""SELECT 'n_nationkey' AS "column", count(*) AS n_rows,
        |       CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |       count(DISTINCT n_nationkey) AS n_distinct FROM nation
        |UNION ALL
        |SELECT 'n_name', count(*),
        |       CAST(sum(CASE WHEN n_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       count(DISTINCT n_name) FROM nation
        |UNION ALL
        |SELECT 'n_regionkey', count(*),
        |       CAST(sum(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       count(DISTINCT n_regionkey) FROM nation""".stripMargin)),

    Q("q_corpus_stats",
      // per-language length distribution: Spark's exact `percentile`
      // and DuckDB's quantile_cont share the linear-interpolation
      // definition, so even the interpolated values hash-match.
      // CorpusStats.approx is the documented 100 TB swap (spec-bounded).
      (s, d) => graft.ops.CorpusStats.exact(documents(s, d)),
      Some("""SELECT lang, count(*) AS n_docs, min(n_chars) AS min_chars,
        |       quantile_cont(n_chars, 0.5) AS p50_chars,
        |       quantile_cont(n_chars, 0.9) AS p90_chars,
        |       max(n_chars) AS max_chars,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin)),

    Q("q_json_props",
      (s, d) => events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum("k").as("k_sum")),
      Some("""WITH j AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |            FROM events)
        |SELECT k % 10 AS k_bucket, count(*) AS n, CAST(sum(k) AS BIGINT) AS k_sum
        |FROM j GROUP BY 1""".stripMargin)),

    Q("q_stratified_sample",
      (s, d) => graft.ops.Sampling.stratifiedSample(
        documents(s, d), Seq("lang", "source"), "doc_id", perGroup = 3),
      Some("""SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin)),

    Q("q_holdout_split",
      (s, d) => graft.ops.Sampling.holdoutSplit(
        documents(s, d).select("doc_id", "lang"), "doc_id",
        trainPct = 80, valPct = 10),
      Some("""SELECT doc_id, lang,
        |       CASE WHEN doc_id % 100 < 80 THEN 'train'
        |            WHEN doc_id % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents""".stripMargin)),

    // M10×M8 composed op: decontamination-aware split — train docs that
    // share a 5-gram with any held-out doc are flagged so memorized
    // eval text can't enter training. The oracle re-derives shingling,
    // the held-out shingle set, and the leak join in SQL.
    Q("q_decon_split",
      (s, d) => graft.ops.Sampling.decontaminatedSplit(
        documents(s, d), trainPct = 80, valPct = 10),
      Some("""WITH s AS (SELECT doc_id,
        |         CASE WHEN doc_id % 100 < 80 THEN 'train'
        |              WHEN doc_id % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split
        |       FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |          unnest(list_transform(range(0, greatest(0, len(w) - 4)),
        |                 i -> array_to_string(w[i+1:i+5], ' '))) AS shingle
        |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |held AS (SELECT DISTINCT shingle
        |         FROM sh JOIN s USING (doc_id) WHERE split <> 'train'),
        |lk AS (SELECT DISTINCT sh.doc_id
        |       FROM sh JOIN s USING (doc_id)
        |       JOIN held ON sh.shingle = held.shingle
        |       WHERE s.split = 'train')
        |SELECT s.doc_id, s.split, lk.doc_id IS NOT NULL AS leaked
        |FROM s LEFT JOIN lk ON s.doc_id = lk.doc_id""".stripMargin)),

    Q("q_country_box_mask",
      (s, _) => CountryMask.boxMask(s, srcGrid, Seq(
        ("C1", 0.0, 0.0, 32.5, 32.5), ("C2", 32.5, 0.0, 64.0, 32.5),
        ("C3", 0.0, 32.5, 64.0, 64.0))),
      Some("""WITH cells AS (SELECT i AS cell_id,
        |               (i // 64) * 1.0 AS xmin, (i % 64) * 1.0 AS ymin,
        |               (i // 64) + 1.0 AS xmax, (i % 64) + 1.0 AS ymax
        |        FROM range(4096) t(i)),
        |boxes AS (SELECT * FROM (VALUES ('C1', 0.0, 0.0, 32.5, 32.5),
        |                   ('C2', 32.5, 0.0, 64.0, 32.5),
        |                   ('C3', 0.0, 32.5, 64.0, 64.0))
        |          b(country, bxmin, bymin, bxmax, bymax)),
        |ov AS (SELECT cell_id, country,
        |              (least(xmax, bxmax) - greatest(xmin, bxmin)) *
        |              (least(ymax, bymax) - greatest(ymin, bymin)) AS w
        |       FROM cells, boxes
        |       WHERE least(xmax, bxmax) - greatest(xmin, bxmin) > 0
        |         AND least(ymax, bymax) - greatest(ymin, bymin) > 0)
        |SELECT cell_id, country FROM
        |  (SELECT cell_id, country,
        |          row_number() OVER (PARTITION BY cell_id ORDER BY w DESC, country) AS rn
        |   FROM ov) WHERE rn = 1""".stripMargin)),

    Q("q_topk_per_group",
      (s, d) => {
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        lineitem(s, d)
          .withColumn("rk", row_number().over(win))
          .where(col("rk") <= 5)
          .select("l_returnflag", "rk", "l_orderkey", "l_linenumber", "l_extendedprice")
      },
      Some("""SELECT l_returnflag, rk, l_orderkey, l_linenumber, l_extendedprice
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |             row_number() OVER (PARTITION BY l_returnflag
        |               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
        |      FROM lineitem)
        |WHERE rk <= 5""".stripMargin)),

    Q("q_salted_agg",
      (s, d) => graft.ops.Skew.saltedSum(
        emissions(s, d), Seq("cell_id", "category", "substance"), "value",
        saltFactor = 16),
      // exact integer-valued sums: the salted two-stage aggregate equals
      // the direct GROUP BY, so the oracle is the plain aggregation
      Some(s"""$EmiCte
        |SELECT cell_id, category, substance, sum(value) AS value
        |FROM emissions GROUP BY 1, 2, 3""".stripMargin)),

    Q("q_vprm",
      (s, d) => {
        val obs = events(s, d).select(
          col("event_type").as("veg_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          (col("value") / 10.0).as("t"),
          (col("value") * 4.0).as("rad"),
          (col("user_id") % 20 / 20.0 - 0.25).as("lswi"),
          (col("event_id") % 100 / 100.0).as("evi"))
        val params = s.createDataFrame(Seq(
          ("click", 0.25, 1.0, 0.5, 0.0, 20.0, 40.0, 2.0, 250.0),
          ("view", 0.125, 0.5, 0.25, 0.0, 20.0, 40.0, 4.0, 500.0),
          ("purchase", 0.5, 2.0, 0.75, 0.0, 20.0, 40.0, 1.0, 125.0),
          ("signup", 0.25, 1.0, 0.5, 0.0, 20.0, 40.0, 2.0, 250.0),
          ("error", 0.25, 1.0, 0.5, 0.0, 20.0, 40.0, 2.0, 250.0)))
          .toDF("veg_type", "alpha", "beta", "lambda",
            "tmin", "topt", "tmax", "tlow", "par0")
        Vprm.calculateEmissions(obs, params)
      },
      Some("""WITH obs AS (SELECT event_type AS veg_type,
        |                    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |                    value / 10.0 AS t, value * 4.0 AS rad,
        |                    user_id % 20 / 20.0 - 0.25 AS lswi,
        |                    event_id % 100 / 100.0 AS evi
        |             FROM events),
        |p AS (SELECT veg_type, CAST(alpha AS DOUBLE) AS alpha, CAST(beta AS DOUBLE) AS beta,
        |             CAST(lambda AS DOUBLE) AS lambda, CAST(tmin AS DOUBLE) AS tmin,
        |             CAST(topt AS DOUBLE) AS topt, CAST(tmax AS DOUBLE) AS tmax,
        |             CAST(tlow AS DOUBLE) AS tlow, CAST(par0 AS DOUBLE) AS par0
        |      FROM (VALUES ('click', 0.25, 1.0, 0.5, 0.0, 20.0, 40.0, 2.0, 250.0),
        |                   ('view', 0.125, 0.5, 0.25, 0.0, 20.0, 40.0, 4.0, 500.0),
        |                   ('purchase', 0.5, 2.0, 0.75, 0.0, 20.0, 40.0, 1.0, 125.0),
        |                   ('signup', 0.25, 1.0, 0.5, 0.0, 20.0, 40.0, 2.0, 250.0),
        |                   ('error', 0.25, 1.0, 0.5, 0.0, 20.0, 40.0, 2.0, 250.0))
        |      t(veg_type, alpha, beta, lambda, tmin, topt, tmax, tlow, par0)),
        |j AS (SELECT obs.*, p.alpha, p.beta, p.lambda, p.tmin, p.topt, p.tmax, p.tlow, p.par0,
        |             rad / 0.505 AS par,
        |             max(lswi) OVER (PARTITION BY obs.veg_type) AS lswi_max,
        |             min(evi) OVER (PARTITION BY obs.veg_type) AS evi_min,
        |             max(evi) OVER (PARTITION BY obs.veg_type) AS evi_max
        |      FROM obs JOIN p USING (veg_type)),
        |c AS (SELECT *,
        |        CASE WHEN t <= tlow THEN alpha * tlow + beta ELSE alpha * t + beta END AS resp,
        |        CASE WHEN t <= tmin THEN 0.0
        |             ELSE ((t - tmin) * (t - tmax)) /
        |                  (((t - tmin) * (t - tmax)) - (t - topt) * (t - topt)) END AS tscale,
        |        (1.0 + lswi) / (1.0 + lswi_max) AS wscale,
        |        CASE WHEN evi >= evi_min + 0.55 * (evi_max - evi_min) THEN 1.0
        |             ELSE (1.0 + lswi) / 2.0 END AS pscale
        |      FROM j)
        |SELECT veg_type, ts, tscale, wscale, pscale, resp,
        |       -(lambda * tscale * pscale * wscale * evi * par / (1.0 + par / par0)) AS gee,
        |       resp + -(lambda * tscale * pscale * wscale * evi * par / (1.0 + par / par0)) AS nee
        |FROM c""".stripMargin)),

    Q("q_wrf_mole_flux",
      (s, d) => Exports.wrfMoleFlux(s, emissionsAgg(s, d),
        Seq(("F", 46.0), ("O", 30.0)), cellAreaKm2 = 0.25),
      Some(s"""$EmiAggCte,
        |mm AS (SELECT substance, CAST(m AS DOUBLE) AS molar_mass
        |       FROM (VALUES ('F', 46.0), ('O', 30.0)) t(substance, m))
        |SELECT cell_id, category, emi.substance,
        |       value * (1000.0 / molar_mass) / 0.25 / 8766.0 AS mole_km2_h
        |FROM emi JOIN mm ON emi.substance = mm.substance""".stripMargin)),

    // Round-trips the wrfchemi per-hour file layout (wrf.py:129-240) —
    // export 3 hours THROUGH A DAY BOUNDARY with a composite
    // (hour_of_day × day_of_week) scaling table so the full-profile
    // path (get_temporally_scaled_array, wrf.py:150-176) is exercised,
    // read every file back through NcAdapter, and report per-(file,
    // variable) plane totals. The DuckDB oracle recomputes each plane
    // total closed-form (flux aggregate × the composite factor for that
    // file's hour) — the 6-dp round absorbs summation-order FP noise;
    // per-cell layout correctness is NetcdfWriterSpec's wrfchemi cases.
    Q("q_wrf_chemi",
      (s, d) => {
        val grid = graft.model.RegularGrid(3, 2, 0.0, 0.0, 1000.0, 1000.0)
        val emi = emissionsAgg(s, d).where(col("cell_id") < 6)
        val sfHod = s.range(24).select(
          lit("A").as("category"), lit("F").as("substance"),
          lit("hour_of_day").as("kind"), col("id").cast("int").as("position"),
          (lit(1.0) + col("id") / lit(48.0)).as("sf"))
        val sfDow = s.range(7).select(
          lit("A").as("category"), lit("F").as("substance"),
          lit("day_of_week").as("kind"), col("id").cast("int").as("position"),
          (lit(0.5) + col("id") * lit(0.25)).as("sf"))
        val sf = sfHod.unionByName(sfDow)
        val dir = TempDirs.create("wrfchemi")
        val files = Exports.wrfChemiExport(s, emi, grid,
          Seq(("F", 46.0), ("O", 30.0)), sf, "2024-01-01 23:00:00", 3, dir)
        val rows = files.flatMap { f =>
          val bytes = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$dir/$f"))
          val nc = graft.sources.NcAdapter.open(bytes)
          nc.varNames.filter(_.startsWith("E_")).map { v =>
            (f, v, BigDecimal(nc.doubles(v).sum)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
        }
        s.createDataFrame(rows).toDF("file", "var", "total")
      },
      Some(s"""$EmiAggCte,
        |mm AS (SELECT substance, CAST(m AS DOUBLE) AS molar_mass
        |       FROM (VALUES ('F', 46.0), ('O', 30.0)) t(substance, m)),
        |flux AS (SELECT category, emi.substance AS substance,
        |                sum(value * (1000.0 / molar_mass) / 1.0 / 8766.0) AS tot
        |         FROM emi JOIN mm ON emi.substance = mm.substance
        |         WHERE cell_id < 6 GROUP BY 1, 2),
        |hrs AS (SELECT * FROM (VALUES
        |         ('wrfchemi_d01_2024-01-01_23:00:00', 23, 0),
        |         ('wrfchemi_d01_2024-01-02_00:00:00', 0, 1),
        |         ('wrfchemi_d01_2024-01-02_01:00:00', 1, 1)) h(file, hod, dow))
        |SELECT hrs.file, 'E_' || substance || '_' || category AS var,
        |       round(tot * (CASE WHEN category = 'A' AND substance = 'F'
        |                         THEN (1.0 + hod / 48.0) * (0.5 + dow * 0.25)
        |                         ELSE 1.0 END), 6) AS total
        |FROM flux, hrs""".stripMargin)),

    // K6 fluxie export round-trip (export_fluxie, emiproc/exports/
    // fluxie.py:24-199) with a CLOSED-FORM oracle, the q_wrf_chemi
    // pattern: export per-substance monthly files over a 3×2 grid with
    // a dyadic cell area (1024² = 2^20 m² → v/area is FP-exact), read
    // every file back through NcAdapter, and report per-time flux-plane
    // totals plus per-country flux totals. DuckDB recomputes both from
    // the same relational input: Σv/area per (substance, time) and
    // Σ v·fraction/area per (substance, country). All terms dyadic —
    // no rounding needed on either side.
    Q("q_fluxie_export",
      (s, d) => {
        val grid = graft.model.RegularGrid(3, 2, 0.0, 0.0, 1024.0, 1024.0)
        val emi = emissionsAgg(s, d).where(col("cell_id") < 6)
          .select(col("cell_id"), col("substance"),
            (col("cell_id") % 3).cast("int").as("time_idx"), col("value"))
        val cf = s.createDataFrame(Seq(
          (0L, "XA", 0.25), (0L, "XB", 0.75), (1L, "XA", 1.0),
          (2L, "XB", 0.5), (3L, "XA", 0.5), (3L, "XB", 0.5),
          (4L, "XB", 1.0), (5L, "XA", 0.25)))
          .toDF("cell_id", "country", "fraction")
        val dir = TempDirs.create("fluxie")
        val files = Exports.fluxieExportNc(
          emi, grid, dir, countryFractions = Some(cf))
        val countries = Seq("XA", "XB") // sorted, as the writer lays out
        val rows = files.flatMap { f =>
          val nc = graft.sources.NcAdapter.open(
            java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"$dir/$f")))
          val flux = nc.doubles("flux_total_prior") // (time, lat, lon)
          val nT = flux.length / 6
          val planes = (0 until nT).map(t =>
            (f, s"flux_t$t", flux.slice(t * 6, t * 6 + 6).sum))
          val cfl = nc.doubles("country_flux_total_prior") // (time, country)
          val ctry = countries.zipWithIndex.map { case (cn, c) =>
            (f, s"country_$cn",
              (0 until nT).map(t => cfl(t * countries.length + c)).sum)
          }
          planes ++ ctry
        }
        s.createDataFrame(rows).toDF("file", "var", "total")
      },
      Some(s"""$EmiAggCte,
        |e2 AS (SELECT substance, cell_id % 3 AS t, cell_id, sum(value) AS v
        |       FROM emi WHERE cell_id < 6 GROUP BY 1, 2, 3),
        |cf AS (SELECT * FROM (VALUES (0, 'XA', 0.25), (0, 'XB', 0.75),
        |        (1, 'XA', 1.0), (2, 'XB', 0.5), (3, 'XA', 0.5),
        |        (3, 'XB', 0.5), (4, 'XB', 1.0), (5, 'XA', 0.25))
        |       c(cell_id, country, fraction)),
        |subs AS (SELECT DISTINCT substance FROM e2),
        |ts AS (SELECT i AS t FROM range(3) t(i)
        |       WHERE i <= (SELECT max(t) FROM e2)),
        |planes AS (SELECT subs.substance, 'flux_t' || ts.t AS var,
        |                  coalesce(sum(v), 0.0) / 1048576.0 AS total
        |           FROM subs CROSS JOIN ts
        |           LEFT JOIN e2 ON e2.substance = subs.substance AND e2.t = ts.t
        |           GROUP BY 1, 2),
        |ctrys AS (SELECT DISTINCT country FROM cf),
        |ctry AS (SELECT subs.substance, 'country_' || ctrys.country AS var,
        |                coalesce(sum(v * fraction), 0.0) / 1048576.0 AS total
        |         FROM subs CROSS JOIN ctrys
        |         LEFT JOIN (SELECT substance, country, v, fraction
        |                    FROM e2 JOIN cf USING (cell_id)) j
        |           ON j.substance = subs.substance AND j.country = ctrys.country
        |         GROUP BY 1, 2)
        |SELECT substance || '/icon_' || substance || '_monthly.nc' AS file, var, total
        |FROM (SELECT * FROM planes UNION ALL SELECT * FROM ctry)""".stripMargin)),

    // K8 standalone vertical-profile NetCDF (export_inventory_profiles,
    // emiproc/exports/profiles.py:22-121) with a closed-form oracle:
    // per-category normalized level ratios written through
    // writeVerticalNc, read back via NcAdapter, and compared against the
    // same normalization recomputed in SQL (one division q/tq on both
    // engines → bit-identical), including the dense zero-fill for
    // missing (category, level) pairs and the dyadic layer_mid ladder.
    Q("q_vertical_nc",
      (s, d) => {
        val heights = Seq(32.0, 64.0, 128.0, 256.0, 512.0, 1024.0, 2048.0)
        val prof = lineitem(s, d).groupBy(
          col("l_returnflag").as("category"),
          (col("l_linenumber") - 1).cast("int").as("level"))
          .agg(sum("l_quantity").as("q"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("category")
        val vert = prof.select(col("category"), col("level"),
          (col("q") / sum("q").over(w)).as("r"))
        val dir = TempDirs.create("vertnc")
        IconExport.writeVerticalNc(vert, heights, dir)
        val nc = graft.sources.NcAdapter.open(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$dir/vertical_profiles.nc")))
        val mids = nc.doubles("layer_mid")
        val cats = nc.varNames
          .filterNot(Set("layer_top", "layer_bot", "layer_mid")).sorted
        val rows = cats.flatMap { c =>
          nc.doubles(c).zipWithIndex.map { case (r, lvl) =>
            (c, lvl, r, mids(lvl))
          }
        }
        s.createDataFrame(rows).toDF("category", "level", "r", "layer_mid")
      },
      Some("""WITH prof AS (SELECT l_returnflag AS category,
        |              l_linenumber - 1 AS level, sum(l_quantity) AS q
        |       FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT category, sum(q) AS tq FROM prof GROUP BY 1),
        |hts AS (SELECT * FROM (VALUES (0, 32.0, 0.0), (1, 64.0, 32.0),
        |         (2, 128.0, 64.0), (3, 256.0, 128.0), (4, 512.0, 256.0),
        |         (5, 1024.0, 512.0), (6, 2048.0, 1024.0)) h(level, top, bot))
        |SELECT tot.category, hts.level::INT AS level,
        |       coalesce(q / tq, 0.0) AS r, (top + bot) / 2.0 AS layer_mid
        |FROM tot CROSS JOIN hts
        |LEFT JOIN prof ON prof.category = tot.category
        |               AND prof.level = hts.level""".stripMargin)),

    // K2 distributed per-hour fan-out: hourlyExportNcDistributed (the
    // hourlyExportNc writer) writes every hour file from executor tasks
    // (byte-identical to a test-side assembly of temporalExplode —
    // NetcdfWriterSpec pins that); the gate reads each file
    // back and checks per-variable plane totals against the closed-form
    // explode semantics (integer cell values × a dyadic 1 + h/64 hourly
    // factor → FP-exact on both engines).
    Q("q_hourly_dist",
      (s, d) => {
        val sf = s.range(24).select(
          lit("A").as("category"), lit("F").as("substance"),
          col("id").cast("int").as("hour_of_day"),
          (lit(1.0) + col("id") / lit(64.0)).as("sf"))
        val dir = TempDirs.create("hourlydist")
        val files = Exports.hourlyExportNcDistributed(
          emissionsAgg(s, d), sf, "2024-03-01 00:00:00", 6, srcGrid, dir)
        val rows = files.flatMap { f =>
          val nc = graft.sources.NcAdapter.open(
            java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"$dir/$f")))
          nc.varNames.filterNot(Set("lon", "lat")).map { v =>
            (f, v, nc.doubles(v).sum)
          }
        }
        s.createDataFrame(rows).toDF("file", "var", "total")
      },
      Some(s"""$EmiAggCte,
        |t AS (SELECT category, substance, sum(value) AS tot
        |      FROM emi GROUP BY 1, 2),
        |hrs AS (SELECT i AS h FROM range(6) t(i))
        |SELECT printf('20240301T%02d0000Z.nc', h) AS file,
        |       substance || '_' || category AS var,
        |       tot * (CASE WHEN category = 'A' AND substance = 'F'
        |              THEN 1.0 + h / 64.0 ELSE 1.0 END) AS total
        |FROM t, hrs""".stripMargin)),

    // K7 geopackage substitute (export_to_geopackage, emiproc/exports/
    // geopackage.py:9-60 — documented GeoParquet/WKT substitute): write
    // the export, read the parquet back, and check the WKT ring text
    // and the WKB byte length (1+4+4+4+5·16 = 93 for one closed 5-point
    // ring) against SQL that rebuilds both from cell arithmetic.
    Q("q_geoparquet",
      (s, d) => {
        val dir = TempDirs.createPath("geopq")
          .toString + "/out"
        Exports.geoParquetExport(s,
          emissionsAgg(s, d).where(col("cell_id") < 10), srcGrid, Some(dir))
        s.read.parquet(dir).select(
          col("cell_id"), col("category"), col("substance"), col("value"),
          col("geometry_wkt"), length(col("geometry")).as("wkb_bytes"))
      },
      Some(s"""$EmiAggCte,
        |g AS (SELECT cell_id, category, substance, value,
        |             (cell_id // 64) * 1.0 AS x0, (cell_id % 64) * 1.0 AS y0,
        |             (cell_id // 64) + 1.0 AS x1, (cell_id % 64) + 1.0 AS y1
        |      FROM emi WHERE cell_id < 10)
        |SELECT cell_id, category, substance, value,
        |       'POLYGON((' || x0 || ' ' || y0 || ', ' || x1 || ' ' || y0 ||
        |       ', ' || x1 || ' ' || y1 || ', ' || x0 || ' ' || y1 ||
        |       ', ' || x0 || ' ' || y0 || '))' AS geometry_wkt,
        |       93::INT AS wkb_bytes
        |FROM g""".stripMargin)),

    // K7 REAL GeoPackage (export_to_geopackage, emiproc/exports/
    // geopackage.py:9-60): write an actual SQLite-container .gpkg via
    // the dependency-free Sqlite writer — gridded layer with the
    // reference's "_"-joined tuple columns plus a shaped point layer —
    // read it back through the byte-level reader, and emit every
    // feature's attributes AND decoded geometry checks long-form. The
    // oracle recomputes all of it relationally from the same parquet.
    Q("q_geopackage",
      (s, d) => {
        val grid = graft.model.RegularGrid(3, 2, 0.0, 0.0, 1024.0, 1024.0)
        val emi = emissionsAgg(s, d).where(col("cell_id") < 6)
        val pointUdf = udf((x: Double, y: Double) =>
          graft.sources.Wkb.encodePoint(x, y))
        val sup = graft.Tables.supplier(s, d).where(col("s_suppkey") <= 50)
          .select(col("s_suppkey").cast("long").as("fid"),
            pointUdf((col("s_suppkey") % 100).cast("double"),
              (col("s_suppkey") % 7).cast("double")).as("geom"),
            col("s_nationkey").cast("long").as("nation"))
        val path = TempDirs.createPath("gpkg")
          .toString + "/inv.gpkg"
        GeoPackage.exportToGeopackage(s, path,
          gdfs = Map("suppliers" -> sup),
          gridded = Some(GeoPackage.griddedLayer(s, emi, grid)),
          geometryTypes = Map("suppliers" -> "POINT"))
        val layers = GeoPackage.readGeopackage(s, path)
          .map(l => l.name -> l).toMap
        val xminUdf = udf((wkb: Array[Byte]) =>
          graft.sources.Wkb.decode(wkb).parts.head.xs.min)
        val g = layers("gridded_emissions").df
        val catCols = g.columns.filterNot(c => c == "fid" || c == "geom")
        val gridRows = g.select(col("fid"), col("geom"),
          explode(map(catCols.toIndexedSeq.flatMap(c =>
            Seq(lit(c), col(c))): _*)).as(Seq("col", "value")))
          .where(col("value").isNotNull)
          .select(lit("gridded_emissions").as("layer"), col("fid"),
            col("col"), col("value"))
        val gridGeom = g.select(lit("gridded_emissions").as("layer"),
          col("fid"), lit("_xmin").as("col"),
          xminUdf(col("geom")).as("value"))
        val supDf = layers("suppliers").df
        val supRows = supDf.select(lit("suppliers").as("layer"), col("fid"),
          lit("nation").as("col"), col("nation").cast("double").as("value"))
        val supGeom = supDf.select(lit("suppliers").as("layer"), col("fid"),
          lit("_x").as("col"), xminUdf(col("geom")).as("value"))
        gridRows.union(gridGeom).union(supRows).union(supGeom)
      },
      Some(s"""$EmiAggCte
        |SELECT 'gridded_emissions' AS layer, cell_id + 1 AS fid,
        |       category || '_' || substance AS col, value
        |FROM emi WHERE cell_id < 6
        |UNION ALL
        |SELECT 'gridded_emissions', cell_id + 1, '_xmin', (cell_id // 2) * 1024.0
        |FROM (SELECT DISTINCT cell_id FROM emi WHERE cell_id < 6)
        |UNION ALL
        |SELECT 'suppliers', s_suppkey, 'nation', s_nationkey * 1.0
        |FROM supplier WHERE s_suppkey <= 50
        |UNION ALL
        |SELECT 'suppliers', s_suppkey, '_x', (s_suppkey % 100) * 1.0
        |FROM supplier WHERE s_suppkey <= 50""".stripMargin)),

    // K9 CF global attributes (nc_cf_attributes, emiproc/exports/
    // netcdf.py:6-71): write a raster export through the default-attrs
    // path, read the file's global attributes back through NcAdapter,
    // and compare to the hand-derived reference attribute set. The
    // creation time is the documented reproducible epoch default.
    Q("q_cf_attrs",
      (s, _) => {
        val dir = TempDirs.create("cfnc")
        val emi = s.createDataFrame(Seq(
          (0L, "A", "CO2", 1.0), (3L, "A", "CO2", 2.0)))
          .toDF("cell_id", "category", "substance", "value")
        val grid = graft.model.RegularGrid(2, 2, 0.0, 0.0, 1.0, 1.0)
        Exports.rasterExportNc(emi, grid, s"$dir/out.nc")
        val nc = graft.sources.NcAdapter.open(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$dir/out.nc")))
        s.createDataFrame(nc.globalAtts).toDF("att", "value")
      },
      Some("""SELECT * FROM (VALUES
        |  ('Conventions', 'CF-1.10'),
        |  ('title', 'graft raster export'),
        |  ('comment', ''),
        |  ('source', 'graft emission inventory export'),
        |  ('history', '1970-01-01 00:00:00: created by graft ;' || chr(10)),
        |  ('references', 'Produced by graft.'),
        |  ('institution', 'graft'),
        |  ('author', 'graft'),
        |  ('contact', ''),
        |  ('creation_time', '1970-01-01 00:00:00')
        |) AS t(att, value)""".stripMargin)),

    // Pinned-literal oracle (OraclePins): the DuckDB-export inventory
    // loader (zurich/duck.py semantics over duckdb's parquet EXPORT
    // DATABASE form) — fixture tables written by Spark at query time
    // (parquet bytes aren't committable across writer versions), then
    // read back through the WKB codec; value-level correctness is
    // DuckInventorySpec.
    Q("q_duck_inventory",
      (s, d) => {
        import graft.sources.Wkb
        val dir = TempDirs.create("duckinv")
        // explicit order: a bare limit(10) depends on file/partition
        // order, and the pinned-literal oracle needs stable row choice
        val nat = nation(s, d).orderBy("n_nationkey").limit(10).collect()
        val traffic = s.createDataFrame(nat.map { r =>
          val k = r.getAs[Number]("n_nationkey").longValue()
          val x = (k % 5).toDouble
          (if (k % 3 == 0) 2022 else 2023,
            Wkb.encodePolygon(Seq((Array(x, x + 2, x + 2, x, x),
              Array(0.0, 0.0, 1.0, 1.0, 0.0)))),
            (k + 1).toDouble,
            if (k % 2 == 0) Double.box((k + 1) / 2.0)
            else null.asInstanceOf[java.lang.Double])
        }.toSeq).toDF("jahr", "geom", "emission_co2", "emission_nox")
        traffic.write.mode("overwrite").parquet(s"$dir/traffic.parquet")
        val pts = s.createDataFrame(nat.map { r =>
          val k = r.getAs[Number]("n_nationkey").longValue()
          (2023, Wkb.encodePoint(k.toDouble, k.toDouble), k * 2.0)
        }.toSeq).toDF("jahr", "geom", "emission_ch4")
        pts.write.mode("overwrite").parquet(s"$dir/heating.parquet")
        pts.write.mode("overwrite").parquet(s"$dir/heating_ef.parquet")
        val inv = graft.sources.DuckInventory.read(s, dir, year = 2023)
        inv.emissions.join(inv.geoms, Seq("category", "source_id"))
          .groupBy("category", "substance", "kind")
          .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("total"),
            sum(size(col("xs"))).as("n_vertices"))
      },
      None),

    // Pinned-literal oracles (OraclePins): REAL multimodal decode on
    // the JDK's own codecs over committed fixtures — DuckDB has no image/
    // audio reader, so the verified outputs are pinned as VALUES literals. Value-level correctness is JvmMediaSpec (known dims,
    // hash equality of identical files, sine RMS closed form).

    // PNG decode: binaryFile scan -> mapPartitions ImageIO decode ->
    // dims + perceptual hashes + luminance stats.
    Q("q_image_decode",
      (s, _) => {
        val media = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.png")
          .load("/root/repo/fixtures/images")
          .select(
            regexp_extract(col("path"), "img_(\\d+)", 1).cast("long").as("doc_id"),
            col("content").as("payload"))
        graft.multimodal.JvmMedia.decodeImages(s, media).toDF()
          .select(col("doc_id"), col("width"), col("height"),
            col("a_hash"), col("d_hash"), round(col("mean_lum"), 6).as("mean_lum"))
      },
      None),

    // Image near-dup: dHash 16-bit band join + exact Hamming verify —
    // the image analogue of the text MinHash->LSH pipeline.
    Q("q_image_neardup",
      (s, _) => {
        val media = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.png")
          .load("/root/repo/fixtures/images")
          .select(
            regexp_extract(col("path"), "img_(\\d+)", 1).cast("long").as("doc_id"),
            col("content").as("payload"))
        graft.multimodal.JvmMedia.imageNearDups(
          graft.multimodal.JvmMedia.decodeImages(s, media).toDF(), maxHamming = 3)
      },
      None),

    // RIFF/WAVE PCM parse: rate, duration, RMS of the committed tone.
    Q("q_wav_decode",
      (s, _) => {
        val media = s.read.format("binaryFile")
          .option("pathGlobFilter", "tone.wav") // clip_*.wav feed q_audio_*
          .load("/root/repo/fixtures/audio")
          .select(lit(0L).as("doc_id"), col("content").as("payload"))
        graft.multimodal.JvmMedia.decodeWavs(s, media).toDF()
          .select(col("doc_id"), col("sample_rate"), col("channels"),
            col("bits"), col("n_samples"),
            round(col("duration_s"), 6).as("duration_s"),
            round(col("rms"), 6).as("rms"))
      },
      None),

    // M47 spectral audio fingerprints (Goertzel band energies →
    // gain-invariant sign features): per-clip frame count, distinct-fp
    // count, and a position-weighted BIGINT checksum — compact enough
    // to pin, yet any flipped bit anywhere shifts it.
    Q("q_audio_fingerprint",
      (s, _) => {
        val media = s.read.format("binaryFile")
          .option("pathGlobFilter", "clip_*.wav")
          .load("/root/repo/fixtures/audio")
          .select(
            regexp_extract(col("path"), "clip_(\\d+)", 1).cast("long").as("doc_id"),
            col("content").as("payload"))
        graft.multimodal.JvmMedia.audioFingerprints(s, media).toDF()
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_frames"),
            countDistinct("fp").as("n_distinct"),
            sum(col("fp") * (col("frame_idx") + 1)).as("fp_checksum"))
      },
      None),

    // M47 audio near-dup: clip_1 is clip_0 re-gained and padded → all
    // fingerprints shared; clip_2's spectrum orders bands differently.
    Q("q_audio_neardup",
      (s, _) => {
        val media = s.read.format("binaryFile")
          .option("pathGlobFilter", "clip_*.wav")
          .load("/root/repo/fixtures/audio")
          .select(
            regexp_extract(col("path"), "clip_(\\d+)", 1).cast("long").as("doc_id"),
            col("content").as("payload"))
        graft.multimodal.JvmMedia.audioNearDups(
          graft.multimodal.JvmMedia.audioFingerprints(s, media).toDF(),
          minOverlap = 0.5)
      },
      None),

    // M51 image metadata scrub: EXIF/tEXt/COM stripping at the container
    // level (no re-encode), with decode-level pixel-fidelity proof.
    // Inputs: committed PNG fixtures dirtied in-query by the
    // deterministic injectors, plus one JDK-encoded JPEG carrying a fake
    // EXIF block — so the scrub provably has something to remove.
    Q("q_image_scrub",
      (s, _) => {
        import s.implicits._
        import graft.multimodal.ImageScrub
        val pngs = s.read.format("binaryFile")
          .option("pathGlobFilter", "img_*.png")
          .load("/root/repo/fixtures/images")
          .select(
            regexp_extract(col("path"), "img_(\\d+)", 1).cast("long").as("doc_id"),
            col("content").as("payload"))
          .as[(Long, Array[Byte])]
          .map { case (id, b) =>
            val dirty =
              if (id % 2 == 0)
                ImageScrub.withPngText(b, "GPS", s"lat=47.37;lon=8.54;id=$id")
              else
                ImageScrub.withPngText(
                  ImageScrub.withPngText(b, "Author", s"user-$id"),
                  "CreationTime", "2026-01-01")
            (id, dirty)
          }.toDF("doc_id", "payload")
        val jpeg = Seq((100L, ImageScrub.withJpegExif(
          graft.sources.LoaderFixtures.jpegFrame(1),
          Array.tabulate[Byte](64)(i => (i * 7).toByte))))
          .toDF("doc_id", "payload")
        ImageScrub.scrubImages(s, pngs.unionAll(jpeg))
      },
      None),

    // MJPEG/AVI container parse: stream dims, frame count, fps, duration —
    // real video metadata decode, no frame decompression.
    Q("q_video_decode",
      (s, _) => {
        val media = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.avi")
          .load("/root/repo/fixtures/video")
          .select(
            regexp_extract(col("path"), "clip_(\\d+)", 1).cast("long").as("doc_id"),
            col("content").as("payload"))
        graft.multimodal.JvmMedia.decodeVideos(s, media).toDF()
          .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
            round(col("fps"), 6).as("fps"),
            round(col("duration_s"), 6).as("duration_s"), col("handler"))
      },
      None),

    // Real frame decode + shot detection: every frame's JPEG payload is
    // decoded (ImageIO), dHashed, and cut-flagged via the lag window —
    // the keyframe-extraction stage of a video pipeline.
    Q("q_video_frames",
      (s, _) => {
        val media = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.avi")
          .load("/root/repo/fixtures/video")
          .select(
            regexp_extract(col("path"), "clip_(\\d+)", 1).cast("long").as("doc_id"),
            col("content").as("payload"))
        val frames = graft.multimodal.JvmMedia
          .sampleVideoFrames(s, media, stride = 2).toDF()
        graft.multimodal.JvmMedia.sceneCuts(frames)
          .select(col("doc_id"), col("frame_idx"), col("d_hash"),
            round(col("mean_lum"), 6).as("mean_lum"),
            col("hamming").cast("long").as("hamming"), col("is_cut"))
      },
      None),

    // Clip-level near-dup over sampled frame hashes: clip_2 is a re-cut
    // of clip_0's first scene (byte-identical frame JPEGs), so their
    // distinct dHash sets overlap fully on the smaller side.
    Q("q_video_neardup",
      (s, _) => {
        val media = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.avi")
          .load("/root/repo/fixtures/video")
          .select(
            regexp_extract(col("path"), "clip_(\\d+)", 1).cast("long").as("doc_id"),
            col("content").as("payload"))
        val frames = graft.multimodal.JvmMedia
          .sampleVideoFrames(s, media, stride = 2).toDF()
        graft.multimodal.JvmMedia.clipNearDups(frames, minOverlap = 0.5)
          .select(col("doc_a"), col("doc_b"), col("shared"),
            col("n_a"), col("n_b"), round(col("overlap"), 6).as("overlap"))
      },
      None),

    // Pinned-literal oracle (OraclePins): WRF_Grid corner
    // reconstruction (wrf.py:23-126) over the committed wrfinput fixture;
    // closed-form corner/area correctness is WrfGridSpec.
    Q("q_wrf_grid",
      (s, _) => {
        val wrf = graft.sources.WrfGrid.read(s, "/root/repo/fixtures/wrfinput.nc")
        wrf.cells.select(
          col("cell_id"),
          round(element_at(col("xs"), 1), 9).as("bl_lon"),
          round(element_at(col("ys"), 1), 9).as("bl_lat"),
          round(element_at(col("xs"), 3), 9).as("tr_lon"),
          round(element_at(col("ys"), 3), 9).as("tr_lat"),
          round(col("area_km2"), 6).as("area_km2"))
      },
      None),

    Q("q_interp_anchors_hourly",
      (s, _) => Temporal.interpolateAnchorsToHourly(s,
        s.range(36).select(
          expr("id div 12").as("profile_id"),
          ((col("id") % 12) * 730 + 365).as("h"),
          ((col("id") % 12 + 1) * (col("id") % 12 + 1)).as("v")),
        hours = 8760),
      Some("""WITH anchors AS (SELECT i // 12 AS profile_id,
        |                        CAST((i % 12) * 730 + 365 AS DOUBLE) AS h,
        |                        CAST((i % 12 + 1) * (i % 12 + 1) AS DOUBLE) AS v,
        |                        0 AS is_spine
        |                 FROM range(36) t(i)),
        |spine AS (SELECT p.profile_id, CAST(j AS DOUBLE) AS h, NULL::DOUBLE AS v, 1 AS is_spine
        |          FROM (SELECT DISTINCT profile_id FROM anchors) p, range(8760) s(j)),
        |u AS (SELECT * FROM anchors UNION ALL SELECT * FROM spine),
        |m AS (SELECT *,
        |        last_value(v IGNORE NULLS) OVER (PARTITION BY profile_id ORDER BY h, is_spine
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |        last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        |          OVER (PARTITION BY profile_id ORDER BY h, is_spine
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |        first_value(v IGNORE NULLS) OVER (PARTITION BY profile_id ORDER BY h, is_spine
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |        first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        |          OVER (PARTITION BY profile_id ORDER BY h, is_spine
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |      FROM u)
        |SELECT profile_id, h,
        |       CASE WHEN pv IS NULL THEN nv
        |            WHEN nv IS NULL THEN pv
        |            WHEN ph = nh THEN pv
        |            ELSE pv + (nv - pv) * ((h - ph) / (nh - ph)) END AS y
        |FROM m WHERE is_spine = 1""".stripMargin)),

    Q("q_winnowing",
      (s, d) => graft.text.TextAnalysis.winnowing(documents(s, d), n = 3, w = 4),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(generate_series(0, len(w) - 3)) AS pos0, w
        |         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |         WHERE len(w) >= 3),
        |g AS (SELECT doc_id, CAST(pos0 AS INT) AS pos,
        |             ${QueriesML.hashSqlOf("(w[pos0 + 1] || ' ' || w[pos0 + 2] || ' ' || w[pos0 + 3])")} AS h
        |      FROM tok),
        |k AS (SELECT doc_id, pos, h * 1048576 + (1048575 - pos) AS key FROM g),
        |m AS (SELECT doc_id, pos,
        |             min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS kmin,
        |             count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS n_grams
        |      FROM k)
        |SELECT DISTINCT doc_id, 1048575 - kmin % 1048576 AS pos,
        |       kmin // 1048576 AS fingerprint
        |FROM m WHERE n_grams = 4""".stripMargin)),

    Q("q_raster_to_inventory",
      (s, d) => {
        val raster = part(s, d).select(
          (col("p_partkey") % 64).as("lon_idx"),
          (expr("p_partkey div 64") % 64).as("lat_idx"),
          concat(lit("v"), col("p_partkey") % 3).as("variable"),
          col("p_size").as("flux"))
        RasterTable.toInventory(s, raster, srcGrid,
          Seq(("v0", "A", "CO2"), ("v1", "A", "CH4"), ("v2", "B", "CO2")))
      },
      Some("""WITH raster AS (SELECT p_partkey % 64 AS lon_idx, (p_partkey // 64) % 64 AS lat_idx,
        |                       'v' || (p_partkey % 3) AS variable, p_size AS flux
        |                FROM part),
        |m AS (SELECT * FROM (VALUES ('v0','A','CO2'), ('v1','A','CH4'), ('v2','B','CO2'))
        |      t(variable, category, substance))
        |SELECT lon_idx * 64 + lat_idx AS cell_id, category, substance,
        |       flux * 31557600.0 AS value
        |FROM raster JOIN m USING (variable)""".stripMargin)),

    Q("q_icon_tz_roll",
      (s, _) => IconExport.tzRoll(
        s.range(240).select(
          expr("id div 24").as("profile_id"),
          (col("id") % 24).cast("int").as("pos"),
          (col("id") / 300.0).as("ratio")),
        shiftHours = 7),
      Some("""SELECT i // 24 AS profile_id, CAST((i % 24 + 7) % 24 AS INT) AS pos,
        |       i / 300.0 AS ratio
        |FROM range(240) t(i)""".stripMargin)),

    Q("q_people_emissions",
      (s, d) => HumanRespiration.peopleToEmissions(s,
        customer(s, d).select(
          (col("c_custkey") % 4096).as("cell_id"),
          when(col("c_nationkey") % 2 === 0, "resident").otherwise("worker")
            .as("people_kind"),
          (col("c_custkey") % 50 + 1).as("n_people")),
        factors = Seq(
          ("resident", "CO2", 0.25), ("resident", "CH4", 0.0625),
          ("worker", "CO2", 0.125)),
        timeRatio = 0.5),
      Some("""WITH pop AS (SELECT c_custkey % 4096 AS cell_id,
        |                    CASE WHEN c_nationkey % 2 = 0 THEN 'resident' ELSE 'worker' END AS people_kind,
        |                    c_custkey % 50 + 1 AS n_people
        |             FROM customer),
        |f AS (SELECT people_kind, substance, CAST(ef AS DOUBLE) AS ef
        |      FROM (VALUES ('resident','CO2',0.25), ('resident','CH4',0.0625),
        |                   ('worker','CO2',0.125)) t(people_kind, substance, ef))
        |SELECT cell_id, 'human_respiration' AS category, substance,
        |       sum(n_people * ef * 0.5) AS value
        |FROM pop JOIN f USING (people_kind) GROUP BY 1, 2, 3""".stripMargin)),

    // The Sutherland–Hodgman clip itself, REPLICATED IN SQL: each clip
    // stage is a DuckDB list-lambda pass over the vertex list using the
    // kernel's exact IEEE formulas (d = signed distance, t = d_i /
    // (d_i - d_j), vertex-then-intersection emit order), followed by the
    // same shoelace — so the oracle is value-level and independent, not
    // rows-only. PolygonCropSpec additionally pins the kernel against
    // the reference's hand-computed triangle×square tables.
    Q("q_crop_polygon",
      (s, d) => PolygonCrop.cropWithPolygon(s, emissionsAgg(s, d), srcGrid,
        Seq((5.0, 5.0), (55.0, 10.0), (30.0, 60.0))),
      Some(CropPolygonOracle)),

    Q("q_multimodal_meta",
      (s, d) => Multimodal.metadata(documents(s, d)),
      Some("""WITH m AS (SELECT doc_id, octet_length(encode(text)) AS byte_len FROM documents)
        |SELECT doc_id, 'image/fake' AS media_type, byte_len,
        |       16 + byte_len % 64 AS width,
        |       16 + (byte_len * 7) % 64 AS height,
        |       1 + byte_len // 100 AS n_frames
        |FROM m""".stripMargin)),

    // frame sampling over the decode stage (stride positions through
    // n_frames) — the declarative explode is engine-portable, so the
    // whole typed mapPartitions -> sequence/explode path oracle-checks.
    Q("q_frame_sample",
      (s, d) => Multimodal.sampleFrames(
        Multimodal.decodeFeatures(s, Multimodal.attachBinary(documents(s, d))),
        stride = 2)
        .select(col("doc_id"), col("frame_idx").cast("int").as("frame_idx")),
      Some("""SELECT doc_id,
        |       CAST(unnest(range(0, 1 + octet_length(encode(text)) // 100, 2)) AS INT)
        |         AS frame_idx
        |FROM documents""".stripMargin)),

    // R8 with the reference's PUBLISHED regroup table: TNO sub-sector
    // labels synthesized from cell_id, grouped through the shipped
    // TNO_2_GNFR mapping (model/CategoryGroups, the data a switching
    // user calls group_categories with —
    // emiproc/inventories/categories_groups.py:100-154).
    Q("q_gnfr_group",
      (s, d) => {
        val cats = Seq("A", "B", "C", "F1", "F2", "F3", "F4", "G", "K")
        val emi = emissions(s, d).withColumn("category",
          element_at(array(cats.map(lit): _*),
            (col("cell_id") % 9 + 1).cast("int")))
        graft.ops.Grouping.groupCategories(
          s, emi, graft.model.CategoryGroups.Tno2Gnfr)
      },
      Some(s"""$EmiCte
        |SELECT cell_id,
        |       CASE WHEN cell_id % 9 IN (3, 4, 5, 6) THEN 'GNFR_F'
        |            ELSE 'GNFR_' || (CASE cell_id % 9 WHEN 0 THEN 'A'
        |                 WHEN 1 THEN 'B' WHEN 2 THEN 'C' WHEN 7 THEN 'G'
        |                 ELSE 'K' END) END AS category,
        |       substance, sum(value) AS value
        |FROM emissions GROUP BY 1, 2, 3""".stripMargin)),

    // R15 with the reference's PUBLISHED Zurich CO2 fossil/bio ratios
    // (model/ZurichData + Speciation.co2BioTable,
    // speciation_co2_bio.py): four Zurich categories with distinct
    // biogenic fractions synthesized onto the fact table, split through
    // the shipped ratio map; integer-valued sums keep the ratio
    // multiplies FP-exact across engines.
    Q("q_co2_bio",
      (s, d) => {
        val keys = Seq(
          "c2301_KHKWKehricht_Emissionen_Kanton",
          "c3410_Bierbrauereien_Emissionen_Kanton",
          "c1301_Personenwagen_Emissionen_Kanton",
          "c2102_Gasheizungen_Emissionen_Kanton")
        val emi = emissions(s, d)
          .withColumn("category",
            element_at(array(keys.map(lit): _*),
              (col("cell_id") % 4 + 1).cast("int")))
          .withColumn("substance",
            when(col("substance") === "F", lit("CO2"))
              .otherwise(col("substance")))
          .groupBy("cell_id", "category", "substance")
          .agg(sum("value").as("value"))
        val table = graft.ops.Speciation.co2BioTable(
          s, graft.model.ZurichData.Co2BioRatios)
        val noFractions = s.createDataFrame(
          Seq.empty[(Long, String, Double)])
          .toDF("cell_id", "country", "fraction")
        graft.ops.Speciation.speciateFromTable(
          s, emi, noFractions, table, substance = "CO2")
      },
      Some(s"""$EmiCte,
        |keys AS (SELECT * FROM (VALUES
        |  (0, 'c2301_KHKWKehricht_Emissionen_Kanton', CAST(0.52 AS DOUBLE)),
        |  (1, 'c3410_Bierbrauereien_Emissionen_Kanton', CAST(1.0 AS DOUBLE)),
        |  (2, 'c1301_Personenwagen_Emissionen_Kanton', CAST(0.023984 AS DOUBLE)),
        |  (3, 'c2102_Gasheizungen_Emissionen_Kanton', CAST(0.0 AS DOUBLE)))
        |  k(i, category, r)),
        |emi AS (SELECT cell_id, k.category AS category,
        |               CASE WHEN substance = 'F' THEN 'CO2' ELSE substance END AS substance,
        |               sum(value) AS value, any_value(r) AS r
        |        FROM emissions JOIN keys k ON k.i = cell_id % 4
        |        GROUP BY 1, 2, 3)
        |SELECT cell_id, category, 'CO2_bio' AS substance, value * r AS value
        |FROM emi WHERE substance = 'CO2'
        |UNION ALL
        |SELECT cell_id, category, 'CO2_fos', value * (1.0 - r)
        |FROM emi WHERE substance = 'CO2'
        |UNION ALL
        |SELECT cell_id, category, substance, value
        |FROM emi WHERE substance <> 'CO2'""".stripMargin)),

    // R19 hole-aware country fractions (the Lesotho rule): a shell
    // country with an interior ring plus the enclave filling it —
    // polygonMask's ring path nets area(cell ∩ shell) − area(cell ∩
    // hole); the oracle recomputes the fractions closed-form with box
    // overlap arithmetic (dyadic values, FP-exact).
    Q("q_country_holes",
      (s, _) => {
        val g = graft.model.RegularGrid(4, 4, 0.0, 0.0, 1.0, 1.0)
        val countries = s.createDataFrame(Seq(
          ("AA", 0, Array(0.0, 4.0, 4.0, 0.0), Array(0.0, 0.0, 4.0, 4.0)),
          ("AA", 1, Array(1.0, 2.5, 2.5, 1.0), Array(1.0, 1.0, 1.5, 1.5)),
          ("BB", 0, Array(1.0, 2.5, 2.5, 1.0), Array(1.0, 1.0, 1.5, 1.5))))
          .toDF("country", "ring", "xs", "ys")
        graft.ops.SpatialJoin.polygonMask(s, g, countries, fractions = true)
      },
      Some("""WITH cells AS (SELECT i AS cell_id,
        |               CAST(i // 4 AS DOUBLE) AS cxmin, CAST(i % 4 AS DOUBLE) AS cymin
        |        FROM range(16) t(i)),
        |ov AS (SELECT cell_id,
        |         greatest(0.0::DOUBLE, least(cxmin + 1.0, 2.5::DOUBLE) - greatest(cxmin, 1.0::DOUBLE)) *
        |         greatest(0.0::DOUBLE, least(cymin + 1.0, 1.5::DOUBLE) - greatest(cymin, 1.0::DOUBLE)) AS hole
        |       FROM cells)
        |SELECT cell_id, 'AA' AS country, 1.0 - hole AS fraction
        |FROM ov WHERE 1.0 - hole > 1e-12
        |UNION ALL
        |SELECT cell_id, 'BB', hole FROM ov WHERE hole > 1e-12""".stripMargin)),

    // R14 combine_inventories (emiproc/inventories/utils.py:687-711 —
    // NotImplementedError in the reference; semantics from its docstring):
    // inside = the 64×64 fine inventory, outside = an independent 32×32
    // coarse inventory (different lineitem hash), boundary = the diagonal
    // triangle (0,0)-(64,0)-(0,64), output = the 33×33 offset grid. The
    // diagonal boundary yields dyadic crop fractions and the grid pairs
    // yield dyadic remap weights, so all products are FP-exact; the final
    // round(6) only guards the union-sum ordering. Oracle replays the
    // Sutherland–Hodgman crop (same IEEE order as BoxPolyClipAreaExpr) on
    // BOTH grids plus both closed-form remap weight tables.
    Q("q_combine_inventories",
      (s, d) => {
        val grid2 = graft.model.RegularGrid(32, 32, 0.0, 0.0, 2.0, 2.0)
        val outsideInv = lineitem(s, d).select(
          (col("l_orderkey") % 1024).as("cell_id"),
          col("l_returnflag").as("category"),
          col("l_linestatus").as("substance"),
          col("l_quantity").as("value"))
          .groupBy("cell_id", "category", "substance")
          .agg(sum("value").as("value"))
        val tri = Seq((0.0, 0.0), (64.0, 0.0), (0.0, 64.0))
        graft.ops.Regrid.combineInventories(
          s, emissionsAgg(s, d), srcGrid, outsideInv, grid2, tri, dstGrid)
          .select(col("cell_id"), col("category"), col("substance"),
            round(col("value"), 6).as("value"))
      },
      Some(CombineInventoriesOracle)),

    // M75 bucket-decomposed interval join: every event matched to the
    // deterministic campaign windows that contain it, both sides at data
    // scale — an EQUI-join on 1-hour buckets + residual range predicate,
    // never a BroadcastNestedLoopJoin (PlanSpec-pinned). The oracle is
    // the plain SQL range join DuckDB evaluates directly; the bucket
    // decomposition must be invisible in the result (lossless, dup-free:
    // each matching pair meets in exactly one bucket — the point's).
    Q("q_interval_join",
      (s, d) => {
        val iv = orders(s, d).where(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey").as("interval_id"),
            (lit(1704067200000000L) +
              (col("o_orderkey") % 720) * lit(3600000000L)).as("lo_us"),
            col("o_custkey"))
          .withColumn("hi_us",
            col("lo_us") + (col("o_custkey") % 6 + 1) * lit(3600000000L))
          .drop("o_custkey")
        val pts = events(s, d)
          .select(col("event_id"), unix_micros(col("ts")).as("v_us"))
        graft.ops.IntervalJoin.intervalJoin(
            pts, iv, "v_us", "lo_us", "hi_us", width = 3600000000L)
          .select(col("interval_id"), col("event_id"),
            (col("v_us") - col("lo_us")).as("offset_us"))
      },
      Some("""WITH iv AS (
        |  SELECT o_orderkey AS interval_id,
        |         1704067200000000 + (o_orderkey % 720) * 3600000000 AS lo_us,
        |         1704067200000000 + (o_orderkey % 720) * 3600000000
        |           + (o_custkey % 6 + 1) * 3600000000 AS hi_us
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT i.interval_id, e.event_id,
        |       (epoch_us(e.ts) - i.lo_us)::BIGINT AS offset_us
        |FROM events e JOIN iv i
        |  ON epoch_us(e.ts) >= i.lo_us AND epoch_us(e.ts) <= i.hi_us"""
        .stripMargin)),

    // M76 relational count-min sketch, point-frequency side: a 4×64 CMS
    // over event user_ids, probed for every key — est_n never
    // undercounts (the one-sided CMS bound, emitted as a contract
    // column). The sketch is a plain (r, c, n) relation and the oracle
    // replays the salted portable hash bit-for-bit, so est_n matches
    // EXACTLY, collisions and all.
    Q("q_cms_frequency",
      (s, d) => {
        val ev = events(s, d)
        val sk = graft.ops.FreqSketch.cmsBuild(ev, "user_id", 4, 64)
        val est = graft.ops.FreqSketch.cmsEstimate(
          sk, ev.select("user_id").distinct(), 4, 64)
        val exact = ev.groupBy(col("user_id").cast("string").as("key"))
          .agg(count(lit(1)).as("exact_n"))
        exact.join(est, "key")
          .select(col("key"), col("exact_n"), col("est_n"),
            (col("est_n") >= col("exact_n")).as("never_under"))
      },
      Some(s"""WITH base AS (SELECT user_id::VARCHAR AS k FROM events),
        |cms AS (SELECT r, ${QueriesML.hashSqlOf("(r::VARCHAR || ':' || k)")} % 64 AS c,
        |               count(*)::BIGINT AS n
        |        FROM base, range(4) t(r) GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT user_id::VARCHAR AS key FROM events),
        |probe AS (SELECT key, r,
        |                 ${QueriesML.hashSqlOf("(r::VARCHAR || ':' || key)")} % 64 AS c
        |          FROM keys, range(4) t(r)),
        |est AS (SELECT key, min(coalesce(n, 0))::BIGINT AS est_n
        |        FROM probe LEFT JOIN cms USING (r, c) GROUP BY 1),
        |ex AS (SELECT user_id::VARCHAR AS key, count(*)::BIGINT AS exact_n
        |       FROM events GROUP BY 1)
        |SELECT ex.key, exact_n, est_n, est_n >= exact_n AS never_under
        |FROM ex JOIN est USING (key)""".stripMargin)),

    // M76 CMS join-size estimate: |events ⨝ user_id=o_custkey orders|
    // predicted from two 4×256 sketches via the CMS inner product —
    // the "how big would this join be" answer a 100 TB planner wants
    // BEFORE paying for the join. The gate certifies one-sidedness
    // against the exact size (computed here once; steady state runs
    // sketches only).
    Q("q_cms_join_size",
      (s, d) => {
        val a = graft.ops.FreqSketch.cmsBuild(events(s, d), "user_id", 4, 256)
        val b = graft.ops.FreqSketch.cmsBuild(orders(s, d), "o_custkey", 4, 256)
        val est = graft.ops.FreqSketch.cmsJoinSize(a, b, depth = 4)
        val exact = events(s, d).groupBy(col("user_id").as("k"))
          .agg(count(lit(1)).as("na"))
          .join(orders(s, d).groupBy(col("o_custkey").as("k"))
            .agg(count(lit(1)).as("nb")), "k")
          .agg(sum(col("na") * col("nb")).as("exact_join_size"))
        est.crossJoin(exact)
          .select(col("est_join_size"), col("exact_join_size"),
            (col("est_join_size") >= col("exact_join_size")).as("never_under"))
      },
      Some(s"""WITH ea AS (SELECT user_id::VARCHAR AS k FROM events),
        |eb AS (SELECT o_custkey::VARCHAR AS k FROM orders),
        |ca AS (SELECT r, ${QueriesML.hashSqlOf("(r::VARCHAR || ':' || k)")} % 256 AS c,
        |              count(*)::BIGINT AS n
        |       FROM ea, range(4) t(r) GROUP BY 1, 2),
        |cb AS (SELECT r, ${QueriesML.hashSqlOf("(r::VARCHAR || ':' || k)")} % 256 AS c,
        |              count(*)::BIGINT AS n
        |       FROM eb, range(4) t(r) GROUP BY 1, 2),
        |dots AS (SELECT ca.r, sum(ca.n * cb.n)::BIGINT AS dot
        |         FROM ca JOIN cb ON ca.r = cb.r AND ca.c = cb.c GROUP BY 1),
        |est AS (SELECT min(coalesce(dot, 0))::BIGINT AS est_join_size
        |        FROM range(4) t(r) LEFT JOIN dots ON t.r = dots.r),
        |ex AS (SELECT sum(na * nb)::BIGINT AS exact_join_size FROM
        |         (SELECT user_id AS k, count(*) AS na FROM events GROUP BY 1) a
        |         JOIN (SELECT o_custkey AS k, count(*) AS nb FROM orders
        |               GROUP BY 1) b USING (k))
        |SELECT est_join_size, exact_join_size,
        |       est_join_size >= exact_join_size AS never_under
        |FROM est, ex""".stripMargin)),

    // M77 HDR-histogram quantiles: per-source p50/p90/p99.9 of document
    // length from the deterministic significant-bits histogram — every
    // bucket boundary, rank and answer exact integer arithmetic both
    // engines replay (no float log2, no randomized sketch state).
    Q("q_hdr_quantiles",
      (s, d) => {
        val hist = graft.ops.Quantiles.hdrBuild(
          documents(s, d), "n_chars", sigBits = 5, groupCols = Seq("source"))
        graft.ops.Quantiles.hdrQuantiles(
          hist, Seq(500000L, 900000L, 999000L), groupCols = Seq("source"))
      },
      Some("""WITH v AS (SELECT source, n_chars AS v FROM documents),
        |b AS (SELECT source,
        |        ((v >> greatest(length(bin(v)) - 5, 0))
        |          << greatest(length(bin(v)) - 5, 0))::BIGINT AS bucket,
        |        count(*)::BIGINT AS n
        |      FROM v GROUP BY 1, 2),
        |c AS (SELECT *, sum(n) OVER (PARTITION BY source ORDER BY bucket
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(n) OVER (PARTITION BY source) AS total FROM b),
        |q(q_ppm) AS (VALUES (500000::BIGINT), (900000::BIGINT),
        |                    (999000::BIGINT))
        |SELECT source, q_ppm, min(bucket)::BIGINT AS value
        |FROM c JOIN q ON c.cum * 1000000 >= q.q_ppm * c.total
        |GROUP BY 1, 2""".stripMargin))
  )

  /** Triangle-crop weight CTEs for a regular grid, parametrized by CTE
    * prefix: mirrors PolygonCrop.cellWeights(grid, triangle) — the same
    * 4 half-plane stages + shoelace as [[CropPolygonOracle]], divided by
    * the grid's cell area. */
  private def triClipCtes(
      p: String, ncells: Int, nyCells: Int, cellSize: Double): String = {
    val cs = cellSize
    s"""${p}cells AS MATERIALIZED (SELECT i AS cell_id,
       |            (i // $nyCells) * $cs AS bx0, (i % $nyCells) * $cs AS by0,
       |            (i // $nyCells) * $cs + $cs AS bx1, (i % $nyCells) * $cs + $cs AS by1
       |          FROM range($ncells) t(i)),
       |${p}p0 AS MATERIALIZED (SELECT cell_id, bx0, by0, bx1, by1,
       |         [{'x': 0.0, 'y': 0.0}, {'x': 64.0, 'y': 0.0},
       |          {'x': 0.0, 'y': 64.0}] AS vs
       |       FROM ${p}cells),
       |${shClipStage(s"${p}p0", s"${p}p1", "(V.x - bx0)")},
       |${shClipStage(s"${p}p1", s"${p}p2", "(bx1 - V.x)")},
       |${shClipStage(s"${p}p2", s"${p}p3", "(V.y - by0)")},
       |${shClipStage(s"${p}p3", s"${p}p4", "(by1 - V.y)")},
       |${p}w AS MATERIALIZED (SELECT cell_id,
       |        CASE WHEN len(vs) < 3 THEN 0.0 ELSE
       |          abs(list_sum(list_transform(range(1, len(vs) + 1),
       |            i -> vs[i].x * vs[(i % len(vs)) + 1].y
       |               - vs[(i % len(vs)) + 1].x * vs[i].y))) / 2.0
       |        END / ${cs * cs} AS weight
       |      FROM ${p}p4)""".stripMargin
  }

  /** Full SQL oracle for q_combine_inventories: crop replay on both grids,
    * closed-form remap weights for both grid→output pairs, union + sum. */
  private lazy val CombineInventoriesOracle: String =
    s"""$EmiAggCte,
       |emi2 AS (SELECT l_orderkey % 1024 AS cell_id, l_returnflag AS category,
       |                l_linestatus AS substance, sum(l_quantity) AS value
       |         FROM lineitem GROUP BY 1, 2, 3),
       |${triClipCtes("a", 4096, 64, 1.0)},
       |${triClipCtes("b", 1024, 32, 2.0)},
       |cin AS (SELECT e.cell_id, category, substance,
       |               e.value * coalesce(w.weight, 0.0) AS value
       |        FROM emi e LEFT JOIN aw w ON w.cell_id = e.cell_id
       |        WHERE e.value * coalesce(w.weight, 0.0) <> 0),
       |cout AS (SELECT e.cell_id, category, substance,
       |                e.value * (1.0 - coalesce(w.weight, 0.0)) AS value
       |         FROM emi2 e LEFT JOIN bw w ON w.cell_id = e.cell_id
       |         WHERE e.value * (1.0 - coalesce(w.weight, 0.0)) <> 0),
       |dstc AS (SELECT j AS dst_cell,
       |               -0.5 + (j // 33) * 2.0 AS dxmin, -0.5 + (j % 33) * 2.0 AS dymin,
       |               -0.5 + (j // 33) * 2.0 + 2.0 AS dxmax, -0.5 + (j % 33) * 2.0 + 2.0 AS dymax
       |         FROM range(1089) t(j)),
       |arw AS (SELECT cell_id AS src_cell, dst_cell,
       |              (least(bx1, dxmax) - greatest(bx0, dxmin)) *
       |              (least(by1, dymax) - greatest(by0, dymin)) / 1.0 AS weight
       |        FROM acells s JOIN dstc d
       |          ON s.bx0 < d.dxmax AND s.bx1 > d.dxmin
       |         AND s.by0 < d.dymax AND s.by1 > d.dymin),
       |brw AS (SELECT cell_id AS src_cell, dst_cell,
       |              (least(bx1, dxmax) - greatest(bx0, dxmin)) *
       |              (least(by1, dymax) - greatest(by0, dymin)) / 4.0 AS weight
       |        FROM bcells s JOIN dstc d
       |          ON s.bx0 < d.dxmax AND s.bx1 > d.dxmin
       |         AND s.by0 < d.dymax AND s.by1 > d.dymin),
       |rin AS (SELECT dst_cell AS cell_id, category, substance,
       |               sum(value * weight) AS value
       |        FROM cin JOIN arw ON cin.cell_id = arw.src_cell GROUP BY 1, 2, 3),
       |rout AS (SELECT dst_cell AS cell_id, category, substance,
       |                sum(value * weight) AS value
       |         FROM cout JOIN brw ON cout.cell_id = brw.src_cell GROUP BY 1, 2, 3)
       |SELECT cell_id, category, substance, round(sum(value), 6) AS value
       |FROM (SELECT * FROM rin UNION ALL SELECT * FROM rout)
       |GROUP BY 1, 2, 3""".stripMargin
}
