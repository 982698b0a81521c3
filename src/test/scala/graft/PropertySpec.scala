package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.model.RegularGrid
import graft.ops.{Grouping, Regrid, Speciation}
import graft.profiles.Profiles

/** Property-style invariants over seeded random inputs — the reference's
  * oracle families (SURVEY §5 / FIXTURES.md §5): mass conservation,
  * weight bounds, ratio normalization, speciation totals. */
class PropertySpec extends SparkSpec {

  private val rnd = new Random(42)

  private def randomGridPair(): (RegularGrid, RegularGrid) = {
    val src = RegularGrid(2 + rnd.nextInt(6), 2 + rnd.nextInt(6), 0.0, 0.0, 1.0, 1.0)
    // dst covers src with margin; dyadic offset/size so sums stay exact
    val off = -1.0 - rnd.nextInt(3) * 0.25
    val d = 1.0 + rnd.nextInt(3) * 0.5
    val nx = math.ceil((src.xmax - off + 1.0) / d).toInt
    val ny = math.ceil((src.ymax - off + 1.0) / d).toInt
    (src, RegularGrid(nx, ny, off, off, d, d))
  }

  private def randomInv(g: RegularGrid) = {
    val rows = (0 until 30).map { _ =>
      (rnd.nextLong(g.ncells), s"c${rnd.nextInt(3)}", s"s${rnd.nextInt(2)}",
        (1 + rnd.nextInt(100)).toDouble)
    }
    spark.createDataFrame(rows).toDF("cell_id", "category", "substance", "value")
  }

  test("property: weights in (0,1], per-src sum == 1 under covering dst") {
    (1 to 6).foreach { _ =>
      val (src, dst) = randomGridPair()
      val rows = Regrid.weights(spark, src, dst).collect()
      assert(rows.forall(r => r.getDouble(2) > 0 && r.getDouble(2) <= 1.0 + 1e-12))
      rows.groupBy(_.getLong(0)).foreach { case (_, ws) =>
        assert(math.abs(ws.map(_.getDouble(2)).sum - 1.0) < 1e-9)
      }
    }
  }

  test("property: remap conserves per-(cat,sub) mass") {
    (1 to 6).foreach { _ =>
      val (src, dst) = randomGridPair()
      val emi = randomInv(src)
      val diff = Grouping.conservationDiff(
        emi, Regrid.remapInventory(spark, emi, src, dst)).collect()
      diff.foreach(r => assert(math.abs(r.getDouble(4)) < 1e-9))
    }
  }

  test("property: normalize yields ratios summing to 1, preserving support") {
    (1 to 6).foreach { _ =>
      val rows = (0 until 40).map { i =>
        (rnd.nextInt(5), i, (1 + rnd.nextInt(50)).toDouble)
      }
      val p = spark.createDataFrame(rows).toDF("profile_id", "pos", "w")
      val sums = Profiles.normalize(p)
        .groupBy("profile_id").agg(sum("ratio")).collect()
      sums.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-12))
    }
  }

  test("property: speciation daughters sum to parent x ratio-sum") {
    (1 to 6).foreach { _ =>
      val emi = randomInv(RegularGrid(4, 4, 0, 0, 1, 1))
      val r1 = 0.25 * (1 + rnd.nextInt(3))
      val r2 = 0.25 * (1 + rnd.nextInt(3))
      val out = Speciation.speciate(spark, emi, Seq(
        ("c0", "s0", "d1", r1), ("c0", "s0", "d2", r2)))
      val tin = totalsBySub(emi).getOrElse(("c0", "s0"), 0.0)
      val t = totalsBySub(out)
      val daughters = t.getOrElse(("c0", "d1"), 0.0) + t.getOrElse(("c0", "d2"), 0.0)
      assert(math.abs(daughters - tin * (r1 + r2)) < 1e-9)
    }
  }

  test("property: NetCDF writer round-trips random variables bit-exactly") {
    import graft.sources.NetcdfClassic
    import graft.sinks.NetcdfWriter
    import graft.sinks.NetcdfWriter.WriteVar
    import NetcdfClassic.{NcDim, NcDouble, NcFloat, NcInt, NcShort}
    (1 to 8).foreach { _ =>
      val nx = 1 + rnd.nextInt(7); val ny = 1 + rnd.nextInt(5)
      val recs = rnd.nextInt(4)
      val doubles = Array.fill(nx * ny)(rnd.nextDouble() * 1e6 - 5e5)
      val floats = Array.fill(nx * ny)(rnd.nextFloat().toDouble) // exact in double
      val ints = Array.fill(nx)(rnd.nextInt().toDouble)
      val shorts = Array.fill(ny)(rnd.nextInt(65536).toShort.toDouble)
      val recData = Array.fill(recs * nx)(rnd.nextDouble())
      val version = 1 + rnd.nextInt(2)
      val bytes = NetcdfWriter.write(
        Seq(NcDim("t", 0), NcDim("y", ny), NcDim("x", nx)),
        Nil,
        Seq(
          WriteVar("d", Seq("y", "x"), NcDouble, doubles = doubles),
          WriteVar("f", Seq("y", "x"), NcFloat, doubles = floats),
          WriteVar("i", Seq("x"), NcInt, doubles = ints),
          WriteVar("s", Seq("y"), NcShort, doubles = shorts),
          WriteVar("r", Seq("t", "x"), NcDouble, doubles = recData)),
        numrecs = recs, version = version)
      val f = NetcdfClassic.readHeader(bytes)
      assert(f.version == version && f.numrecs == recs)
      assert(NetcdfClassic.readVarDoubles(bytes, f, "d").toSeq == doubles.toSeq)
      assert(NetcdfClassic.readVarDoubles(bytes, f, "f").toSeq == floats.toSeq)
      assert(NetcdfClassic.readVarDoubles(bytes, f, "i").toSeq == ints.toSeq)
      assert(NetcdfClassic.readVarDoubles(bytes, f, "s").toSeq == shorts.toSeq)
      assert(NetcdfClassic.readVarDoubles(bytes, f, "r").toSeq == recData.toSeq)
    }
  }

  test("property: FileGDB shapes round-trip on the quantization lattice") {
    import GdbFixtures._
    import graft.sources.FileGdb
    import graft.sources.FileGdb._
    (1 to 8).foreach { _ =>
      // coordinates on the 1e-4 lattice (the fixture xyscale) round-trip
      // exactly through the varint delta encoding
      def coord(): Double = math.round(rnd.nextDouble() * 2e7 - 1e7) / 1e4
      val nPts = 2 + rnd.nextInt(6)
      val nParts = 1 + rnd.nextInt(2)
      val parts = (0 until nParts).map(_ =>
        (0 until nPts).map(_ => (coord(), coord())))
      val shapeType = if (rnd.nextBoolean()) 3 else 5
      val fields = Seq(
        FField("OBJECTID", TObjectId),
        FField("v", TFloat64, nullable = true),
        FField("SHAPE", TGeometry, nullable = true))
      val dir = java.nio.file.Files.createTempDirectory("gdbprop")
      val (t, tx) = buildTable(fields, Seq(
        Seq(FNull, FDouble(rnd.nextDouble()), FShape(shapeType, parts))))
      java.nio.file.Files.write(dir.resolve("p.gdbtable"), t)
      java.nio.file.Files.write(dir.resolve("p.gdbtablx"), tx)
      val (_, rows) = FileGdb.readTable(dir.resolve("p.gdbtable").toString)
      val s = rows(0)("SHAPE").asInstanceOf[Shape]
      assert(s.shapeType == shapeType)
      assert(s.xs.size == nParts)
      parts.zipWithIndex.foreach { case (p, k) =>
        p.zipWithIndex.foreach { case ((x, y), i) =>
          assert(math.abs(s.xs(k)(i) - x) < 1e-9, s"x($k,$i)")
          assert(math.abs(s.ys(k)(i) - y) < 1e-9, s"y($k,$i)")
        }
      }
    }
  }

  test("property: WKB round-trips random multi-ring polygons bit-exactly") {
    import graft.sources.Wkb
    (1 to 8).foreach { _ =>
      val nPolys = 1 + rnd.nextInt(3)
      val polys = Seq.fill(nPolys) {
        val nRings = 1 + rnd.nextInt(3)
        Seq.fill(nRings) {
          val n = 3 + rnd.nextInt(6)
          val xs = Array.fill(n)(rnd.nextDouble() * 360 - 180)
          val ys = Array.fill(n)(rnd.nextDouble() * 180 - 90)
          (xs :+ xs.head, ys :+ ys.head) // close the ring
        }
      }
      val g = Wkb.decode(Wkb.encodeMultiPolygon(polys))
      assert(g.kind == "multipolygon")
      val got = g.parts.map(p => (p.part, p.ring, p.xs.toSeq, p.ys.toSeq))
      val want = polys.zipWithIndex.flatMap { case (rings, pi) =>
        rings.zipWithIndex.map { case ((xs, ys), ri) =>
          (pi, ri, xs.toSeq, ys.toSeq)
        }
      }
      assert(got == want)
    }
  }

  test("property: OSM stitcher reassembles a segmented ring under reversals") {
    import graft.sources.OsmJson
    (1 to 10).foreach { _ =>
      val n = 6 + rnd.nextInt(10)
      val ringNodes = (0 until n).map(i => 100L + i) :+ 100L // closed
      // cut into consecutive segments of >= 2 nodes (shared endpoints)
      val cuts = (1 until n).filter(_ => rnd.nextBoolean()).take(3).sorted
      val bounds = (0 +: cuts :+ n).distinct
      val segments = bounds.sliding(2).map { case Seq(a, b) =>
        ringNodes.slice(a, b + 1)
      }.toSeq
      // randomly reverse segments after the first (the stitcher matches
      // either endpoint and reverses as needed, osm.py:105-133)
      val ways = segments.head +: segments.tail.map(s =>
        if (rnd.nextBoolean()) s.reverse else s)
      val json =
        ("""{"elements": [""" +
          ringNodes.distinct.map(id =>
            s"""{"type": "node", "id": $id, "lon": ${(id % 37) / 10.0}, "lat": ${(id % 23) / 10.0}}""")
            .mkString(",") + "," +
          ways.zipWithIndex.map { case (w, i) =>
            s"""{"type": "way", "id": ${500 + i}, "nodes": [${w.mkString(",")}]}"""
          }.mkString(",") + "," +
          s"""{"type": "relation", "id": 900, "members": [""" +
          ways.indices.map(i =>
            s"""{"type": "way", "ref": ${500 + i}, "role": "outer"}""")
            .mkString(",") +
          """], "tags": {"type": "multipolygon"}}]}""")
      val dir = java.nio.file.Files.createTempDirectory("osmprop")
      val p = dir.resolve("ring.json")
      java.nio.file.Files.write(p, json.getBytes("UTF-8"))
      val parts = OsmJson.read(spark, p.toString).collect()
      Caching.release()
      assert(parts.length == 1, s"segments=$segments ways=$ways")
      val r = parts.head
      assert(r.getString(6) == "polygon")
      // the ring visits every node exactly once plus the closing vertex
      assert(r.getSeq[Double](7).length == n + 1)
    }
  }

  test("property: paragraphDedup accounting and lossless high-threshold pass") {
    import graft.dedup.Dedup
    (1 to 4).foreach { round =>
      val vocab = 5 + round // small vocab forces cross-doc chunk collisions
      val docs = spark.createDataFrame((0L until 25L).map { i =>
        val n = 4 + rnd.nextInt(12)
        (i, Seq.fill(n)(s"w${rnd.nextInt(vocab)}").mkString(" "))
      }).toDF("doc_id", "text")
      val chunkWords = 1 + rnd.nextInt(3)
      val out = Dedup.paragraphDedup(docs, chunkWords, minDocs = 2).collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // every doc survives; chunk accounting matches the text length;
      // clean_text is a subsequence of the original chunks in order
      assert(out.keySet == texts.keySet)
      out.foreach { case (id, (clean, nChunks, nDropped)) =>
        val words = texts(id).split(" ")
        val expChunks = math.ceil(words.length.toDouble / chunkWords).toLong
        assert(nChunks == expChunks, s"doc $id")
        val chunks = words.grouped(chunkWords).map(_.mkString(" ")).toSeq
        val kept = if (clean.isEmpty) Seq.empty else {
          // reconstruct kept chunks by matching greedily in order
          var rest = chunks
          val keptChunks = scala.collection.mutable.Buffer[String]()
          var remaining = clean
          while (remaining.nonEmpty) {
            val c = rest.find(ch => remaining == ch ||
              remaining.startsWith(ch + " ")).getOrElse(
              fail(s"doc $id: '$remaining' not prefixed by any chunk"))
            keptChunks += c
            rest = rest.drop(rest.indexOf(c) + 1)
            remaining = remaining.drop(c.length).stripPrefix(" ")
          }
          keptChunks.toSeq
        }
        assert(kept.size + nDropped == nChunks, s"doc $id accounting")
      }
      // with an impossible minDocs the pass is lossless
      val lossless = Dedup.paragraphDedup(docs, chunkWords, minDocs = 1000)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(lossless == texts, "minDocs beyond corpus size must keep all text")
    }
  }

  test("property: ring weights conserve net polygon area inside the grid") {
    val g = RegularGrid(8, 8, 0.0, 0.0, 1.0, 1.0)
    (1 to 6).foreach { seed =>
      val r = new Random(seed)
      // random shell within the grid, dyadic coords; random hole inside
      def d(lo: Double, hi: Double) = lo + r.nextInt(((hi - lo) * 4).toInt) / 4.0
      val (sx0, sy0) = (d(0, 4), d(0, 4))
      val (sx1, sy1) = (d(sx0 + 1, 8), d(sy0 + 1, 8))
      val (hx0, hy0) = (d(sx0, sx1 - 0.25), d(sy0, sy1 - 0.25))
      val (hx1, hy1) = (d(hx0 + 0.25, sx1), d(hy0 + 0.25, sy1))
      val rows = Seq(
        ("P", 0, Array(sx0, sx1, sx1, sx0), Array(sy0, sy0, sy1, sy1)),
        ("P", 1, Array(hx0, hx1, hx1, hx0), Array(hy0, hy0, hy1, hy1)))
      val df = spark.createDataFrame(rows).toDF("poly_id", "ring", "xs", "ys")
      val total = graft.ops.SpatialJoin.polyGridWeightsRings(spark, g, df)
        .agg(org.apache.spark.sql.functions.sum("area")).head.getDouble(0)
      val expected =
        (sx1 - sx0) * (sy1 - sy0) - (hx1 - hx0) * (hy1 - hy0)
      assert(math.abs(total - expected) < 1e-9,
        s"seed=$seed total=$total expected=$expected")
    }
  }

  test("property: PII scrub is idempotent and counts match placeholders") {
    val words = Seq("alpha", "beta", "a.b+c@mail-x.org", "10.20.30.40",
      "+4179123456789", "1.2.3", "gamma@no", "+12", "x@y.io")
    val docs = spark.createDataFrame((0L until 40L).map { i =>
      val r = new Random(i)
      (i, Seq.fill(12)(words(r.nextInt(words.length))).mkString(" "))
    }).toDF("doc_id", "text")
    val once = graft.text.PiiScrub.scrub(docs).select(
      col("doc_id"), col("clean"), col("n_emails"), col("n_ips"), col("n_phones"))
    val rows = once.collect()
    rows.foreach { r =>
      val clean = r.getString(1)
      // every removal left exactly one typed placeholder
      assert("<EMAIL>".r.findAllIn(clean).length == r.getInt(2))
      assert("<IP>".r.findAllIn(clean).length == r.getInt(3))
      assert("<PHONE>".r.findAllIn(clean).length == r.getInt(4))
    }
    // scrubbing scrubbed text changes nothing and finds nothing
    val twice = graft.text.PiiScrub.scrub(
      once.select(col("doc_id"), col("clean").as("text"))).collect()
    val cleanById = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    twice.foreach { r =>
      assert(r.getAs[String]("clean") == cleanById(r.getLong(0)))
      assert(r.getAs[Int]("n_emails") + r.getAs[Int]("n_ips") +
        r.getAs[Int]("n_phones") == 0)
    }
  }

  test("property: URL canonicalization is idempotent over crawl variants") {
    val urls = (0L until 60L).map { i =>
      val r = new Random(i)
      val scheme = Seq("http", "HTTP", "https", "HTTPS")(r.nextInt(4))
      val port = Seq("", ":80", ":443", ":8080")(r.nextInt(4))
      val params = Random.javaRandomToRandom(new java.util.Random(i))
        .shuffle(Seq("utm_source=x", "b=2", "a=1", "fbclid=z", "z=9"))
        .take(1 + r.nextInt(4)).mkString("&")
      val frag = Seq("", "#sec")(r.nextInt(2))
      (i, s"$scheme://Host${i % 7}.Example.COM$port/p/${i % 13}?$params$frag")
    }
    val docs = spark.createDataFrame(urls).toDF("doc_id", "url")
    val c1 = docs.select(col("doc_id"), graft.text.UrlOps.canonical(col("url")).as("url"))
    val c2 = c1.select(col("doc_id"), graft.text.UrlOps.canonical(col("url")).as("url"))
    val m1 = c1.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val m2 = c2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m1 == m2, "canonical must be a fixpoint")
    m1.values.foreach { u =>
      assert(!u.contains("#") && !u.contains("utm_") && !u.contains("fbclid"))
      assert(u.startsWith("http://host") || u.startsWith("https://host"))
    }
  }

  test("property: FIM splits reconstruct exactly and are deterministic") {
    val texts = (0 until 50).map { i =>
      val n = rnd.nextInt(120) // includes 0-length
      (i.toLong, (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    }
    val d = spark.createDataFrame(texts).toDF("doc_id", "text")
    def run() = graft.text.TextAnalysis.fimSplit(d).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    val a = run(); val b = run()
    assert(a == b, "fimSplit must be deterministic")
    texts.foreach { case (id, t) =>
      val (p, m, s) = a(id)
      assert(p + m + s == t, s"doc $id: FIM parts must reconstruct the text")
    }
    // the cuts actually move: over 50 docs, not everything is one part
    assert(a.values.count(v => v._2.nonEmpty) > 10, "middles all empty?")
  }

  test("property: CDC chunks reconstruct any text exactly, in order") {
    // random low-alphabet texts (high boundary-collision rates) plus
    // degenerate shapes: single word, all-identical words, empty-ish
    val texts = (0 until 40).map { i =>
      val n = 1 + rnd.nextInt(80)
      (i.toLong, (0 until n).map(_ => s"w${rnd.nextInt(12)}").mkString(" "))
    } ++ Seq((100L, "solo"), (101L, Seq.fill(50)("same").mkString(" ")))
    val d = spark.createDataFrame(texts).toDF("doc_id", "text")
    Seq(2, 8, 64).foreach { mod => // mod > any hash: single tail chunk
      val rebuilt = graft.text.TextAnalysis.cdcChunks(d, boundaryMod = mod)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (id, rs) =>
          id -> rs.sortBy(_.getLong(1)).map(_.getString(2)).mkString(" ") }
      texts.foreach { case (id, t) =>
        assert(rebuilt(id) == t, s"doc $id not reconstructed at mod=$mod")
      }
    }
  }

  test("property: release manifest is invariant under ordering and partitioning") {
    // the manifest's additive checksum + aggregates must be identical
    // for ANY physical arrangement of the same logical corpus — the
    // property that makes the artifact citable from a 1000-executor run
    val texts = (0 until 60).map { i =>
      val n = 1 + rnd.nextInt(30)
      (i.toLong, (0 until n).map(_ => s"t${rnd.nextInt(50)}").mkString(" "))
    }
    val d = spark.createDataFrame(texts).toDF("doc_id", "text")
    val base = collectSet(graft.ops.CorpusStats.releaseManifest(d, shards = 4))
    val variants = Seq(
      d.orderBy(col("text").desc),
      d.repartition(7, col("doc_id")),
      d.repartition(1),
      d.orderBy(rand(7)))
    variants.foreach { v =>
      assert(collectSet(graft.ops.CorpusStats.releaseManifest(v, shards = 4)) == base)
    }
  }

  test("property: snapshotDiff statuses partition the id space; lengths consistent") {
    val olds = (0 until 40).map(i =>
      (i.toLong, if (rnd.nextInt(5) == 0) null else s"v${rnd.nextInt(3)}"))
    val news = (20 until 60).map(i =>
      (i.toLong, if (rnd.nextInt(5) == 0) null else s"v${rnd.nextInt(3)}"))
    val out = graft.ops.CorpusStats.snapshotDiff(
      spark.createDataFrame(olds).toDF("doc_id", "text"),
      spark.createDataFrame(news).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val om = olds.toMap; val nm = news.toMap
    assert(out.map(_._1).toSet == (om.keySet ++ nm.keySet)) // total, no dup
    assert(out.length == (om.keySet ++ nm.keySet).size)
    out.foreach { case (id, status, ol, nl) =>
      val expected =
        if (!om.contains(id)) "added"
        else if (!nm.contains(id)) "removed"
        else if (om(id) == nm(id)) "unchanged" // null == null → unchanged
        else "changed"
      assert(status == expected, s"doc $id: $status != $expected")
      assert(ol == (if (om.contains(id) && om(id) != null) om(id).length.toLong else -1L))
      assert(nl == (if (nm.contains(id) && nm(id) != null) nm(id).length.toLong else -1L))
    }
  }

  test("property: TopK.perGroup == per-group sortBy(order).take(k) with " +
    "ranks 1..min(k, n), under heavy ties") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    import graft.ops.TopK
    // mostly small groups (sizes below k included), few score values
    // (heavy ties), unique ids that run against the input order
    val rowsGen = for {
      n <- Gen.choose(0, 120)
      groups <- Gen.listOfN(n,
        Gen.frequency(8 -> Gen.choose(0, 2), 1 -> Gen.choose(3, 9)))
      scores <- Gen.listOfN(n, Gen.choose(0, 3))
    } yield groups.zip(scores).zipWithIndex.map { case ((g, sc), i) =>
      (g, sc, (n - i) * 31L)
    }
    val prop = Prop.forAll(rowsGen, Gen.oneOf(1, 3, 50)) { (rows, k) =>
      val df = spark.createDataFrame(rows).toDF("g", "score", "id").repartition(8)
      val got = TopK.perGroup(df, Seq(col("g")),
          Seq(col("score").desc, col("id").asc), k)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      val want = rows.groupBy(_._1).values.flatMap { grp =>
        grp.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex
          .map { case ((g, sc, id), i) => (g, sc, id, i + 1) }
      }
      got.length == want.size && got.toSet == want.toSet
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(15).withInitialSeed(Seed(42L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))

    val df = spark.createDataFrame(Seq((0, 9, 1L), (0, 8, 2L), (1, 7, 3L)))
      .toDF("g", "rank", "id")
    intercept[IllegalArgumentException](
      TopK.perGroup(df, Seq(col("g")), Seq(col("id")), 0))
    // a custom rankCol numbers the rows and leaves a user `rank` as is
    val named = TopK.perGroup(df, Seq(col("g")), Seq(col("id")), 1, "pos")
    assert(named.columns.toSeq == Seq("g", "rank", "id", "pos"))
    assert(named.collect().map(r => (r.getInt(1), r.getInt(3))).toSet ==
      Set((9, 1), (7, 1)))
  }

  test("property: the persisted search's driver query stage equals the " +
    "relational probes + LUT fold bit for bit") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    import graft.similarity.Similarity
    type Cents = Seq[(Long, Seq[Double], Double)]
    type Book = Seq[(Long, Seq[Double])]
    type Qs = Seq[(Long, Seq[Double])]
    type Rows = Seq[(Long, Long, Seq[Seq[Long]])]
    // the index-order self-dot the writers persist as cn
    def selfDot(v: Seq[Double]) = v.foldLeft(0.0)((acc, x) => acc + x * x)
    def bits(luts: collection.Seq[collection.Seq[Double]]): Seq[Seq[Long]] =
      luts.map(_.map(java.lang.Double.doubleToRawLongBits).toList).toList
    def arrs(qs: Qs) = qs.map { case (i, v) => (i, v.toArray) }
    def stageCents(cents: Cents) =
      Similarity.cents(cents.map { case (i, v, cn) => (i, v.toArray, cn) })
    def stageBook(book: Book, m: Int, subDim: Int, cmod: Int) =
      Similarity.adcBook(book.map { case (i, v) => (i, v.toArray) }, m,
        subDim, cmod)
    def driverRows(rows: Seq[(Long, Long, Seq[Seq[Double]])]): Rows =
      rows.map { case (q, l, luts) => (q, l, bits(luts)) }
    // the raw IVF+PQ stage: probes, each with the query's LUTs
    def driver(qs: Qs, cents: Cents, book: Book,
        m: Int, subDim: Int, cmod: Int, nprobe: Int): Rows =
      driverRows(Similarity.probeLuts(arrs(qs), stageCents(cents),
        stageBook(book, m, subDim, cmod), nprobe))
    // flat PQ: LUTs only, no probes
    def driverFlat(qs: Qs, book: Book, m: Int, subDim: Int, cmod: Int) =
      qs.map { case (q, v) =>
        (q, bits(Similarity.luts(v.toArray, stageBook(book, m, subDim, cmod))))
      }
    def driverResidual(qs: Qs, cents: Cents, book: Book,
        m: Int, subDim: Int, cmod: Int, nprobe: Int): Rows =
      driverRows(Similarity.residualLuts(arrs(qs), stageCents(cents),
        stageBook(book, m, subDim, cmod), nprobe))
    def qvDf(qs: Qs) = spark.createDataFrame(qs).toDF("query_id", "v")
    def centsDf(cents: Cents) =
      spark.createDataFrame(cents).toDF("list_id", "cv", "cn")
    def booksDf(book: Book, m: Int, subDim: Int) = Similarity.subspaceBooks(
      spark.createDataFrame(book).toDF("centroid_id", "v"), m, subDim)
    def relRows(df: org.apache.spark.sql.DataFrame): Rows =
      df.select("query_id", "list_id", "luts").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          bits(r.getSeq[collection.Seq[Double]](2))))
        .toSeq
    def relational(qs: Qs, cents: Cents, book: Book,
        m: Int, subDim: Int, cmod: Int, nprobe: Int): Rows = {
      val qv = qvDf(qs)
      relRows(AdcReference.ivfProbesQ(qv, centsDf(cents), nprobe)
        .join(AdcReference.adcLutFrom(qv, booksDf(book, m, subDim), m,
          subDim, cmod), "query_id"))
    }
    def relationalFlat(qs: Qs, book: Book, m: Int, subDim: Int, cmod: Int) =
      AdcReference.adcLutFrom(qvDf(qs), booksDf(book, m, subDim), m, subDim,
        cmod).collect()
        .map(r => (r.getLong(0), bits(r.getSeq[collection.Seq[Double]](1))))
        .toSeq
    def relationalResidual(qs: Qs, cents: Cents, book: Book,
        m: Int, subDim: Int, cmod: Int, nprobe: Int): Rows =
      relRows(AdcReference.residualLuts(qvDf(qs), centsDf(cents),
        booksDf(book, m, subDim), m, subDim, cmod, nprobe))
    def same[T](d: Seq[T], r: Seq[T]) =
      d.length == r.length && d.toSet == r.toSet
    // residual: full-length queries match bit for bit; a short one has
    // no residual (the relational zip_with pads it with null, which the
    // dot kernel reads as 0.0), so the driver stage rejects it by name
    def residualAgrees(qs: Qs, cents: Cents, book: Book,
        m: Int, subDim: Int, cmod: Int, nprobe: Int) = {
      val (full, short) = qs.partition(_._2.length == m * subDim)
      same(driverResidual(full, cents, book, m, subDim, cmod, nprobe),
        relationalResidual(full, cents, book, m, subDim, cmod, nprobe)) &&
      short.forall { case (q, v) =>
        scala.util.Try(driverResidual(Seq((q, v)), cents, book, m, subDim,
          cmod, nprobe)) match {
          case scala.util.Failure(e: IllegalArgumentException) =>
            e.getMessage.contains(s"query_id $q has")
          case _ => false
        }
      }
    }

    // integer-valued coordinates: small, or >= 2^27 where products and
    // sums stop being exact and the LUT's operation order shows
    def coord(big: Boolean): Gen[Double] =
      if (big) Gen.zip(Gen.choose(1L << 27, 1L << 29), Gen.oneOf(-1.0, 1.0))
        .map { case (x, sg) => sg * x }
      else Gen.choose(-9, 9).map(_.toDouble)
    def vec(n: Int, big: Boolean): Gen[Seq[Double]] =
      Gen.listOfN(n, coord(big)).map { v =>
        if (v.forall(_ == 0.0)) 1.0 +: v.tail else v
      }
    val caseGen = for {
      m <- Gen.choose(1, 3)
      subDim <- Gen.choose(1, 3)
      dims = m * subDim
      big <- Gen.oneOf(false, true)
      // trained: list ids 0..nlists−1 and book ids 0..ksub−1 at
      // divisor 1; else a subset (sparse list ids, ids i·cmod)
      trained <- Gen.oneOf(false, true)
      cmod <- if (trained) Gen.const(1) else Gen.oneOf(1, 97)
      nlists <- Gen.choose(1, 5)
      listIds <- if (trained) Gen.const(0L until nlists.toLong)
        else Gen.pick(nlists, 0L until 40L)
      base <- Gen.listOfN(nlists, vec(dims, big))
      // a list may repeat an earlier one's direction (x2 is exact):
      // a cosine tie the (cos desc, list_id) order must break
      twins <- Gen.listOfN(nlists, Gen.oneOf(false, true))
      ksub <- Gen.choose(1, 5)
      bookVs <- Gen.listOfN(ksub, vec(dims, big))
      nq <- Gen.choose(1, 4)
      qLens <- Gen.listOfN(nq, Gen.frequency(4 -> dims, 1 -> (dims - 1)))
      qVs <- Gen.sequence[List[Seq[Double]], Seq[Double]](
        qLens.map(n => vec(math.max(1, n), big)))
      nprobe <- Gen.choose(1, nlists + 1)
    } yield {
      val cvs = base.indices.map { i =>
        if (i > 0 && twins(i)) base(i - 1).map(_ * 2) else base(i)
      }
      // metadata rows arrive in parquet order, not id order
      val cents = listIds.toSeq.zip(cvs).map { case (id, cv) =>
        (id, cv, selfDot(cv)) }.reverse
      val book = bookVs.zipWithIndex.map { case (v, i) =>
        (i.toLong * cmod, v) }.reverse
      val qs = qVs.zipWithIndex.map { case (v, i) => (100L + i, v) }
      (qs, cents, book, m, subDim, cmod, nprobe)
    }
    // no shrinking: shrunk cases could break the generator's invariants
    // (non-zero vectors, distinct ids)
    val prop = Prop.forAllNoShrink(caseGen) {
      case (qs, cents, book, m, subDim, cmod, nprobe) =>
        same(driver(qs, cents, book, m, subDim, cmod, nprobe),
          relational(qs, cents, book, m, subDim, cmod, nprobe)) &&
        same(driverFlat(qs, book, m, subDim, cmod),
          relationalFlat(qs, book, m, subDim, cmod)) &&
        residualAgrees(qs, cents, book, m, subDim, cmod, nprobe)
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(30).withInitialSeed(Seed(5L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))

    // the metadata of a real spill-written index (spillG = 2, trained
    // book, centroidMod 1), against random queries
    val dir = java.nio.file.Files.createTempDirectory("propspill").toString
    val corpus = spark.range(48L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) - 14).cast("float"))
        .as("embedding"))
    Similarity.ivfPqWriteIndexTrained(corpus, s"$dir/index", numFiles = 2,
      m = 2, dims = 4, ksub = 4, nlists = 4, iters = 1, trainMod = 3,
      spillG = 2)
    val root = Similarity.indexRoot(spark, s"$dir/index")
    assert(Similarity.spillDegree(spark, root) == 2)
    val cents = spark.read.parquet(s"$root/cents").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    val book = spark.read.parquet(s"$root/book").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val spillProp = Prop.forAllNoShrink(
        Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, vec(4, big = false))),
        Gen.choose(1, 4)) { (vs, nprobe) =>
      val qs = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      same(driver(qs, cents, book, 2, 2, 1, nprobe),
        relational(qs, cents, book, 2, 2, 1, nprobe))
    }
    val spillRes = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(6).withInitialSeed(Seed(6L)), spillProp)
    assert(spillRes.passed, org.scalacheck.util.Pretty.pretty(spillRes))
  }

  test("property: the driver RRF fold equals the relational fusion bit " +
    "for bit") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    import graft.ops.RankFusion
    type Leg = List[(Long, Long, Int)]
    // few queries and docs, so a doc repeats within a leg and most docs
    // come from one leg; small ranks tie contributions, and 1e9 / d is
    // a rounding half at d = 1024 and 5120 (rank 1023 / 5119 at rrfK 1,
    // 964 / 5060 at rrfK 60)
    val rankGen = Gen.frequency(8 -> Gen.choose(1, 6),
      1 -> Gen.oneOf(964, 1023, 5060, 5119))
    val legGen: Gen[Leg] = Gen.choose(0, 14).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 9L), rankGen)))
    val caseGen = for {
      nLegs <- Gen.choose(1, 3)
      legs <- Gen.listOfN(nLegs, legGen)
      k <- Gen.oneOf(1, 3, 50)
      rrfK <- Gen.oneOf(1, 60)
    } yield (legs, k, rrfK)
    val seen = scala.collection.mutable.Set.empty[String]
    def note(legs: Seq[Leg], k: Int, rrfK: Int): Unit = {
      val perLeg = legs.map(_.map(r => (r._1, r._2)))
      if (perLeg.exists(l => l.distinct.length < l.length)) seen += "repeat"
      val all = perLeg.flatMap(_.distinct)
      if (all.groupBy(identity).exists(_._2.length == 1)) seen += "one-leg"
      if (all.distinct.groupBy(_._1).exists(_._2.length < k)) seen += "k>n"
      seen += s"legs=${legs.length}" += s"rrfK=$rrfK"
    }
    val prop = Prop.forAllNoShrink(caseGen) { case (legs, k, rrfK) =>
      note(legs, k, rrfK)
      val driver = RankFusion.fuse(
        legs.map(_.map(r => (r._1, r._2, r._3.toLong)).toArray), k, rrfK)
      val relational = FusionReference.rrfFuse(
        legs.map(l => spark.createDataFrame(l).toDF("query_id", "doc_id",
          "rank")), k, rrfK).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
          r.getLong(4)))
      val ties = driver.groupBy(r => (r._1, r._4)).exists(_._2.length > 1)
      if (ties) seen += "tie"
      driver.sorted == relational.toSeq.sorted
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    val want = Set("repeat", "one-leg", "k>n", "tie", "legs=1", "legs=2",
      "legs=3", "rrfK=1", "rrfK=60")
    assert(want.subsetOf(seen), s"generator missed ${want -- seen}")
  }

  test("property: the driver exact re-rank equals the relational exact " +
    "stage bit for bit") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    import graft.similarity.Similarity
    type Vecs = List[(Long, List[Double])]
    // (a, b, 0) with sqrt(a·a + b·b) == 1.0, so against the query
    // (1, 0, 0) the cosine is a itself: a 6-digit rounding half
    // (±0.dddddd5) or a value that rounds to ±0.0
    def unit(a: Double): List[Double] = {
      val b0 = math.sqrt(1.0 - a * a)
      (Iterator.iterate(b0)(math.nextUp).take(4) ++
        Iterator.iterate(b0)(math.nextDown).take(4))
        .find(b => math.sqrt(a * a + b * b) == 1.0)
        .fold(List(1.0, 0.0, 0.0))(b => List(a, b, 0.0))
    }
    val halfGen: Gen[List[Double]] = for {
      digits <- Gen.choose(0, 999999)
      sign <- Gen.oneOf(1.0, -1.0)
      tiny <- Gen.frequency(3 -> false, 1 -> true)
    } yield unit(sign * (if (tiny) 4e-7 else f"0.$digits%06d5".toDouble))
    val intGen: Gen[List[Double]] = Gen.listOfN(3, Gen.choose(-3, 3))
      .map(_.map(_.toDouble))
      .map(v => if (v.forall(_ == 0.0)) List(1.0, 0.0, 0.0) else v)
    val vecGen = Gen.oneOf(halfGen, intGen)
    val caseGen = for {
      nq <- Gen.choose(1, 3)
      qs <- Gen.listOfN(nq, Gen.frequency(2 -> Gen.const(List(1.0, 0.0, 0.0)),
        1 -> Gen.const(List(0.0, 1.0, 0.0)), 1 -> intGen))
      // a small pool, so several ids share a vector: cosine ties
      pool <- Gen.listOfN(3, vecGen)
      nv <- Gen.choose(0, 10)
      vecs <- Gen.listOfN(nv, Gen.zip(Gen.choose(0L, 7L), Gen.oneOf(pool)))
      nc <- Gen.choose(0, 12)
      cand <- Gen.listOfN(nc, Gen.zip(Gen.choose(0L, nq.toLong), Gen.choose(0L, 7L)))
      k <- Gen.oneOf(1, 2, 5, 20)
    } yield (qs.zipWithIndex.map { case (v, i) => (i.toLong, v) },
      cand, vecs: Vecs, k)
    val seen = scala.collection.mutable.Set.empty[String]
    def bits(rows: Seq[(Long, Long, Int, Double)]) = rows
      .map(r => (r._1, r._2, r._3, java.lang.Double.doubleToRawLongBits(r._4)))
      .sorted
    val prop = Prop.forAllNoShrink(caseGen) { case (qs, cand, vecs, k) =>
      val driver = Similarity.exactTopK(qs.map(q => (q._1, q._2.toArray)),
        cand, vecs.map(v => (v._1, v._2.toArray)), k)
      val relational = FusionReference.exactTopK(
        spark.createDataFrame(qs).toDF("query_id", "qv"),
        spark.createDataFrame(cand).toDF("query_id", "neighbor_id"),
        spark.createDataFrame(vecs).toDF("vec_id", "v"), k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      val candIds = cand.map(_._2).toSet
      if (vecs.exists(v => !candIds(v._1))) seen += "uncandidate"
      if (driver.exists(r => r._4 == 0.0)) seen += "zero"
      if (driver.groupBy(r => (r._1, r._4)).exists(_._2.length > 1))
        seen += "tie"
      if (driver.exists(r => qs.exists(q => q._1 == r._1 &&
        q._2 == List(1.0, 0.0, 0.0)) && vecs.exists(v => v._1 == r._2 &&
        v._2.head.toString.matches("-?0\\.\\d{6}5")))) seen += "half"
      bits(driver) == bits(relational.toSeq)
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(Seed(8L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(Set("uncandidate", "zero", "tie", "half").subsetOf(seen),
      s"generator covered only $seen")

    // a zero-norm vector fails on the driver by id, as DIVIDE_BY_ZERO
    val e = intercept[ArithmeticException](Similarity.exactTopK(
      Seq((0L, Array(1.0, 0.0))), Seq((0L, 4L)), Seq((4L, Array(0.0, 0.0))), 1))
    assert(e.getMessage.contains("DIVIDE_BY_ZERO") &&
      e.getMessage.contains("vec_id 4"), e.getMessage)
  }

  test("property: the persisted BM25 search equals the in-plan search bit " +
    "for bit on the driver path and on the engine path") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import graft.text.Bm25
    // few short docs over six words, so scores tie; "zz" matches no
    // doc. A doc with tf(a) = 31 at k1 = 1, b = 0 makes the tf part
    // 62/32 = 1.9375, so its contribution idf_micro * 1937.5 is an
    // exact half whenever idf_micro is odd
    val vocab = Seq("a", "b", "c", "d", "e", "f")
    val docGen = Gen.frequency(
      6 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))),
      1 -> Gen.listOfN(2, Gen.oneOf(vocab)).map(Seq.fill(31)("a") ++ _))
    val caseGen = for {
      n <- Gen.choose(2, 16)
      docs <- Gen.listOfN(n, docGen.map(_.mkString(" ")))
      written <- Gen.choose(1, n)
      deleted <- Gen.someOf(0 until n).map(_.filter(_ != 0).toSet)
      nq <- Gen.choose(1, 4)
      queries <- Gen.listOfN(nq, Gen.choose(1, 3)
        .flatMap(w => Gen.listOfN(w, Gen.oneOf(vocab :+ "zz"))))
      topK <- Gen.oneOf(1, 3, 50)
      kb <- Gen.oneOf((1.2, 0.75), (1.0, 0.0))
    } yield (docs, written, deleted, queries.zipWithIndex
      .map { case (q, i) => (i, q.mkString(" ")) }, topK, kb)
    val seen = scala.collection.mutable.Set.empty[String]
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        java.lang.Double.doubleToRawLongBits(r.getDouble(4)))).toSeq.sorted
    def local(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.isInstanceOf[LocalRelation]
    val prop = Prop.forAllNoShrink(caseGen) {
      case (docs, written, deleted, queries, topK, (k1, b)) =>
        val all = spark.createDataFrame(docs.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }).toDF("doc_id", "text")
        val dir = java.nio.file.Files.createTempDirectory("bm25prop").toString
        Bm25.writeIndex(spark, all.where(col("doc_id") < written), dir,
          numFiles = 2)
        if (written < docs.length) {
          Bm25.appendIndex(spark, dir, all.where(col("doc_id") >= written))
          seen += "tail"
        }
        if (deleted.nonEmpty) {
          Bm25.deleteIndex(spark, dir, spark.createDataFrame(
            deleted.toSeq.map(i => Tuple1(i.toLong))).toDF("doc_id"))
          seen += "tombstones"
        }
        val visible = all.where(!col("doc_id").isin(deleted.toSeq: _*))
        val inPlan = rowsOf(Bm25.search(spark, visible, queries, k1, b, topK))
        val onDriver = Bm25.searchPersisted(spark, dir, queries, k1, b, topK)
        val onEngine = Bm25.searchPersistedCapped(spark, dir, queries, k1, b,
          topK, driverMax = 0)
        val words = queries.map(_._2.split(" ").toSeq)
        if (words.exists(w => w.distinct.length < w.length)) seen += "repeat"
        if (words.flatMap(_.distinct).groupBy(identity).exists(_._2.length > 1))
          seen += "shared"
        val perQuery = inPlan.groupBy(_._1).map { case (q, r) => q -> r.length }
        if (queries.exists(q => !perQuery.contains(q._1))) seen += "no match"
        if (perQuery.values.exists(_ < topK)) seen += "k>n"
        if (inPlan.groupBy(r => (r._1, r._4)).exists(_._2.length > 1))
          seen += "tie"
        if (b == 0.0 && docs.zipWithIndex.exists { case (t, i) =>
          !deleted(i) && t.startsWith("a " * 31) } &&
          words.exists(_.contains("a"))) seen += "tf 31"
        val matched = inPlan.nonEmpty
        if (matched) seen += "engine"
        local(onDriver) && (local(onEngine) != matched) &&
          onDriver.schema == onEngine.schema &&
          rowsOf(onDriver) == inPlan && rowsOf(onEngine) == inPlan
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(24).withInitialSeed(Seed(9L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    val want = Set("tail", "tombstones", "repeat", "shared", "no match",
      "k>n", "tie", "tf 31", "engine")
    assert(want.subsetOf(seen), s"generator missed ${want -- seen}")
  }
}
