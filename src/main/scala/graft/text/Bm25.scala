package graft.text

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BM25 retrieval over the document corpus for a fixed query set — the
  * lexical-search primitive of a training-data pipeline (query-based
  * corpus exploration, eval-set retrieval, RAG indexing). Okapi BM25
  * (Robertson & Zaragoza 2009) with the Lucene idf variant
  * `ln(1 + (N - df + 0.5)/(df + 0.5))`.
  *
  * Scale shape: the query-term table is a handful of rows and is
  * BROADCAST to the token explode, so the corpus-scale shuffle carries
  * only tokens matching some query term — the inverted-index bound; the
  * per-(doc,term) tf aggregate and per-(query,doc) score aggregate are
  * both keyed by cardinalities that grow with the match set, not the
  * corpus. Global N/avgdl are one single-row aggregate cross-joined in.
  *
  * Numeric design (the 1000-executor reproducibility contract): the only
  * transcendental, ln, is quantized once per TERM to integer
  * micro-units; each (doc, term) contribution is then one fixed-order
  * chain of IEEE divisions/multiplications rounded to integer
  * NANO-units, and the per-document score is an exact BIGINT sum —
  * order-independent across partitions and bit-replayable by any engine
  * (the DuckDB oracle mirrors the arithmetic token-for-token).
  *
  * Top-k is [[graft.ops.TopK.perGroup]] on (score desc, doc_id asc): each
  * map partition of the score aggregate ships at most topK rows per query
  * to the query-keyed sort (the helper's stated bound), so a query
  * matching half the corpus cannot funnel it into one task.
  *
  * Persisted search ([[searchPersisted]]) scans only the query terms'
  * postings, in ONE Spark job: the engine runs the data-parallel scan,
  * and the driver folds the query-scale tail — df from exact per-term
  * counts, then the same scoring arithmetic — into a local relation,
  * the shape of [[graft.ops.RankFusion.fuse]]. The fold is bounded by
  * [[DriverScoreMax]] postings; a call past it keeps df from the counts
  * and scores on the engine with the relational tail above.
  */
object Bm25 {

  private def queryTerms(
      spark: SparkSession, queries: Seq[(Int, String)]): DataFrame =
    broadcast(
      spark.createDataFrame(
        queries.flatMap { case (qid, t) => t.split(" ").map(qid -> _) }.distinct)
        .toDF("query_id", "term"))

  /** The (term, doc_id, dl, tf) postings relation of `docs` — the
    * classic inverted-index row, restricted to `terms` when given (the
    * broadcast pre-filter on the token explode: only words appearing in
    * some query survive to the (doc, term) shuffle). Shared verbatim by
    * the in-plan [[search]] and the index writer ([[writeIndex]] /
    * [[appendIndex]], which persist it UNrestricted), so persisted
    * serving is the same arithmetic as in-plan search by construction. */
  private def postingsOf(
      docs: DataFrame, terms: Option[DataFrame]): DataFrame = {
    val tok = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast("double").as("dl"),
        explode(col("w")).as("term"))
    terms.fold(tok)(t => tok.join(broadcast(t), "term"))
      .groupBy("doc_id", "term")
      .agg(max("dl").as("dl"), count(lit(1)).cast("double").as("tf"))
  }

  /** The scoring tail of [[search]] and of [[searchPersisted]]'s engine
    * path: the fixed-order contribution chain over `tf` joined to the
    * per-term `idf` (term, idf_micro), the exact BIGINT per-doc sum,
    * and the per-query top-k. `withAvgdl` attaches the double column
    * `avgdl` — a crossJoin of the lazy single-row stats relation for
    * the in-plan search, a literal column for the persisted path (whose
    * stats are driver-resolved longs: same IEEE doubles, one broadcast
    * exchange fewer). [[scoreOnDriver]] mirrors it bit for bit. */
  private def scoreAndRank(
      tf: DataFrame,
      idf: DataFrame,
      withAvgdl: DataFrame => DataFrame,
      qterms: DataFrame,
      k1: Double,
      b: Double,
      topK: Int): DataFrame = {
    // Fixed-order contribution chain — mirrored verbatim by the oracle:
    // idf_micro * (tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))) * 1e3
    val contrib = withAvgdl(tf.join(broadcast(idf), "term"))
      .join(qterms, "term")
      .select(col("query_id"), col("doc_id"),
        round(col("idf_micro") *
          (col("tf") * (lit(k1) + lit(1.0)) /
            (col("tf") + lit(k1) *
              (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))) *
          lit(1000.0)).cast("long").as("contrib_nanos"))

    // the per-(query, doc) sum folds each doc's matched terms map-side
    // (partial aggregation) before its exchange
    val scores = contrib.groupBy("query_id", "doc_id")
      .agg(sum("contrib_nanos").as("score_nanos"))
    graft.ops.TopK.perGroup(scores, Seq(col("query_id")),
        Seq(col("score_nanos").desc, col("doc_id").asc), topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_nanos"),
        (col("score_nanos") / lit(1.0e9)).as("score"))
  }

  /** @param queries (query_id, whitespace-tokenized query text)
    * @return (query_id, rank, doc_id, score_nanos, score), rank ≤ topK
    *         per query, ordered by (score desc, doc_id asc). */
  def search(
      spark: SparkSession,
      docs: DataFrame,
      queries: Seq[(Int, String)],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    val qterms = queryTerms(spark, queries)
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    // N and avgdl: integer sums (exact), one terminal division — the
    // single-row result is cross-joined (broadcast) into the score.
    val stats = d.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(size(col("w"))).cast("double") /
        count(lit(1)).cast("double")).as("avgdl"))
    val tf = postingsOf(docs, Some(qterms.select("term").distinct()))
    // idf quantized to micro-units per term: |query terms| rows, tiny.
    // [[idfMicro]] mirrors it on the driver.
    val idf = tf.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
      .crossJoin(stats.select("n"))
      .select(col("term"),
        round(log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) * lit(1000000.0)).cast("long")
          .as("idf_micro"))
    scoreAndRank(tf, idf, _.crossJoin(stats.select("avgdl")),
      qterms, k1, b, topK)
  }

  // --- Persisted inverted index (the Lucene-shape serving artifact) ----
  //
  // [[search]] recomputes the postings of its query terms from the raw
  // corpus on EVERY query batch — one full token explode per batch. At
  // 100 TB the lexical leg must serve from a built artifact whose scan
  // cost tracks the QUERY, not the corpus (exactly the r17 persisted
  // IVF+PQ story, M70 — this is its lexical twin). Layout under `dir`:
  //
  //   postings/   (term, doc_id, dl, tf) range-clustered by
  //               (term, doc_id) — each parquet file owns a contiguous
  //               term range, so the query-term IN (chunked to the
  //               session's parquet pushdown threshold, like the ANN
  //               probed-list union) drops non-matching row groups
  //               UNREAD: bytes read ≈ the queried terms' postings,
  //               Lucene's inverted-list contract as a parquet layout.
  //   docstats/   (doc_id, dl) range-clustered by doc_id — the per-doc
  //               relation deletes are accounted against.
  //   stats/      ADDITIVE (n_docs, sum_dl) batch rows: every write/
  //               append lands one row, every delete a NEGATIVE row, so
  //               the serving-time corpus stats are a sum over a
  //               relation with one row per maintenance op — N and
  //               avgdl stay EXACT (integer sums) under any append/
  //               delete history, which is what keeps persisted scores
  //               bit-identical to an in-plan search over the visible
  //               corpus (Lucene, by contrast, lets deleted docs skew
  //               df/avgdl until segment merge).
  //
  // postings and docstats are the lifecycle relations of [[Index]]
  // ([[graft.ops.ClusteredIndex]]: gen-K + tail + deletes, one shared
  // append/delete/optimize/consolidate/vacuum/upsert); stats is this
  // family's sidecar. Appends are shuffle-free on existing data (new
  // postings land in the tail, one narrow explode+aggregate of the NEW
  // docs only); deletes are tombstones on doc_id masked by every read
  // and applied physically at consolidate; df needs no stored relation
  // at all — it is a per-term count over the (pruned, tombstone-masked)
  // postings the search already reads, so it is always exactly the
  // visible corpus's df. That one scan is the search's only job: its
  // partitions ship per-term counts, and rows up to the driver bound,
  // so df and scores fold on the driver (or, past the bound, df only).

  private val Index = graft.ops.ClusteredIndex("doc_id", "docstats", Seq(
    graft.ops.ClusteredIndex.Relation("postings", "doc_id",
      Seq("term", "doc_id")),
    graft.ops.ClusteredIndex.Relation("docstats", "doc_id", Seq("doc_id"),
      filesDivisor = 4)))

  /** The rows of each lifecycle relation for a batch of `docs`. */
  private val rowsOf: Map[String, DataFrame => DataFrame] = Map(
    "postings" -> ((docs: DataFrame) => postingsOf(docs, None)
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))),
    "docstats" -> ((docs: DataFrame) => docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))))

  /** Build the persisted BM25 index of `docs` at `dir`. Paid once;
    * [[searchPersisted]] then serves any query workload reading ≈ the
    * queried terms' postings. */
  def writeIndex(
      spark: SparkSession,
      docs: DataFrame,
      dir: String,
      numFiles: Int,
      writerOptions: Map[String, String] = Map.empty): Unit =
    Index.write(spark, dir, rowsOf.map { case (n, f) => n -> f(docs) },
      numFiles, writerOptions, () => appendStats(spark, dir, docs, sign = 1L))

  /** One additive stats row for `docs` (sign = −1 for a delete batch). */
  private def appendStats(
      spark: SparkSession, dir: String, docs: DataFrame, sign: Long): Unit =
    docs.select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg((count(lit(1)) * sign).as("n_docs"),
        (coalesce(sum("dl"), lit(0L)) * sign).as("sum_dl"))
      .coalesce(1).write.mode("append").parquet(s"$dir/stats")

  /** Incremental maintenance — add `docs` to the index without touching
    * existing data ([[graft.ops.ClusteredIndex.append]]): new postings
    * land in the tail (term-unclustered — they prune poorly until
    * [[optimizeIndex]] re-clusters them, the honest cost of shuffle-free
    * ingest), the new docstats rows in theirs, and one additive stats
    * row keeps N/avgdl exact. Blind to duplicate doc_ids by default —
    * re-adding a doc requires deleting it first — unless
    * `dedupAgainstIndex` is set: incoming doc_ids are then anti-joined
    * against each relation's visible ids, making a re-ingested batch a
    * no-op for postings AND stats — the idempotence the streaming
    * ingest sink relies on (foreachBatch replays a batch after a
    * failure). Ids with pending tombstones are rejected. */
  def appendIndex(
      spark: SparkSession,
      dir: String,
      docs: DataFrame,
      dedupAgainstIndex: Boolean = false): Unit =
    // the stats row counts exactly the docs docstats admits
    Index.append(spark, dir, docs, dedupAgainstIndex, rowsOf,
      sidecar = appendStats(spark, dir, _, sign = 1L))

  /** Delete documents from the index by id — tombstones on BOTH
    * lifecycle relations (masked immediately by [[searchPersisted]],
    * applied physically at [[consolidateIndex]]) plus one NEGATIVE
    * stats row, so N/avgdl/df all reflect the visible corpus exactly:
    * a post-delete search is bit-identical to a rebuild without the
    * deleted docs (spec-pinned), with no rewrite. Repeat-safe: only
    * VISIBLE docs are deleted and counted, so re-deleting an
    * already-deleted (or absent) id contributes zero.
    * Returns the number of visible documents deleted. */
  def deleteIndex(
      spark: SparkSession,
      dir: String,
      docIds: DataFrame): Long =
    Index.delete(spark, dir, docIds,
      Seq(count(lit(1)), coalesce(sum("dl"), lit(0L)))) { t =>
      // the NEGATIVE stats row commits strictly AFTER the tombstones:
      // it is the order-sensitive half of the delete (a stats row with
      // no tombstones = deleted docs visible in postings yet excluded
      // from N/avgdl — silently wrong scores), so a tombstone-write
      // failure leaves the index fully consistent (docs simply not
      // deleted). The row is a 1-row literal write — micro-cost.
      spark.range(1).select(lit(-t.getLong(0)).as("n_docs"),
        lit(-t.getLong(1)).as("sum_dl"))
        .coalesce(1).write.mode("append").parquet(s"$dir/stats")
    }

  /** OPTIMIZE pass: re-cluster both tails into their next generations
    * (term order for postings, doc order for docstats). Returns
    * postings rows compacted. */
  def optimizeIndex(
      spark: SparkSession,
      dir: String,
      numFiles: Int,
      maxGenerations: Int = 0,
      writerOptions: Map[String, String] = Map.empty): Long =
    Index.optimize(spark, dir, numFiles, maxGenerations, writerOptions)

  /** The VISIBLE additive-stats files at `dir/stats`: directly-landed
    * parquet files (every maintenance op appends one — visible the
    * moment they exist) plus manifest-admitted staged fold files, minus
    * manifest-retired ones. The stats dir carries its own
    * [[graft.ops.TableManifest]] chain so the consolidate fold swaps
    * atomically — see [[consolidateIndex]]. */
  private def statsFiles(
      spark: SparkSession, dir: String): Seq[org.apache.hadoop.fs.Path] = {
    val statsPath = new org.apache.hadoop.fs.Path(s"$dir/stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath)) return Seq.empty
    val manifest = graft.ops.TableManifest.latest(fs, statsPath)
    val retired = manifest.map(_.xstat).getOrElse(Set.empty)
    val direct = fs.listStatus(statsPath).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")
        && !retired.contains(st.getPath.getName))
      .map(_.getPath)
    val staged = manifest.map(_.stat).getOrElse(Seq.empty)
      .filterNot(retired.contains)
      .map(rel => new org.apache.hadoop.fs.Path(statsPath, rel))
      .filter(fs.exists(_))
    direct ++ staged
  }

  /** Physically reclaim stats files a previous fold retired, plus any
    * staged directory no longer referenced by the manifest (a crashed
    * uncommitted fold, or a fully-retired old stage). */
  private def purgeStats(spark: SparkSession, dir: String): Unit = {
    val statsPath = new org.apache.hadoop.fs.Path(s"$dir/stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath)) return
    graft.ops.TableManifest.latest(fs, statsPath).foreach { m =>
      m.xstat.foreach { rel =>
        fs.delete(new org.apache.hadoop.fs.Path(statsPath, rel), false)
      }
      val referencedDirs = m.stat.filterNot(m.xstat.contains)
        .map(_.split("/").head).toSet
      fs.listStatus(statsPath).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith("staged-")
          && !referencedDirs.contains(st.getPath.getName))
          fs.delete(st.getPath, true)
      }
    }
  }

  /** CONSOLIDATE pass: fold all generations of both relations, applying
    * tombstones physically and retiring them — after this no data file
    * holds a deleted doc and reads pay no anti-join. Also COMPACTS the
    * additive stats relation to a single row: every maintenance op
    * (write/append/delete) appends one small stats file, so a
    * long-lived index would otherwise pay an ever-growing file listing
    * on every search; the fold is sum-preserving by construction
    * (integer sums), snapshot-pinned like the tombstone retirement so a
    * stats row landing mid-pass is neither folded nor retired.
    *
    * Fold atomicity (r19, closing the r18 double-count window): the
    * folded row is written to an UNREFERENCED staged subdirectory —
    * invisible to [[statsFiles]] — and ONE manifest commit then admits
    * it and retires the originals in the same atomic rename. A crash
    * before the commit leaves the visible set untouched (the orphan
    * stage is reclaimed next pass); there is no instant at which a
    * reader can see both the fold and its inputs. Retired files stay on
    * disk one maintenance interval for in-flight readers, like every
    * other lifecycle retirement ([[graft.ops.TableManifest]]).
    * Returns postings rows rewritten. */
  def consolidateIndex(
      spark: SparkSession,
      dir: String,
      numFiles: Int,
      writerOptions: Map[String, String] = Map.empty): Long = {
    val n = Index.consolidate(spark, dir, numFiles, writerOptions)
    val statsPath = new org.apache.hadoop.fs.Path(s"$dir/stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    purgeStats(spark, dir)
    val visible = statsFiles(spark, dir)
    if (visible.length > 1) {
      val manifest = graft.ops.TableManifest.latest(fs, statsPath)
      val stageSeq = manifest.map(_.seq + 1).getOrElse(0)
      val stageDir = new org.apache.hadoop.fs.Path(statsPath, s"staged-$stageSeq")
      // overwrite: a same-named stage can only be a crashed UNcommitted
      // fold — never referenced, safe to replace
      graft.ops.ParquetIO.read(spark, visible.map(_.toString))
        .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
        .coalesce(1).write.mode("overwrite").parquet(stageDir.toString)
      val stagedRel = fs.listStatus(stageDir).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => s"staged-$stageSeq/${st.getPath.getName}")
      val visibleRel = visible.map { p =>
        if (p.getParent.getName.startsWith("staged-"))
          s"${p.getParent.getName}/${p.getName}"
        else p.getName
      }
      graft.ops.TableManifest.commit(fs, statsPath,
        graft.ops.TableManifest.Snapshot(
          0, None, Set.empty, Set.empty,
          stagedRel,
          manifest.map(_.xstat).getOrElse(Set.empty) ++ visibleRel))
    }
    n
  }

  /** Immediately reclaim everything the index's manifests have retired
    * (old generations, applied tombstones, folded stats files) instead
    * of waiting for the next maintenance pass — trades the in-flight-
    * reader grace window for disk space, and guarded like
    * [[graft.ops.ClusteredIndex.vacuum]]: an unforced call is a no-op
    * while the newest manifest of a relation is younger than the
    * retention window (its retired files may still have in-flight
    * readers); pass `force = true` to reclaim now. */
  def vacuumIndex(
      spark: SparkSession, dir: String, force: Boolean = false): Long = {
    val n = Index.vacuum(spark, dir, force)
    val statsPath = new org.apache.hadoop.fs.Path(s"$dir/stats")
    val statsFs = statsPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val statsYoung = !force && graft.ops.TableManifest
      .ageMs(statsFs, statsPath)
      .exists(_ < graft.ops.Layout.DefaultVacuumRetentionMs)
    if (!statsYoung) purgeStats(spark, dir)
    n
  }

  /** UPSERT: replace-or-insert `docs` by doc_id — the operation the
    * loud [[appendIndex]] pending-tombstone require converts from
    * silent loss to a contract, made SUPPORTED
    * ([[graft.ops.ClusteredIndex.upsert]]): visible copies of the
    * incoming ids are tombstoned, the tombstones are applied physically
    * and retired, and the new rows append — after which a search is
    * bit-identical to an index over the corpus with those docs replaced
    * (spec-pinned; the additive stats subtract the old rows and add the
    * new, so N/avgdl stay exact through the swap).
    *
    * Cost honesty: a batch that actually replaces documents pays ONE
    * full-index consolidate (the physical rewrite no tombstone design
    * avoids) — batch upserts accordingly; a batch of purely-new ids
    * skips the rewrite entirely (delete finds no victims, the append
    * is the normal shuffle-free tail write). Single-maintenance-writer
    * contract applies (this call runs maintenance passes). */
  def upsertIndex(
      spark: SparkSession,
      dir: String,
      docs: DataFrame,
      numFiles: Int,
      writerOptions: Map[String, String] = Map.empty): Unit =
    Index.upsert(spark, dir, docs, numFiles, writerOptions)(
      delete = deleteIndex(spark, dir, docs),
      consolidate = consolidateIndex(spark, dir, numFiles, writerOptions),
      append = appendIndex(spark, dir, docs))

  /** The most postings one [[searchPersisted]] call folds on the
    * driver: 1 << 20 rows of (term ordinal int, doc_id long, dl and tf
    * doubles), 28 bytes each, about 28 MB. A fixed constant, not an
    * option. A call whose pruned scan may exceed it scores on the
    * engine instead. */
  private[graft] val DriverScoreMax: Long = 1L << 20

  /** The relation a persisted search reads: the (term, doc_id, dl, tf)
    * postings of the index at `dir` whose term is in the sorted
    * `terms`, tombstoned docs masked. An IN chunked to the session's
    * parquet pushdown threshold, each chunk a contiguous slice of the
    * sorted term list, so row-group min/max stats on the clustering
    * key drop everything else. */
  private[graft] def postingsScan(
      spark: SparkSession, dir: String, terms: Seq[String]): DataFrame =
    graft.ops.Layout.chunkedIn(spark,
      graft.ops.Layout.clusteredTable(spark, s"$dir/postings"),
      "term", terms)
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))

  /** One partition's postings as primitive arrays, row i being
    * (terms(term(i)), doc(i), dl(i), tf(i)). */
  private final case class Postings(term: Array[Int],
      doc: Array[Long], dl: Array[Double], tf: Array[Double])

  /** What one scan partition ships: the exact posting count per term
    * ordinal, and its rows only when they number at most `share`. */
  private final case class Part(df: Array[Long], rows: Option[Postings])

  private def partOf(it: Iterator[InternalRow], terms: Array[String],
      share: Long): Part = {
    val ord = terms.indices.map(i => UTF8String.fromString(terms(i)) -> i).toMap
    val df = new Array[Long](terms.length)
    val t = Array.newBuilder[Int]
    val d = Array.newBuilder[Long]
    val l = Array.newBuilder[Double]
    val f = Array.newBuilder[Double]
    var n = 0L
    it.foreach { r =>
      val i = ord(r.getUTF8String(0))
      df(i) += 1
      n += 1
      if (n <= share) {
        t += i; d += r.getLong(1); l += r.getDouble(2); f += r.getDouble(3)
      }
    }
    Part(df, if (n <= share) Some(Postings(t.result(), d.result(),
      l.result(), f.result())) else None)
  }

  /** [[search]]'s idf_micro on the driver: the same IEEE chain,
    * `StrictMath.log` (as Spark's `log`), and Spark's double `round`
    * (HALF_UP on the shortest decimal form) cast to long. */
  private def idfMicro(n: Double, df: Long): Long =
    roundLong(StrictMath.log(1.0 + (n - df.toDouble + 0.5) /
      (df.toDouble + 0.5)) * 1000000.0)

  private def roundLong(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** [[scoreAndRank]] on the driver, bit for bit: each posting row of a
    * term contributes `round(idf_micro * (tf * (k1+1) / (tf + k1 * (1 -
    * b + b * dl / avgdl))) * 1e3)` to every query holding the term
    * (distinct (query, term) pairs), the per-(query, doc) sum is an
    * exact long sum (`Math.addExact`, as ANSI `sum`), and each query
    * keeps rank ≤ `topK` by (score_nanos desc, doc_id asc). A query
    * with no matching posting has no row. `df` is the exact per-term
    * count over the whole scan, `rows` every scanned posting.
    * @return (query_id, rank, doc_id, score_nanos, score) rows, by query
    *         then rank. */
  private def scoreOnDriver(
      queries: Seq[(Int, String)],
      terms: IndexedSeq[String],
      df: Array[Long],
      rows: Seq[Postings],
      n: Double,
      avgdl: Double,
      k1: Double,
      b: Double,
      topK: Int): IndexedSeq[(Int, Int, Long, Long, Double)] = {
    val ordOf = terms.zipWithIndex.toMap
    val holders = Array.fill(terms.length)(Set.empty[Int])
    queries.foreach { case (q, text) =>
      text.split(" ").foreach(w => holders(ordOf(w)) += q)
    }
    val idf = df.map(idfMicro(n, _))
    val scores = mutable.HashMap.empty[Int, mutable.LongMap[Long]]
    rows.foreach { p =>
      var j = 0
      while (j < p.term.length) {
        val i = p.term(j)
        val tf = p.tf(j)
        val c = roundLong(idf(i).toDouble *
          (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * p.dl(j) / avgdl))) *
          1000.0)
        holders(i).foreach { q =>
          val s = scores.getOrElseUpdate(q, mutable.LongMap.empty[Long])
          s.update(p.doc(j), s.get(p.doc(j)).fold(c)(Math.addExact(_, c)))
        }
        j += 1
      }
    }
    scores.toIndexedSeq.sortBy(_._1).flatMap { case (q, s) =>
      s.toArray
        .sortWith((x, y) => if (x._2 != y._2) x._2 > y._2 else x._1 < y._1)
        .take(topK).zipWithIndex.map { case ((d, sc), r) =>
          (q, r + 1, d, sc, sc / 1.0e9) }
    }
  }

  /** The (query_id, rank, doc_id, score_nanos, score) schema of
    * [[searchPersisted]]'s engine path, which its driver path keeps. */
  private val resultSchema = StructType(Seq(
    StructField("query_id", IntegerType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("doc_id", LongType),
    StructField("score_nanos", LongType),
    StructField("score", DoubleType)))

  /** [[search]] served from a persisted index — identical output (gate
    * q_bm25_persisted shares q_bm25's oracle verbatim), but the corpus
    * is never read: the postings scan is pruned to the query terms
    * ([[postingsScan]]), and N/avgdl are a sum over the
    * metadata-sized additive stats rows.
    *
    * One Spark job per call once the stats are cached. The job scans
    * [[postingsScan]]; every partition ships its exact per-term posting
    * counts (df, over the visible corpus) and, while its rows number at
    * most its equal share [[DriverScoreMax]] / partitions, the rows as
    * primitive arrays. When every partition shipped its rows, the
    * driver scores them ([[scoreOnDriver]], [[scoreAndRank]]'s
    * arithmetic bit for bit) and the result is a local relation. Else
    * the call takes the engine path: [[scoreAndRank]] over the scan,
    * with idf built on the driver from the shipped counts as a
    * broadcast local relation. Either way the driver holds at most
    * [[DriverScoreMax]] postings, whatever the corpus size; a
    * partition holding a large share of the matches sends the call
    * down the engine path even below the bound.
    *
    * Eager: the scan runs at call time, not at the result's first
    * action, so an index changed after the call does not change the
    * (driver-path) result. */
  def searchPersisted(
      spark: SparkSession,
      dir: String,
      queries: Seq[(Int, String)],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10): DataFrame =
    searchPersistedCapped(spark, dir, queries, k1, b, topK, DriverScoreMax)

  /** [[searchPersisted]] with the driver bound `driverMax` in place of
    * [[DriverScoreMax]]; 0 sends every call that matches a posting
    * down the engine path. */
  private[graft] def searchPersistedCapped(
      spark: SparkSession,
      dir: String,
      queries: Seq[(Int, String)],
      k1: Double,
      b: Double,
      topK: Int,
      driverMax: Long): DataFrame = {
    require(topK >= 1, s"top-k needs k >= 1, got $topK")
    // sorted: the scan's term list, and the ordinals the driver fold
    // indexes by
    val terms = queries.flatMap(_._2.split(" ")).distinct.sorted.toIndexedSeq
    require(terms.nonEmpty, "searchPersisted needs at least one term")
    // additive stats summed EAGERLY (one metadata-sized driver read) so
    // an all-deleted index fails LOUDLY here instead of silently
    // null-scoring downstream: net n_docs = 0 makes avgdl a NaN and idf
    // a null, and unlike the other lifecycle misuse paths nothing else
    // would raise. Memoized per (dir, lifecycle fingerprint): a serving
    // workload re-querying one index pays a directory listing, not a
    // Spark job, per batch; any append/delete/consolidate changes the
    // file set and reloads ([[graft.ops.ServingCache]])
    val (nSum, dlSum) = graft.ops.ServingCache
      .cached("bm25stats", spark, s"$dir/stats") {
        val statFileList = statsFiles(spark, dir)
        require(statFileList.nonEmpty, s"no stats relation at $dir/stats" +
          " - is this a writeIndex-built BM25 index directory?")
        val r = graft.ops.ParquetIO.read(spark, statFileList.map(_.toString))
          .agg(coalesce(sum("n_docs"), lit(0L)),
            coalesce(sum("sum_dl"), lit(0L)))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    require(nSum > 0L,
      s"BM25 index at $dir has net n_docs=$nSum - every document has " +
        "been deleted (or the stats relation is inconsistent); idf/avgdl " +
        "are undefined over an empty corpus (delete-lifecycle contract)")
    // the same doubles (and IEEE division) as the in-plan single-row
    // stats relation
    val n = nSum.toDouble
    val avgdl = dlSum.toDouble / nSum.toDouble

    val scan = postingsScan(spark, dir, terms)
    val rdd = scan.queryExecution.toRdd
    val share = driverMax / math.max(1, rdd.getNumPartitions)
    val termArr = terms.toArray
    val df = new Array[Long](terms.length)
    val parts = mutable.ArrayBuffer.empty[Postings]
    var complete = true
    spark.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => partOf(it, termArr, share),
      (_: Int, p: Part) => {
        p.df.indices.foreach(i => df(i) += p.df(i))
        p.rows match {
          case Some(r) if complete => parts += r
          case Some(_) =>
          case None => complete = false; parts.clear()
        }
      })
    if (complete)
      spark.createDataFrame(scoreOnDriver(queries, terms, df, parts.toSeq,
        n, avgdl, k1, b, topK).map(Row.fromTuple).asJava, resultSchema)
    else {
      val idf = spark.createDataFrame(terms.indices.filter(df(_) > 0)
        .map(i => (terms(i), idfMicro(n, df(i))))).toDF("term", "idf_micro")
      scoreAndRank(scan, idf, _.withColumn("avgdl", lit(avgdl)),
        queryTerms(spark, queries), k1, b, topK)
    }
  }
}
