package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout for gridded/spatial tables (M69).
  *
  * At 100 TB a bbox query is won or lost at the SCAN: a table laid out in
  * row-major cell order scans every file for any box, while the same table
  * range-partitioned and sorted by an interleaved-bit curve key confines any
  * box to a handful of files and row groups — parquet min/max stats on the
  * key prune the rest without reading them. This is the layout idiom behind
  * Delta Lake's `OPTIMIZE ZORDER BY` and Iceberg's z-order rewrite, built
  * here from first principles (Morton 1966; Tropf & Herzog 1981 for
  * range-decomposition) as three composable pieces:
  *
  *  - [[zorderKey]]: the interleaved-bit key as pure `Column` arithmetic
  *    (shift/mask spreads — codegen'd, no UDF, pushdown-safe);
  *  - [[zorderLayout]]: range-repartition + intra-partition sort by that
  *    key — the write-side layout pass (files get disjoint z intervals, so
  *    parquet footer stats become a file-level spatial index);
  *  - [[zRangesForBox]] / [[inZRanges]]: read-side quadtree decomposition
  *    of a query box into ≤ `maxRanges` contiguous z intervals, emitted as
  *    an OR-of-BETWEEN predicate that parquet row-group pruning understands.
  *    The cover is a SUPERSET of the box (capping merges ranges, never
  *    drops them), so `inZRanges(...) && exactBoxFilter` is always
  *    equivalent to the plain box predicate — q_zorder_box_prune gates that
  *    losslessness against the DuckDB oracle, and LayoutSpec proves the
  *    superset property exhaustively on the 64×64 grid.
  *
  * No analogue in the reference (its rasters live in single-machine NetCDF
  * arrays, e.g. /root/reference/emiproc/exports/rasters.py); this is the
  * lakehouse-scale replacement for "the whole raster fits in RAM".
  */
object Layout {

  private val Masks: Seq[(Int, Long)] = Seq(
    16 -> 0x0000FFFF0000FFFFL,
    8 -> 0x00FF00FF00FF00FFL,
    4 -> 0x0F0F0F0F0F0F0F0FL,
    2 -> 0x3333333333333333L,
    1 -> 0x5555555555555555L)

  /** Spread the low 32 bits to even bit positions (…b2_b1_b0 →
    * …0b2_0b1_0b0) via the classic shift-or-mask ladder. */
  private def spreadL(v: Long): Long =
    Masks.foldLeft(v & 0xFFFFFFFFL) { case (x, (s, m)) => (x | (x << s)) & m }

  /** Morton key: `ix` on even bits, `iy` on odd bits. Both must be
    * nonnegative and < 2^31; the key fits in the positive long range, so
    * BETWEEN predicates on it order correctly.
    *
    * A native [[graft.functions.ZorderKeyExpr]], NOT a Column shift/mask
    * ladder: the ladder's tree is exponential (each spread stage
    * references its input twice) and FilterExec does no subexpression
    * elimination, so bbox predicates over a ladder-built key cost
    * seconds where this costs microseconds — see the Expression's
    * scaladoc for the measurements. */
  def zorderKey(ix: Column, iy: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.ZorderKeyExpr(
      org.apache.spark.sql.GraftBridge.expression(ix.cast("long")),
      org.apache.spark.sql.GraftBridge.expression(iy.cast("long"))))

  /** Driver-side twin of [[zorderKey]] for range construction / tests. */
  def zorderKeyL(ix: Long, iy: Long): Long =
    spreadL(ix) | (spreadL(iy) << 1)

  /** Decompose the inclusive cell box [ix0,ix1]×[iy0,iy1] (coordinates in
    * [0, 2^bits)) into ascending disjoint z intervals. Quadtree recursion:
    * a quadrant square is a contiguous z interval, so squares fully inside
    * the box emit whole intervals and partial squares split in four.
    * Adjacent intervals are merged; if more than `maxRanges` remain, the
    * smallest inter-interval gaps are swallowed (the cover grows but stays
    * a superset — the residual exact filter keeps results identical, the
    * extra cells only cost scan). */
  def zRangesForBox(
      ix0: Long, ix1: Long, iy0: Long, iy1: Long,
      bits: Int, maxRanges: Int = 64): Seq[(Long, Long)] = {
    require(bits >= 1 && bits <= 31, s"bits=$bits out of [1,31]")
    require(0 <= ix0 && ix0 <= ix1 && ix1 < (1L << bits), "ix box invalid")
    require(0 <= iy0 && iy0 <= iy1 && iy1 < (1L << bits), "iy box invalid")
    require(maxRanges >= 1)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def visit(x: Long, y: Long, lev: Int, z: Long): Unit = {
      val side = 1L << lev
      if (x > ix1 || y > iy1 || x + side - 1 < ix0 || y + side - 1 < iy0) ()
      else if (x >= ix0 && x + side - 1 <= ix1 &&
        y >= iy0 && y + side - 1 <= iy1) {
        // contiguous interval: append or extend the last one
        val hi = z + side * side - 1
        if (buf.nonEmpty && buf.last._2 + 1 == z)
          buf(buf.length - 1) = (buf.last._1, hi)
        else buf += ((z, hi))
      } else {
        val h = side >> 1
        val q = h * h
        visit(x, y, lev - 1, z)
        visit(x + h, y, lev - 1, z + q)
        visit(x, y + h, lev - 1, z + 2 * q)
        visit(x + h, y + h, lev - 1, z + 3 * q)
      }
    }
    visit(0L, 0L, bits, 0L)
    swallowGaps(buf.toVector, maxRanges)
  }

  /** `ranges` (sorted, disjoint) cut to at most `maxRanges`: the
    * `maxRanges − 1` widest inter-range gaps are kept (on a tie the
    * earlier one) and every other gap is swallowed into its left range.
    * The gap-merge of [[zRangesForBox]] and [[mergeRanges]]. */
  private def swallowGaps(
      ranges: Vector[(Long, Long)], maxRanges: Int): Vector[(Long, Long)] =
    if (ranges.length <= maxRanges) ranges
    else {
      val keep = (1 until ranges.length)
        .sortBy(i => -(ranges(i)._1 - ranges(i - 1)._2))
        .take(maxRanges - 1).toSet
      val out = scala.collection.mutable.ArrayBuffer(ranges.head)
      for (i <- 1 until ranges.length) {
        if (keep.contains(i)) out += ranges(i)
        else out(out.length - 1) = (out.last._1, ranges(i)._2)
      }
      out.toVector
    }

  /** OR-of-BETWEEN predicate over the z intervals — the shape parquet
    * row-group (and file) min/max pruning evaluates without decoding. */
  def inZRanges(zKey: Column, ranges: Seq[(Long, Long)]): Column = {
    require(ranges.nonEmpty, "empty z-range cover")
    ranges.map { case (lo, hi) => zKey.between(lo, hi) }.reduce(_ || _)
  }

  /** Write-side layout pass: key, range-repartition into `numFiles`
    * z-contiguous partitions, sort within each. Written as parquet, every
    * file owns a disjoint z interval and its footer min/max is a spatial
    * index; `spark.read.parquet(...).where(inZRanges(col("z_key"), …))`
    * then opens only the files a box touches. One shuffle, total order —
    * the same cost shape as any global sort, paid once at write time. */
  def zorderLayout(
      df: DataFrame, ix: Column, iy: Column, numFiles: Int): DataFrame =
    df.withColumn("z_key", zorderKey(ix, iy))
      .repartitionByRange(numFiles, col("z_key"))
      .sortWithinPartitions("z_key")

  // --- Z-order table lifecycle (append + OPTIMIZE-style compaction) -----
  //
  // zorderLayout lays out ONE static snapshot; a 100 TB table grows. The
  // lifecycle below is the minimal lakehouse pattern (Delta's OPTIMIZE
  // ZORDER, Iceberg's rewrite_data_files) over plain directories:
  //
  //   dir/gen-0/    the initial z-clustered generation (zorderWrite)
  //   dir/tail/     raw appends, z-keyed but UNSORTED (zorderAppend —
  //                 a narrow projection, no shuffle at ingest time)
  //   dir/gen-K/    each zorderOptimize pass re-clusters ONLY the tail
  //                 into the next generation and removes it
  //   dir/deletes/  tombstoned delete keys (zorderDelete/tombstone) —
  //                 anti-joined at read, purged physically at the next
  //                 consolidate
  //
  // Every generation is internally z-clustered, so a box query prunes
  // within each generation independently: scanned rows ≈ (#generations)
  // × the fresh-layout fraction, while the tail (until optimized) is
  // scanned in full — which is exactly why the OPTIMIZE pass exists,
  // and why generations must not accumulate without bound: pass
  // maxGenerations=G to zorderOptimize (or call zorderConsolidate on
  // your own cadence) to merge all generations into one when the count
  // exceeds G — one full-table sort amortized over G cheap tail-only
  // passes, holding the scan bound at ≤ (G+1) × the fresh fraction.
  // Readers glob all parts ([[zorderTable]]); results are identical at
  // every lifecycle stage (pruning predicates stay supersets — only the
  // scanned-row count moves). ScaleBench B42 REQUIREs the bound;
  // LayoutSpec pins optimize ≡ full re-layout on the tail rows.
  //
  // Commit protocol ([[TableManifest]], r19): every maintenance pass
  // commits ONE `_manifest-<seq>` file by atomic rename, flipping the
  // visible snapshot — the new generation becomes live and the inputs
  // (old generations, compacted tail files, applied tombstones) retire
  // in the same instant; physical deletion is deferred one maintenance
  // interval ([[vacuum]] reclaims immediately). A crash between the
  // data write and the commit leaves a half-written generation that is
  // INVISIBLE (not in the manifest) and reclaimed by the next pass —
  // readers never see duplicates or partial output. Directories with no
  // manifest (plain writes) fall back to live listing.

  /** Initial generation: z-cluster `df`, write it to `dir/gen-0`, and
    * seal the first manifest so the table is commit-governed from
    * birth. */
  def zorderWrite(
      df: DataFrame, ix: Column, iy: Column, numFiles: Int,
      dir: String): Unit = {
    zorderLayout(df, ix, iy, numFiles)
      .write.mode("errorifexists").parquet(s"$dir/gen-0")
    sealInitial(df.sparkSession, dir)
  }

  /** Ingest-time append: z-key the batch (narrow projection — NO sort,
    * NO shuffle; ingest stays cheap) and land it in `dir/tail`. */
  def zorderAppend(df: DataFrame, ix: Column, iy: Column, dir: String): Unit =
    df.withColumn("z_key", zorderKey(ix, iy))
      .write.mode("append").parquet(s"$dir/tail")

  /** LIVE generation numbers under `dir`. When a `_manifest-<seq>`
    * snapshot exists ([[TableManifest]]) its inclusive gen set is the
    * truth — a generation a maintenance pass retired (or a crashed pass
    * half-wrote) is invisible even though its directory is still on
    * disk, which is what closes the consolidate reader race: retirement
    * flips in one atomic manifest rename, and the retired directories
    * survive until the next maintenance pass ([[vacuum]]) so an
    * in-flight reader's resolved file list stays valid.
    *
    * Without a manifest (pre-manifest tables, plain writes) this falls
    * back to listing, via the Hadoop [[org.apache.hadoop.fs.FileSystem]]
    * API — NOT java.io.File, so the lifecycle works on any scheme
    * (file:, hdfs:, s3a:…); the table's 100 TB home is an object store,
    * where a local-File `exists()` is silently false and a File-based
    * pass would no-op indistinguishably from "no tail". Only names
    * matching exactly `gen-<digits>` count: a foreign entry (gen-1.bak,
    * gen-tmp, a stray backup) is IGNORED, not parsed — a
    * NumberFormatException here would permanently fail every optimize
    * pass on the table. */
  private def generations(
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Seq[Int] =
    TableManifest.latest(fs, dirPath).flatMap(_.gens) match {
      case Some(live) =>
        live.filter(_.matches("gen-\\d+"))
          .map(_.stripPrefix("gen-").toInt)
      case None => listedGenerations(fs, dirPath)
    }

  /** Generation numbers present ON DISK (manifest-blind) — the fallback
    * resolution, and the input to [[purgeRetired]] (disk minus live =
    * retired or crashed, safe to delete). */
  private def listedGenerations(
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Seq[Int] =
    if (!fs.exists(dirPath)) Seq.empty
    else fs.listStatus(dirPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("gen-\\d+"))
      .map(_.getPath.getName.stripPrefix("gen-").toInt)

  /** True if `p` is a directory holding at least one parquet data file
    * (a dir surviving with only `_SUCCESS` fails schema inference). */
  private def hasParquetData(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(p) && fs.listStatus(p)
      .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet"))

  // --- Tombstone deletes (merge-on-read, applied at compaction) ---------
  //
  // Dedup pipelines DELETE rows (M14/M67 emit drop lists), but appends
  // only grow the table. The minimal lakehouse answer (Delta's
  // merge-on-read deletion vectors, Iceberg equality deletes, FAISS
  // remove_ids) is a TOMBSTONE relation:
  //
  //   dir/deletes/   single-column parquet — the delete-key values
  //
  // Readers ([[clusteredTable]]/[[zorderTable]]) anti-join it, so a
  // delete is visible immediately at read time without rewriting data;
  // [[clusteredConsolidate]] applies it PHYSICALLY (the merged
  // generation drops tombstoned rows) and empties the relation once no
  // un-compacted tail remains. The tombstone column NAME is the delete
  // key — discovered from the relation's schema at read time, so one
  // reader serves any key (z_key tables delete by row key, the IVF+PQ
  // index by neighbor_id).

  /** Append delete keys for rows of the lifecycle table at `dir`:
    * `ids` must contain `keyCol`, which must be a column of the table.
    * Idempotent (tombstoning the same key twice is harmless — readers
    * anti-join the distinct set). Deleting a key that is later
    * re-appended REQUIRES the tombstones to have been purged first
    * (consolidate), else the re-appended row is masked too — the same
    * contract as Delta merge-on-read deletes within one version. */
  def tombstone(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, keyCol: String, ids: DataFrame): Unit =
    ids.select(col(keyCol))
      .write.mode("append").parquet(s"$dir/deletes")

  /** The tombstone relation at `dir`, if any LIVE data exists — pinned
    * to the file list seen NOW, so a compaction pass applies and
    * (later) retires exactly the same tombstones even if a delete lands
    * mid-pass. Tombstones are appended by arbitrary writers and must be
    * visible immediately, so the manifest governs them by EXCLUSION
    * (`xdel:` = applied-and-retired file names); a retired tombstone is
    * invisible even though the file survives until [[vacuum]] — which
    * is also what re-enables appending a previously-deleted key right
    * after a consolidate ([[pendingTombstoned]] sees the live set). */
  private def tombstones(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Option[(DataFrame, Seq[org.apache.hadoop.fs.Path])] = {
    val delPath = new org.apache.hadoop.fs.Path(dirPath, "deletes")
    if (!hasParquetData(fs, delPath)) None
    else {
      val retired = TableManifest.latest(fs, dirPath)
        .map(_.xdel).getOrElse(Set.empty)
      val files = fs.listStatus(delPath).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")
          && !retired.contains(st.getPath.getName))
        .map(_.getPath)
      if (files.isEmpty) None
      else Some((ParquetIO.read(spark, files.map(_.toString)), files))
    }
  }

  /** Physically delete entries a previous maintenance pass RETIRED in
    * the manifest (generations not in the live set, `xdel` tombstone
    * files still on disk). Called at the start of every maintenance
    * pass — so retired files survive one full maintenance interval for
    * in-flight readers — and by [[vacuum]] for immediate reclamation.
    * No-op (0) when the dir has no manifest: without a live set there
    * is no retired set. Returns entries deleted. */
  private def purgeRetired(
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Long =
    TableManifest.latest(fs, dirPath) match {
      case None => 0L
      case Some(snap) =>
        var purged = 0L
        snap.gens.foreach { live =>
          val liveSet = live.toSet
          listedGenerations(fs, dirPath).map(g => s"gen-$g")
            .filterNot(liveSet.contains).foreach { g =>
              if (fs.delete(new org.apache.hadoop.fs.Path(dirPath, g), true))
                purged += 1L
            }
        }
        val delPath = new org.apache.hadoop.fs.Path(dirPath, "deletes")
        if (snap.xdel.nonEmpty && fs.exists(delPath))
          fs.listStatus(delPath).foreach { st =>
            if (st.isFile && snap.xdel.contains(st.getPath.getName)) {
              if (fs.delete(st.getPath, false)) purged += 1L
            }
          }
        val tailPath = new org.apache.hadoop.fs.Path(dirPath, "tail")
        if (snap.xtail.nonEmpty && fs.exists(tailPath))
          fs.listStatus(tailPath).foreach { st =>
            if (st.isFile && snap.xtail.contains(st.getPath.getName)) {
              if (fs.delete(st.getPath, false)) purged += 1L
            }
          }
        purged
    }

  /** Nominal maintenance interval for the [[vacuum]] retention guard:
    * files retired by a manifest younger than this may still have
    * in-flight readers (the one-interval grace the commit protocol
    * promises them), so an unforced vacuum refuses to delete them —
    * the Delta VACUUM retention-check shape. */
  val DefaultVacuumRetentionMs: Long = 15L * 60L * 1000L

  /** Immediately reclaim space held for in-flight readers: delete every
    * generation directory and tombstone file the manifest has retired.
    * The lifecycle defers physical deletion to the NEXT maintenance
    * pass by default (the retention window that closes the reader
    * race); call this when space matters more than the window — after
    * it, a reader that resolved the pre-consolidate snapshot will fail
    * (the pre-manifest contract). Returns entries deleted.
    *
    * Retention guard (r20): when the newest manifest is younger than
    * `minAgeMs` the unforced call is a NO-OP returning 0 — a vacuum
    * issued right after a consolidate would otherwise break the very
    * reader window the manifest bought; pass `force = true` to assert
    * no readers are in flight and reclaim now (the documented
    * space-over-window trade). */
  def vacuum(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      minAgeMs: Long = DefaultVacuumRetentionMs,
      force: Boolean = false): Long = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val youngManifest = !force &&
      TableManifest.ageMs(fs, dirPath).exists(_ < minAgeMs)
    if (youngManifest) 0L else purgeRetired(fs, dirPath)
  }

  /** Commit the table's FIRST manifest, sealing the generation set
    * currently on disk as the live snapshot — called by the initial
    * writers ([[zorderWrite]], the index writers) right after gen-0
    * lands, so every later maintenance pass is manifest-governed (the
    * closed-race regime) from birth instead of from the first
    * optimize. Safe to re-invoke on a manifest-governed table: the
    * live gen set and the existing tombstone/tail RETIREMENTS are
    * preserved (dropping the exclusion sets would resurrect compacted
    * tail files and retired tombstones for every reader). */
  def sealInitial(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prior = TableManifest.latest(fs, dirPath)
    val gens = generations(fs, dirPath).sorted.map(g => s"gen-$g")
    TableManifest.commit(fs, dirPath, TableManifest.Snapshot(
      0, Some(gens),
      prior.map(_.xdel).getOrElse(Set.empty),
      prior.map(_.xtail).getOrElse(Set.empty),
      Seq.empty, Set.empty))
  }

  /** Range-cluster `df` into `numFiles` sorted files — the write-side
    * layout move every lifecycle writer shares. For `numFiles == 1`
    * the range exchange is pointless (a single range holds
    * everything), so the RangePartitioner's sampling pass is always
    * skipped, and when the optimizer's size estimate is small the
    * shuffle too: `coalesce(1)` + the same intra-partition sort
    * produces the identical single sorted file for two fewer jobs
    * (guide §2.4 — remove shuffles outright).
    *
    * Scale caveat, and why the coalesce is size-GATED: coalesce(1)
    * removes the stage boundary, collapsing the ENTIRE upstream
    * computation (a tokenization scan, an anti-join reduce) into one
    * task — fine when the caller asked for one small file, ruinous if
    * a 100 TB-lens caller ever requested numFiles=1 over a big
    * relation. Above `spark.graft.clusterInto.coalesceMaxBytes`
    * (default 256 MB) the move is `repartition(1)` instead: the map
    * side stays parallel, the single shuffle partition feeds the same
    * sorted single-file write, and the sampling pass is still skipped. */
  def clusterInto(
      df: DataFrame, numFiles: Int, sortCols: Seq[String]): DataFrame = {
    require(sortCols.nonEmpty, "clusterInto needs sort columns")
    val part =
      if (numFiles == 1) {
        val maxBytes = df.sparkSession.conf.get(
          "spark.graft.clusterInto.coalesceMaxBytes",
          (256L << 20).toString).toLong
        val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est <= maxBytes) df.coalesce(1) else df.repartition(1)
      }
      else df.repartitionByRange(numFiles, sortCols.map(col): _*)
    part.sortWithinPartitions(sortCols.head, sortCols.tail: _*)
  }

  /** `names` restricted to files still present in `dir/<sub>` — keeps
    * re-committed exclusion sets from accumulating names whose files a
    * purge already reclaimed. */
  private def stillOnDisk(
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path,
      sub: String,
      names: Set[String]): Set[String] =
    if (names.isEmpty) names
    else {
      val p = new org.apache.hadoop.fs.Path(dirPath, sub)
      if (!fs.exists(p)) Set.empty
      else {
        val present = fs.listStatus(p).toSeq
          .filter(_.isFile).map(_.getPath.getName).toSet
        names.intersect(present)
      }
    }

  /** LIVE tail files at `dir` — the listed tail parquet files minus the
    * manifest's `xtail` retirements (files an optimize pass already
    * compacted into a generation but has not yet physically purged).
    * Fresh appends are new UUID-named files, visible immediately. */
  private def tailFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val tailPath = new org.apache.hadoop.fs.Path(dirPath, "tail")
    if (!fs.exists(tailPath)) Seq.empty
    else {
      val retired = TableManifest.latest(fs, dirPath)
        .map(_.xtail).getOrElse(Set.empty)
      fs.listStatus(tailPath).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")
          && !retired.contains(st.getPath.getName))
        .map(_.getPath)
    }
  }

  /** `base` filtered to `column IN sortedValues`, CHUNKED to the
    * session's parquet IN-pushdown threshold: above
    * `spark.sql.parquet.pushdown.inFilterThreshold` Spark silently
    * degrades a pushed In to a [min,max] RANGE — which un-prunes the
    * scan exactly when a workload probes many keys — so the read is a
    * union of ≤-threshold-sized In scans over the SORTED values (each
    * chunk a contiguous key range, so its row-group pruning stays
    * tight and a file straddles at most two adjacent chunks). The ONE
    * copy of the idiom, shared by the IVF+PQ probed-list scan and the
    * BM25 query-term scan; PlanSpec pins the cliff regime. */
  def chunkedIn(
      spark: org.apache.spark.sql.SparkSession,
      base: DataFrame, column: String,
      sortedValues: Seq[Any]): DataFrame = {
    require(sortedValues.nonEmpty, s"chunkedIn needs values for $column")
    val threshold = math.max(1, spark.conf
      .get("spark.sql.parquet.pushdown.inFilterThreshold", "10").toInt)
    sortedValues.grouped(threshold)
      .map(chunk => base.where(col(column).isInCollection(chunk)))
      .reduce(_.unionByName(_))
  }

  /** Merge sorted distinct long keys into ≤ `maxRanges` inclusive
    * intervals — consecutive keys coalesce for free, then the smallest
    * inter-range gaps are swallowed until the budget holds (the
    * [[zRangesForBox]] cap idea on a 1-D key set). The result COVERS
    * the input (a superset — swallowed gaps admit extra keys, never
    * drop one). */
  def mergeRanges(
      sortedKeys: Seq[Long], maxRanges: Int): Seq[(Long, Long)] = {
    require(sortedKeys.nonEmpty && maxRanges >= 1, "empty keys or budget")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sortedKeys.foreach { v =>
      if (buf.nonEmpty && buf.last._2 + 1 >= v)
        buf(buf.length - 1) = (buf.last._1, math.max(buf.last._2, v))
      else buf += ((v, v))
    }
    swallowGaps(buf.toVector, maxRanges)
  }

  /** `base` filtered to a SUPERSET cover of `column IN sortedKeys` as
    * ONE scan: an OR-of-BETWEEN over ≤ `maxRanges` merged key ranges —
    * the predicate shape parquet row-group pruning evaluates from
    * footer min/max without decoding, with plan size O(maxRanges)
    * regardless of key count. The complement of [[chunkedIn]] for the
    * HIGH-key-count regime: a chunked IN stays exact but its union
    * plan grows as O(keys / threshold), so a caller probing tens of
    * thousands of keys pays plan build/compile cost linear in probes;
    * the cover holds the plan constant and lets a downstream EXACT
    * membership step (an equi-join against the broadcast key relation
    * — which the IVF+PQ probe join already is) drop the admitted
    * extras. Callers without an exact downstream filter must add one.
    * On a relation CLUSTERED by `column`, swallowed gaps admit only
    * row groups adjacent to probed ranges, so bytes read stay close to
    * the probed fraction for clustered or moderately-dense key sets. */
  def rangeCoverScan(
      spark: org.apache.spark.sql.SparkSession,
      base: DataFrame, column: String,
      sortedKeys: Seq[Long], maxRanges: Int = 64): DataFrame = {
    val ranges = mergeRanges(sortedKeys, maxRanges)
    base.where(ranges.map { case (lo, hi) =>
      col(column).between(lo, hi) }.reduce(_ || _))
  }

  /** Count of `incoming` keys still PENDING in `dir`'s tombstone
    * relation (0 when none exist). Appending such a key is the silent
    * permanent-loss path: every reader masks the new row, and the next
    * compaction drops it physically while consolidate retires the
    * tombstone — so delete-then-re-add REQUIRES a consolidate in
    * between ([[tombstone]]'s contract); appenders call this to fail
    * LOUDLY instead. Free when no tombstones exist (no job runs). */
  def pendingTombstoned(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, keyCol: String, incoming: DataFrame): Long = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    tombstones(spark, fs, dirPath) match {
      case None => 0L
      case Some((del, _)) => incoming.select(col(keyCol))
        .join(del.distinct(), Seq(keyCol), "left_semi").count()
    }
  }

  /** [[clusteredTable]], or None when `dir` holds no generation or
    * tail data yet — the bootstrap read for appenders that dedup
    * against a table which may not exist before the first batch. */
  def clusteredTableIfAny(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val anyGen = generations(fs, dirPath).nonEmpty
    val anyTail = tailFiles(fs, dirPath).nonEmpty
    if (anyGen || anyTail) Some(clusteredTable(spark, dir)) else None
  }

  /** Read the whole lifecycle table at `dir` — every gen-K generation
    * plus any unoptimized tail, MINUS tombstoned keys ([[tombstone]]);
    * the anti-join key is the tombstone relation's (single) column.
    * Paths are discovered with the Hadoop FS API (never a glob, which
    * would also match the deletes relation), and predicates on table
    * columns still push down to the scans — Catalyst pushes left-side
    * filters through the left-anti join. */
  def clusteredTable(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val genPaths = generations(fs, dirPath).sorted
      .map(g => new org.apache.hadoop.fs.Path(dirPath, s"gen-$g"))
    val parts =
      (genPaths ++ tailFiles(fs, dirPath)).map(_.toString)
    require(parts.nonEmpty, s"no generations or tail data under $dir")
    val base = ParquetIO.read(spark, parts)
    tombstones(spark, fs, dirPath) match {
      case Some((del, _)) =>
        require(del.schema.fields.length == 1,
          s"tombstone relation at $dir/deletes must have exactly one " +
            s"column, found ${del.schema.fieldNames.mkString(", ")}")
        base.join(del.distinct(), Seq(del.schema.fields.head.name),
          "left_anti")
      case None => base
    }
  }

  /** OPTIMIZE pass: re-cluster ONLY the unsorted tail into the next
    * `gen-K` directory (range-repartition + sort by the z_key the
    * appends already carry — the exact arithmetic of [[zorderLayout]]),
    * then RETIRE exactly the tail files that were compacted in the same
    * manifest commit that makes the generation live (physical deletion
    * deferred one pass — see [[TableManifest]]). Returns rows compacted
    * (0 = no tail, no-op). Cost is one sort of the TAIL, not the
    * table — the whole point versus a full re-layout.
    *
    * Generation policy: every pass adds a generation, and a box query
    * scans ≈ (#generations) × the fresh-layout fraction (each gen prunes
    * independently — ScaleBench B42 measures the curve), so generations
    * must not accumulate without bound. With `maxGenerations` > 0, a
    * pass that leaves more than that many generations triggers
    * [[zorderConsolidate]] — one full-table merge amortized over the G
    * cheap tail-only passes between triggers (the Delta OPTIMIZE /
    * Iceberg rewrite_data_files tiered-compaction shape). 0 keeps the
    * tail-only behavior (callers running their own cadence).
    *
    * Concurrency: the file set is SNAPSHOTTED once (`inputFiles`) and
    * the read is pinned to that list, so a [[zorderAppend]] racing this
    * pass is safe — files landing after the snapshot are neither read
    * nor deleted and stay in the tail for the next pass, and the tail
    * DIRECTORY itself is never removed (a directory delete would race
    * an in-flight append's uncommitted `_temporary` output and can
    * throw on files committed mid-walk; an empty tail dir costs
    * nothing — [[zorderTable]] just finds no rows in it). Gen-K
    * directories are touched ONLY by this pass and by
    * [[zorderConsolidate]] — run a single OPTIMIZE writer at a time
    * (the usual lakehouse maintenance contract; appends stay safe). */
  def zorderOptimize(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, numFiles: Int, maxGenerations: Int = 0): Long =
    clusteredOptimize(spark, dir, numFiles, Seq("z_key"), maxGenerations)

  /** The lifecycle core behind [[zorderOptimize]], generalized to ANY
    * cluster-key column list: re-cluster the unsorted tail into the
    * next gen-K (range-repartition + sort by `sortCols`), delete
    * exactly the compacted tail files, optionally consolidate past
    * `maxGenerations`. The z-order table uses it with `z_key`; the
    * persisted indexes through [[ClusteredIndex]], with each relation's
    * declared keys (IVF+PQ codes by `(list_id, neighbor_id)`, BM25
    * postings by `(term, doc_id)`, …) — one lifecycle implementation,
    * many cluster keys, because the layout math (generations prune
    * independently; tails prune nothing until optimized) does not care
    * WHAT the key means. Same snapshot-pinning and single-OPTIMIZE-
    * writer contract as [[zorderOptimize]]. */
  def clusteredOptimize(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, numFiles: Int, sortCols: Seq[String],
      maxGenerations: Int = 0,
      writerOptions: Map[String, String] = Map.empty): Long = {
    require(sortCols.nonEmpty, "clusteredOptimize needs sort columns")
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    // entries a PREVIOUS pass retired in the manifest have now survived
    // one full maintenance interval — reclaim them first
    purgeRetired(fs, dirPath)
    // a manifest-less table (bootstrap-by-append: first streaming
    // micro-batch, zorderAppend into a fresh dir) gets SEALED before
    // anything is written: without this, a crash between the gen-next
    // write and the first manifest commit would leave a half-written
    // generation that the retry's listing fallback ADOPTS into the
    // live set — sealing first makes gen-next invisible-until-commit
    // from the table's very first maintenance pass (the documented
    // crash-invisibility guarantee, now unconditional)
    if (fs.exists(dirPath) && TableManifest.latest(fs, dirPath).isEmpty)
      sealInitial(spark, dir)
    val snapshot = tailFiles(fs, dirPath)
    val compacted =
      if (snapshot.isEmpty) 0L
      else {
        val live = generations(fs, dirPath)
        val next = (live ++ listedGenerations(fs, dirPath))
          .foldLeft(-1)(math.max) + 1
        // read pinned to the live-tail snapshot: appends landing
        // mid-pass are neither compacted nor retired (next pass)
        val df0 = ParquetIO.read(spark, snapshot.map(_.toString))
        // rows compacted = the snapshot files' exact footer row counts
        // — the old df0.count() was a full distributed pass over rows
        // the clusterInto write below re-reads anyway (r22, guide §1.2
        // "don't compute things you throw away")
        val n = ParquetIO.rowCountOf(spark, snapshot.map(_.toString))
        // tombstoned rows are dropped PHYSICALLY from the new
        // generation (merge-on-read applied at compaction); the
        // tombstones themselves survive — older generations may still
        // hold the keys, and only consolidate (a full rewrite) can
        // retire them
        val manifest = TableManifest.latest(fs, dirPath)
        val df = tombstones(spark, fs, dirPath) match {
          case Some((del, _)) => df0.join(del.distinct(),
            Seq(del.schema.fields.head.name), "left_anti")
          case None => df0
        }
        clusterInto(df, numFiles, sortCols)
          .write.mode("errorifexists").options(writerOptions)
          .parquet(new org.apache.hadoop.fs.Path(dirPath, s"gen-$next").toString)
        // ONE commit flips the snapshot: gen-next becomes live and the
        // compacted tail files retire in the same instant — no reader
        // can see the rows twice (pre-manifest lifecycles deleted the
        // tail AFTER the gen write, a duplicate-read window) or lose
        // them. Physical deletion is deferred to the next pass.
        TableManifest.commit(fs, dirPath, TableManifest.Snapshot(
          0,
          Some((live.sorted :+ next).map(g => s"gen-$g")),
          stillOnDisk(fs, dirPath, "deletes",
            manifest.map(_.xdel).getOrElse(Set.empty)),
          stillOnDisk(fs, dirPath, "tail",
            manifest.map(_.xtail).getOrElse(Set.empty)) ++
            snapshot.map(_.getName),
          Seq.empty, Set.empty))
        n
      }
    if (maxGenerations > 0 &&
      generations(fs, dirPath).size > maxGenerations)
      // skipPurge: this pass's own commit just retired the tail files —
      // purging them zero interval later would defeat the reader grace
      consolidateImpl(spark, dir, numFiles, sortCols, writerOptions,
        skipPurge = true)
    compacted
  }

  /** Consolidate ALL generations into one: merge every gen-K into a
    * single freshly z-clustered gen-(max+1) (the [[zorderLayout]]
    * arithmetic over the union — every input row already carries its
    * z_key, so this is one range-repartition + sort, the same cost
    * shape as the initial layout) and delete the old generation
    * directories. Returns rows consolidated (0 = fewer than two
    * generations, no-op). The tail is untouched — racing appends stay
    * safe; see [[zorderOptimize]] for the single-OPTIMIZE-writer
    * contract that protects the gen directories themselves.
    *
    * Cost: a full sort of the TABLE — which is why it runs once every
    * `maxGenerations` passes, not every pass: the steady state is G−1
    * cheap tail-only sorts per full-table sort, and the scanned-rows
    * curve (SCALE.md, measured by B42) stays ≤ (G+1) × the fresh
    * fraction between triggers. LayoutSpec pins the result ≡ a full
    * re-layout of the same rows. */
  def zorderConsolidate(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, numFiles: Int): Long =
    clusteredConsolidate(spark, dir, numFiles, Seq("z_key"))

  /** [[zorderConsolidate]] generalized to any cluster-key column list —
    * see [[clusteredOptimize]]. Also the PHYSICAL-delete pass: the
    * merged generation drops tombstoned rows ([[tombstone]]), and once
    * no un-compacted tail remains the tombstone relation is emptied —
    * every surviving copy of a deleted key has been rewritten away, so
    * the table needs no anti-join to serve reads. (With a non-empty
    * tail the tombstones are RETAINED: the tail may still hold deleted
    * keys, and purging early would resurrect them.) A single generation
    * plus pending tombstones is enough to trigger the rewrite — the
    * usual two-generation minimum exists only because merging one
    * generation is otherwise a no-op.
    *
    * Reader-side race: CLOSED since r19 by the manifest commit. The
    * merged generation becomes live and the inputs retire in one
    * atomic `_manifest` rename; the old generation directories stay on
    * disk until the next maintenance pass (or [[vacuum]]), so a reader
    * that resolved its file list before the commit
    * ([[clusteredTable]] /
    * [[graft.similarity.Similarity.ivfPqSearchPersisted]]) finishes
    * its scan over the consistent pre-consolidate snapshot. Only a
    * reader outliving a FULL maintenance interval (or racing an
    * explicit vacuum) can still hit FileNotFoundException — the
    * standard lakehouse retention contract. */
  def clusteredConsolidate(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, numFiles: Int, sortCols: Seq[String],
      writerOptions: Map[String, String] = Map.empty): Long =
    consolidateImpl(spark, dir, numFiles, sortCols, writerOptions,
      skipPurge = false)

  private def consolidateImpl(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, numFiles: Int, sortCols: Seq[String],
      writerOptions: Map[String, String],
      skipPurge: Boolean): Long = {
    require(sortCols.nonEmpty, "clusteredConsolidate needs sort columns")
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    // reclaim what the PREVIOUS pass retired (one interval has passed)
    if (!skipPurge) purgeRetired(fs, dirPath)
    // seal a manifest-less table BEFORE writing gen-next — same
    // bootstrap crash-window close as [[clusteredOptimize]]: a crash
    // between the merged-generation write and the commit must leave a
    // generation the retry treats as crashed (purged), never one the
    // listing fallback adopts
    if (fs.exists(dirPath) && TableManifest.latest(fs, dirPath).isEmpty)
      sealInitial(spark, dir)
    val gens = generations(fs, dirPath)
    val del = tombstones(spark, fs, dirPath)
    if (gens.size < 2 && (del.isEmpty || gens.isEmpty)) return 0L
    val next = (gens ++ listedGenerations(fs, dirPath)).max + 1
    val genPaths = gens.sorted
      .map(g => new org.apache.hadoop.fs.Path(dirPath, s"gen-$g"))
    // snapshot-pinned like clusteredOptimize: the merged write covers
    // exactly the files seen here. The file list comes from ONE driver
    // FS listing per generation (not a throwaway spark.read whose only
    // purpose was .inputFiles — that read cost a schema-inference job).
    val snapshot = genPaths.flatMap { gp =>
      fs.listStatus(gp).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
    }
    val df0 = ParquetIO.read(spark, snapshot)
    val df = del match {
      case Some((d, _)) => df0.join(d.distinct(),
        Seq(d.schema.fields.head.name), "left_anti")
      case None => df0
    }
    val genNextPath =
      new org.apache.hadoop.fs.Path(dirPath, s"gen-$next").toString
    clusterInto(df, numFiles, sortCols)
      .write.mode("errorifexists").options(writerOptions)
      .parquet(genNextPath)
    // rows consolidated = the merged generation's exact footer row
    // counts (post-anti-join, identical to the old pre-write
    // df.count() — which was a SECOND full pass over the same rows,
    // r22, guide §1.2)
    val n = ParquetIO.rowCountOf(spark, Seq(genNextPath))
    // ONE commit: the merged generation becomes live, the inputs and —
    // once nothing outside it can still hold a deleted key (no live
    // tail) — EXACTLY the tombstone files applied above retire, all in
    // the same atomic rename. tombstone() appends landing mid-pass are
    // neither applied nor retired (next pass). The old generation
    // directories and retired tombstone files stay on DISK until the
    // next maintenance pass (or [[vacuum]]): a reader that resolved the
    // pre-consolidate snapshot keeps scanning a consistent table — the
    // FileNotFoundException race the r18 verdict documented is closed.
    val manifest = TableManifest.latest(fs, dirPath)
    val retiredDel: Set[String] = del match {
      case Some((_, files)) if tailFiles(fs, dirPath).isEmpty =>
        files.map(_.getName).toSet
      case _ => Set.empty
    }
    TableManifest.commit(fs, dirPath, TableManifest.Snapshot(
      0,
      Some(Seq(s"gen-$next")),
      stillOnDisk(fs, dirPath, "deletes",
        manifest.map(_.xdel).getOrElse(Set.empty)) ++ retiredDel,
      stillOnDisk(fs, dirPath, "tail",
        manifest.map(_.xtail).getOrElse(Set.empty)),
      Seq.empty, Set.empty))
    n
  }

  /** Read the whole z-order lifecycle table (all generations + any
    * unoptimized tail, minus tombstoned rows) — [[clusteredTable]] with
    * the z-order key's vocabulary. Pruning predicates ([[inZRanges]] +
    * the exact box filter) apply uniformly; unsorted tail files simply
    * prune worse until the next [[zorderOptimize]]. */
  def zorderTable(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    clusteredTable(spark, dir)

  /** Tombstone rows of the z-order table by a key column — readers mask
    * them immediately; the next [[zorderConsolidate]] (or a
    * `maxGenerations`-triggered one) drops them physically and retires
    * the tombstones. See [[tombstone]]. */
  def zorderDelete(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, keyCol: String, ids: DataFrame): Unit =
    tombstone(spark, dir, keyCol, ids)

  // --- Bloom-filter point-lookup layout (M72) ---------------------------
  //
  // Z-order (M69) wins RANGE queries at the scan; it does nothing for
  // point lookups on a high-cardinality key (content hash, doc id, URL),
  // where min/max footer stats are useless — a hash-distributed key's
  // range in every row group spans the whole domain, so "fetch this doc"
  // scans the fleet. Parquet's row-group BLOOM FILTERS (parquet-format
  // BloomFilter spec, split-block variant) close exactly that gap: the
  // writer embeds a few hundred KB per row group, and an equality/IN
  // predicate pushed to the reader drops every row group whose filter
  // rules the keys out — no index service, no catalog, the same
  // "open only the files you touch" property as the z-order path but for
  // point predicates. Measured on this build (LayoutSpec pins it): a
  // 3-key IN over 2M rows scans ~54k rows with blooms vs all 2M without.

  /** Write-side: hash-cluster by `keyCol` into `numFiles` files (a key
    * lives in exactly ONE file) and write parquet with a bloom filter on
    * `keyCol` sized for `expectedNdv` distinct keys per row group.
    * `rowGroupBytes` bounds row-group size — smaller groups = finer
    * pruning granularity at a few hundred KB of filter each. The frame
    * is returned keyed and clustered; callers write it with
    * [[bloomWriteOptions]] applied (kept separate so the layout composes
    * with any sink configuration). */
  def bloomLayout(df: DataFrame, keyCol: String, numFiles: Int): DataFrame =
    df.repartition(numFiles, col(keyCol))

  /** The writer options that arm the bloom filter on `keyCol`. */
  def bloomWriteOptions(
      keyCol: String,
      expectedNdv: Long,
      rowGroupBytes: Long = 8L << 20): Map[String, String] = Map(
    s"parquet.bloom.filter.enabled#$keyCol" -> "true",
    s"parquet.bloom.filter.expected.ndv#$keyCol" -> expectedNdv.toString,
    "parquet.block.size" -> rowGroupBytes.toString)

  /** Read-side point lookup: equality/IN on the bloom'd key, pushed down
    * so parquet consults the filters during row-group selection. The
    * predicate shape matters — `isin`/`===` push as Eq/Or(Eq…); anything
    * the source can't push (UDF, expression over the key) silently scans
    * everything. */
  def pointLookup(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      keyCol: String,
      keys: Seq[Long]): DataFrame =
    spark.read.parquet(path).where(col(keyCol).isin(keys: _*))
}
