package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the bounded-time exports (SURVEY.md
  * §2.5 streaming note): the reference's hourly export loop
  * (emiproc/exports/hourly.py:167-169, 168-hour chunks) is a micro-batch
  * pattern — here it becomes a real streaming query.
  *
  * These transforms take a STREAMING DataFrame (from readStream) and
  * return a streaming DataFrame; they also work unchanged on batch inputs
  * (minus the watermark no-op) — same plan, Spark picks the incremental
  * execution. Profiles are static broadcast tables joined to the stream:
  * stream-static joins need no state store, only the windowed aggregate
  * keeps state, bounded by the watermark.
  */
object StreamingOps {

  /** Start a streaming query with `spark.sql.shuffle.partitions`
    * temporarily set for the STREAM's state layout, then restore the
    * session value. A stateful stream runs one state-store instance
    * (RocksDB open + commit per micro-batch) PER shuffle partition, so
    * its fixed cost scales with partitions, not data — the
    * q_stream_attribution finding (9.8 s at 32 partitions vs 2.7 s at
    * 4 on identical input), now shared by every stateful gate. The
    * setting is captured at query START (offset log), so the
    * finally-restore cannot affect the running query. Partition count
    * comes from `spark.graft.stream.gatePartitions` (default 8): size
    * to buffered-state volume — a production deployment with real
    * arrival rates raises it, which is why it is a conf, not a
    * constant. */
  def startSized[T](spark: org.apache.spark.sql.SparkSession)(
      start: => T): T = {
    val parts = spark.conf.get("spark.graft.stream.gatePartitions", "8")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      start
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Tumbling 1-hour event-time windows per event type, 2-hour watermark
    * for late data — the incremental form of Events.hourlyWindows /
    * export_hourly_emissions (reference emiproc/exports/hourly.py:22-224). */
  def hourlyWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(
        col("window.start").as("hour"),
        col("event_type"), col("n"), col("total_value"))

  /** Stream-STREAM interval join (M74) — the click-attribution shape:
    * every click joins the impressions of the SAME user whose event time
    * precedes it by at most `horizon`. Both sides are live unbounded
    * streams, so this is the one join batch composition can't express
    * incrementally — Structured Streaming buffers each side in the state
    * store and the WATERMARK + the event-time interval condition are
    * what make that state BOUNDED: an impression older than
    * (watermark − horizon) can never match a future click and is evicted.
    * Without the time condition the state grows with the corpus — the
    * 100 TB failure mode this operator exists to avoid.
    *
    * Inner join ⇒ results are exactly the batch join of the same data
    * (watermarks only bound lateness/state, they drop no on-time rows) —
    * the gate replays it against a plain DuckDB join. Output:
    * (user_id, view_id, click_id, delay_us) with the delay an exact
    * integer both engines compute from the same microsecond stamps.
    *
    * Sizing note: a stream-stream join keeps FOUR state-store instances
    * per shuffle partition (keyToNumValues + keyWithIndexToValue on each
    * side), every one committed per micro-batch — so per-batch fixed
    * cost scales with `spark.sql.shuffle.partitions`, not with data.
    * Set partitions to the buffered-state volume (horizon × arrival
    * rate), captured at query start. */
  def attributionJoin(
      impressions: DataFrame,
      clicks: DataFrame,
      horizon: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val imp = impressions
      .select(col("user_id").as("i_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val clk = clicks
      .select(col("user_id").as("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    clk.join(imp,
      col("i_user") === col("user_id") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"interval $horizon"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
          .as("delay_us"))
  }

  final case class SessionEvent(user_id: Long, event_id: Long, ts_us: Long)
  final case class OpenSession(start_us: Long, last_us: Long, n: Long, first_event: Long)
  final case class ClosedSession(
      user_id: Long, first_event: Long, n_events: Long, duration_us: Long)

  /** Stateful streaming sessionization via
    * `flatMapGroupsWithState` — the custom-state path of SURVEY §2.5's
    * streaming note (batch equivalent: Events.sessionize). One open
    * session per user lives in the state store; a closed session is
    * emitted as soon as an event beyond the gap arrives. */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000

    def update(
        user: Long,
        it: Iterator[SessionEvent],
        state: GroupState[OpenSession]): Iterator[ClosedSession] = {
      val evs = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var st = state.getOption
      val out = scala.collection.mutable.Buffer[ClosedSession]()
      evs.foreach { e =>
        st match {
          case Some(s) if e.ts_us - s.last_us <= gapUs =>
            st = Some(s.copy(last_us = e.ts_us, n = s.n + 1))
          case Some(s) =>
            out += ClosedSession(user, s.first_event, s.n, s.last_us - s.start_us)
            st = Some(OpenSession(e.ts_us, e.ts_us, 1, e.event_id))
          case None =>
            st = Some(OpenSession(e.ts_us, e.ts_us, 1, e.event_id))
        }
      }
      st.foreach(state.update)
      out.iterator
    }

    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming exact dedup for a document stream — the incremental form
    * of `Dedup.exactDuplicates` for continuous ingestion pipelines:
    * pre-hash the text (the state key is the 8-byte hash + text, like
    * the batch path) and keep first-seen only, with the dedup state
    * bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark` — exact within the window, which
    * is the practical contract for streaming ingest; cross-window dupes
    * need the batch pass). `docs` needs (doc_id, ts, text). */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("_th", xxhash64(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("_th", "text")
      .drop("_th")

  /** Per-(hour, cell, variable) tumbling windows — the gridded form of
    * [[hourlyWindows]] feeding [[hourlyNcSink]]: state is bounded by
    * watermark × active cells. */
  def hourlyCellWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("cell_id"), col("event_type"))
      .agg(sum("value").as("total_value"))
      .select(
        col("window.start").as("hour"),
        col("cell_id"), col("event_type"), col("total_value"))

  /** Streaming per-hour NetCDF sink — the real-file K2 streaming variant:
    * each micro-batch's closed hourly windows are written as one classic
    * `.nc` per hour named `yyyyMMdd'T'HHmmss'Z'.nc` (the reference's
    * `filename_format`, emiproc/exports/hourly.py:33) via
    * [[graft.sinks.NetcdfWriter]]. Append-mode aggregate: a window only
    * reaches the sink once its watermark passes, so each file is final —
    * the micro-batch loop IS the reference's 168-hour chunk loop, with
    * completeness guaranteed by the watermark instead of batch order.
    *
    * Input: the output of [[hourlyCellWindows]]. Each batch shuffles
    * ONCE keyed by hour, then every closed hour is assembled and
    * written INSIDE its task — the pattern of the batch writer
    * [[graft.sinks.Exports.hourlyExportNc]], which runs its explode and
    * fold over one exchange keyed by an int hour. A stalled stream that
    * closes many hours in one catch-up batch writes them in parallel
    * across executor threads, and the driver never materializes a
    * single plane. Task memory is bounded by variables × cells for one
    * hour.
    *
    * The sink stays separate from the batch writer: it learns each
    * hour's variables from that hour's rows, and a classic NetCDF
    * header must list every variable before the first plane streams,
    * so an hour's planes are assembled before its file is written. The
    * batch writer lists its variables once from the un-exploded input
    * and streams one plane at a time.
    *
    * NOTE: because files are written from executor TASKS (not the
    * driver), on a multi-node cluster `outDir` must be a shared
    * filesystem visible to every executor (NFS/Lustre/fuse-mounted
    * object store) — the same constraint as
    * [[graft.sinks.Exports.hourlyExportNc]]. On local[n] any local path
    * works. */
  def hourlyNcSink(
      windowed: DataFrame,
      grid: graft.model.RegularGrid,
      outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val ncells = grid.ncells.toInt
    windowed.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        batch0
          .select(col("hour"),
            col("cell_id").cast("long").as("cell_id"),
            col("event_type"),
            col("total_value").cast("double").as("total_value"))
          .repartition(col("hour"))
          .sortWithinPartitions("hour", "event_type", "cell_id")
          .foreachPartition { (it: java.util.Iterator[org.apache.spark.sql.Row]) =>
            import scala.jdk.CollectionConverters._
            val fmt = java.time.format.DateTimeFormatter
              .ofPattern("yyyyMMdd'T'HHmmss'Z'")
              .withZone(java.time.ZoneOffset.UTC)
            val buf = it.asScala.buffered
            while (buf.hasNext) {
              val hourTs = buf.head.getAs[java.sql.Timestamp]("hour")
              val vars = scala.collection.mutable.ArrayBuffer
                .empty[(String, Array[Double])]
              while (buf.hasNext &&
                buf.head.getAs[java.sql.Timestamp]("hour") == hourTs) {
                val v = buf.head.getAs[String]("event_type")
                val arr = new Array[Double](ncells)
                while (buf.hasNext &&
                  buf.head.getAs[java.sql.Timestamp]("hour") == hourTs &&
                  buf.head.getAs[String]("event_type") == v) {
                  val r = buf.next()
                  arr(r.getAs[Long]("cell_id").toInt) +=
                    r.getAs[Double]("total_value")
                }
                vars += ((v, arr))
              }
              graft.sinks.Exports.writeBytes(
                s"$outDir/${fmt.format(hourTs.toInstant)}.nc",
                hourlyNcFileBytes(ncells, vars.toSeq))
            }
          }
        () // foreachBatch wants the Unit-returning overload
      }
  }

  /** One streaming hour's NetCDF bytes — variables in ascending name
    * order with dense per-cell planes. Factored out so the spec can
    * byte-match the distributed task writer against independently
    * assembled expected content. */
  private[graft] def hourlyNcFileBytes(
      ncells: Int,
      varsData: Seq[(String, Array[Double])]): Array[Byte] = {
    import graft.sinks.{Exports, NetcdfWriter}
    import graft.sinks.NetcdfWriter.{WriteVar, textAtt}
    import graft.sources.NetcdfClassic.{NcDim, NcDouble}
    val dataVars = varsData.map { case (v, arr) =>
      WriteVar(v, Seq("cell"), NcDouble,
        atts = Seq(textAtt("units", "kg h-1"), textAtt("long_name", v)),
        doubles = arr)
    }
    NetcdfWriter.write(Seq(NcDim("cell", ncells)),
      Exports.ncCfAttrs("graft streaming hourly export"), dataVars)
  }

  final case class BandedDoc(band_key: String, doc_id: Long, sig: Array[Long])
  final case class NearDupCandidate(doc_a: Long, doc_b: Long, est_jaccard: Double)

  /** Streaming NEAR-dup candidate detection — the incremental form of
    * the batch MinHash→LSH pipeline ([[graft.dedup.Dedup]]): each
    * incoming document's signature is computed ROW-LOCALLY (shingle →
    * portable-hash → k minhashes, same parameters as the batch path, no
    * shuffle), exploded into one row per LSH band, and matched against
    * the per-bucket state of previously seen signatures with
    * `flatMapGroupsWithState` keyed by (band, band-key).
    *
    * State is bounded two ways: the state key space is the LSH bucket
    * space (occupancy-scale, like the batch band join), and each bucket
    * retains at most `maxBucketSize` recent signatures (drop-oldest) —
    * the same degenerate-bucket guard as the batch `lshCandidatePairs`,
    * doubling as the memory bound. A pair sharing several bands can be
    * emitted once per shared band; distinct downstream (the batch
    * verify stage does this anyway). */
  def lshCandidateStream(
      docs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      maxBucketSize: Int = 50): Dataset[NearDupCandidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prime = graft.text.TextAnalysis.Prime
    val k = numHashes

    def signature(text: String): Array[Long] = {
      val words = text.split(" ")
      val shingles = (if (words.length < shingleN) Seq.empty[String]
        else words.sliding(shingleN).map(_.mkString(" ")).toSeq).distinct
      val sig = Array.fill(k)(Long.MaxValue)
      shingles.foreach { s =>
        var h = 0L
        var i = 0
        while (i < s.length) { h = (h * 31 + s.charAt(i)) % prime; i += 1 }
        var j = 0
        while (j < k) {
          val v = ((37L + 101L * j) * h + (17L + 91L * j)) % prime
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      sig
    }

    def update(
        key: String,
        it: Iterator[BandedDoc],
        state: GroupState[Seq[(Long, Array[Long])]]): Iterator[NearDupCandidate] = {
      var seen = state.getOption.getOrElse(Seq.empty)
      val out = scala.collection.mutable.Buffer[NearDupCandidate]()
      it.toSeq.sortBy(_.doc_id).foreach { d =>
        seen.foreach { case (otherId, otherSig) =>
          if (otherId != d.doc_id) {
            var eq = 0
            var j = 0
            while (j < k) { if (otherSig(j) == d.sig(j)) eq += 1; j += 1 }
            val est = eq.toDouble / k
            if (est >= threshold)
              out += NearDupCandidate(
                math.min(otherId, d.doc_id), math.max(otherId, d.doc_id), est)
          }
        }
        seen = (seen :+ (d.doc_id -> d.sig)).takeRight(maxBucketSize)
      }
      state.update(seen)
      out.iterator
    }

    docs
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val sig = signature(text)
        (0 until k / rowsPerBand).map { b =>
          val bandKey = (b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(sig).mkString(s"$b:", ",", "")
          BandedDoc(bandKey, id, sig)
        }
      }
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  final case class TokenCount(shard: Long, token: String, cnt: Long)

  /** Streaming heavy hitters over the token stream — Misra–Gries
    * summaries (Misra & Gries 1982; the frequent-items sketch every
    * streaming-vocabulary monitor uses) in `flatMapGroupsWithState`:
    * state per shard is a counter map hard-capped at `capacity`
    * entries. A token outside a full map triggers the decrement-all
    * step, so state NEVER exceeds capacity regardless of vocabulary
    * size — the property that makes unbounded-vocab token streams safe
    * at 100 TB (a plain streaming `groupBy(token)` keeps state per
    * DISTINCT token, which web text grows without bound). Guarantee:
    * any token with true count > batch/(capacity+1) per shard survives
    * with count undercounted by at most that bound; when capacity ≥
    * distinct tokens in the shard the counts are EXACT (the gate
    * regime — hash-verified vs the batch count oracle; the capped
    * regime is spec-tested). Tokens are sharded by portable hash so
    * state and work spread across executors; within-batch processing
    * is sorted for cross-run determinism even when decrements fire. */
  def heavyHitterStream(
      docs: DataFrame,
      shards: Int = 16,
      capacity: Int = 100000,
      minCount: Long = 2): Dataset[TokenCount] = {
    val spark = docs.sparkSession
    import spark.implicits._

    def update(
        shard: Long,
        it: Iterator[(Long, String)],
        state: GroupState[Map[String, Long]]): Iterator[TokenCount] = {
      var m = state.getOption.getOrElse(Map.empty[String, Long])
      it.toSeq.map(_._2).sorted.foreach { tok =>
        m.get(tok) match {
          case Some(c) => m += tok -> (c + 1)
          case None if m.size < capacity => m += tok -> 1L
          case None => // Misra–Gries: decrement every counter, drop zeros
            m = m.flatMap { case (k, v) =>
              if (v > 1) Some(k -> (v - 1)) else None
            }
        }
      }
      state.update(m)
      m.iterator.collect {
        case (t, c) if c >= minCount => TokenCount(shard, t, c)
      }
    }

    docs
      .select(explode(split(col("text"), " ")).as("token"))
      .withColumn("shard",
        pmod(graft.functions.PortableHashExpr.portableHash(col("token")),
          lit(shards.toLong)))
      .select(col("shard"), col("token")).as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  final case class ShardCardinality(
      shard: Long, est_distinct: Long, sketch: Array[Byte])

  /** Streaming distinct-key monitor (M66) — the streaming side of
    * [[graft.ops.Sketches]]: per-shard HLL sketch state (Apache
    * DataSketches, the SAME serialization Spark's `hll_sketch_agg`
    * family uses) updated in `flatMapGroupsWithState`, emitting each
    * shard's running distinct estimate per micro-batch. State per shard
    * is ONE sketch — ≤ ~2^lgK bytes HARD-BOUNDED regardless of how many
    * distinct keys the stream ever sees, where a streaming
    * `approx_count_distinct` aggregate cannot emit running per-shard
    * values in update mode without a watermark and a plain
    * `groupBy(key)` grows state per distinct key without bound. Keys
    * are sharded by portable hash, so state and work spread across
    * executors and the shard layout matches [[graft.ops.Sketches]]'
    * content-stable shards — a batch job can `hll_union_agg` the
    * emitted state with stored per-shard batch sketches.
    *
    * Exactness regime: a DataSketches HLL returns EXACT counts while in
    * its coupon (LIST/SET) modes — thousands of keys per shard at
    * lgK 14 — which is the gate regime (hash-verified against the batch
    * exact count); the estimation regime's error bound is REQUIREd in
    * ScaleBench B29 on the batch path sharing this sketch type. */
  def cardinalityStream(
      rows: DataFrame,
      keyCol: String,
      shards: Int = 16,
      lgK: Int = 14): Dataset[ShardCardinality] = {
    val spark = rows.sparkSession
    import spark.implicits._
    import org.apache.datasketches.hll.HllSketch

    def update(
        shard: Long,
        it: Iterator[(Long, String)],
        state: GroupState[Array[Byte]]): Iterator[ShardCardinality] = {
      val sk = state.getOption
        .map(HllSketch.heapify)
        .getOrElse(new HllSketch(lgK))
      it.foreach { case (_, k) => sk.update(k) }
      val bytes = sk.toUpdatableByteArray
      state.update(bytes)
      // the emitted sketch IS the state: downstream batch jobs union it
      // with stored shard sketches via hll_union_agg (spec-pinned)
      Iterator.single(ShardCardinality(shard, Math.round(sk.getEstimate), bytes))
    }

    rows
      .select(col(keyCol).cast("string").as("k"))
      // NULL keys ignored — hll_sketch_agg / count(distinct) semantics
      // on the batch path; a null shard would also NPE the Long decode.
      .where(col("k").isNotNull)
      .withColumn("shard",
        pmod(graft.functions.PortableHashExpr.portableHash(col("k")),
          lit(shards.toLong)))
      .select(col("shard"), col("k")).as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  final case class ShardFreqState(shard: Long, counters: Array[Long])

  /** Streaming frequency monitor (M78) — the count-parallel of
    * [[cardinalityStream]], and the streaming side of
    * [[graft.ops.FreqSketch]]: per-shard count-min counters updated in
    * `flatMapGroupsWithState`, the running state emitted each
    * micro-batch. State per shard is ONE depth×width long array —
    * HARD-BOUNDED (depth·width·8 bytes, e.g. 8 KB at 4×256) no matter
    * how many distinct keys the stream ever sees, where a plain
    * `groupBy(key).count()` grows state per distinct key without bound.
    *
    * Interop contract (spec- and gate-pinned): the hash is EXACTLY
    * [[graft.ops.FreqSketch.cmsBuild]]'s — portable 31-base hash of
    * "r:key", mod width — and CMS counters are linear, so the emitted
    * per-shard states SUMMED cell-by-cell equal the batch sketch of the
    * same rows bit-for-bit (each key lands in exactly one shard). A
    * pipeline therefore keeps ONE sketch store that batch jobs and the
    * live stream both feed. Exact at any scale — no estimation-regime
    * switch; one-sidedness of estimates is the batch operator's
    * property and unchanged by where the counters were accumulated. */
  def frequencyStream(
      rows: DataFrame,
      keyCol: String,
      shards: Int = 16,
      depth: Int = 4,
      width: Int = 256): Dataset[ShardFreqState] = {
    val spark = rows.sparkSession
    import spark.implicits._

    def update(
        shard: Long,
        it: Iterator[(Long, String)],
        state: GroupState[Array[Long]]): Iterator[ShardFreqState] = {
      val counters = state.getOption.getOrElse(new Array[Long](depth * width))
      it.foreach { case (_, k) =>
        var r = 0
        while (r < depth) {
          val c = (graft.functions.PortableHashExpr.hash(s"$r:$k") %
            width).toInt
          counters(r * width + c) += 1L
          r += 1
        }
      }
      state.update(counters)
      Iterator.single(ShardFreqState(shard, counters))
    }

    rows
      .select(col(keyCol).cast("string").as("k"))
      // NULL keys ignored — matches cmsBuild (see its scaladoc); also
      // prevents a null shard NPE in the (Long, String) decode.
      .where(col("k").isNotNull)
      .withColumn("shard",
        pmod(graft.functions.PortableHashExpr.portableHash(col("k")),
          lit(shards.toLong)))
      .select(col("shard"), col("k")).as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** Stream-static join: scale each event by the static hourly profile
    * factor of its event type (missing profile → 1.0) — the streaming form
    * of the temporal explode's factor application (T3). The profile table
    * is a broadcast; the stream stays narrow (no state). */
  def applyHourlyFactors(events: DataFrame, factors: DataFrame): DataFrame =
    events
      .withColumn("hour_of_day", hour(col("ts")))
      .join(broadcast(factors), Seq("event_type", "hour_of_day"), "left")
      .select(
        col("event_id"), col("ts"), col("event_type"),
        (col("value") * coalesce(col("sf"), lit(1.0))).as("scaled_value"))

  // --- Continuous index maintenance (r18) --------------------------------
  //
  // The persisted indexes (M41 BM25 inverted index, M70 IVF+PQ) maintain
  // incrementally via shuffle-free tail appends; these sinks wire a
  // STREAM of new rows into that append path — foreachBatch, one append
  // per micro-batch, rows searchable at the very next read. foreachBatch
  // REPLAYS a batch after a failure (at-least-once), so both sinks
  // default dedupAgainstIndex = true: a replayed batch anti-joins to
  // zero incoming rows and the append is a no-op — idempotent ingest
  // without a transactional sink (StreamingSpec pins the replay).
  // Compaction stays a maintenance-side concern (optimizeIndex on a
  // cadence), exactly as for batch appends — ingest never shuffles
  // existing data.

  /** Stream (vec_id, embedding) rows into a persisted IVF+PQ index —
    * frozen-codebook [[graft.similarity.Similarity.ivfPqAppendIndex]]
    * per micro-batch. */
  def annIndexIngest(
      vecs: DataFrame,
      indexDir: String,
      checkpointDir: String,
      m: Int = 8,
      dims: Int = 64,
      dedupAgainstIndex: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.similarity.Similarity.ivfPqAppendIndex(
            batch.sparkSession, indexDir, batch, m, dims,
            dedupAgainstIndex)
        ()
      }
      .start()

  /** Stream (doc_id, text) rows into a persisted BM25 inverted index —
    * [[graft.text.Bm25.appendIndex]] per micro-batch (postings tail +
    * docstats tail + one additive stats row, so N/avgdl stay exact as
    * the stream grows the corpus). */
  def bm25IndexIngest(
      docs: DataFrame,
      indexDir: String,
      checkpointDir: String,
      dedupAgainstIndex: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.text.Bm25.appendIndex(
            batch.sparkSession, indexDir, batch, dedupAgainstIndex)
        ()
      }
      .start()
}
