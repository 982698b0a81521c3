package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One declaration of a persisted index: the [[Layout]] lifecycle
  * relations (gen-K + tail + deletes + manifest each) an index family
  * keeps under one root, and the ONE copy of the maintenance
  * orchestration over them. BM25 ([[graft.text.Bm25]]: postings +
  * docstats) and IVF+PQ ([[graft.similarity.Similarity]]: codes +
  * optional vecs) are declarations of it; each family keeps only its own
  * work — turning a batch into relation rows, and its sidecar (BM25's
  * additive stats, IVF+PQ's epochs and spill marker). Every operation
  * runs the present relations' passes concurrently ([[graft.Par]]):
  * disjoint directories, own manifests, independent passes.
  *
  * Contracts:
  *  - SINGLE MAINTENANCE WRITER: optimize, consolidate, vacuum and
  *    upsert rewrite generations and retire files — run one at a time
  *    per index; appends and reads stay safe alongside.
  *  - ORDER RULE: a family sidecar write that depends on a delete (the
  *    BM25 negative stats row) lands strictly AFTER the tombstones
  *    ([[delete]]'s `commit`), so a failed tombstone write leaves the
  *    index consistent — the ids simply not deleted.
  *  - DELETE-THEN-RE-ADD: [[append]] rejects ids with pending tombstones
  *    (masked at read, dropped at the next compaction); [[upsert]] is
  *    the supported form.
  *
  * @param key        id column of incoming batches and delete lists
  * @param idRelation the relation whose visible rows are the index's
  *                   visible ids (delete and upsert resolve against it)
  * @param relations  the lifecycle relations; the first is required and
  *                   its row counts are what optimize/consolidate return
  */
final case class ClusteredIndex(
    key: String, idRelation: String,
    relations: Seq[ClusteredIndex.Relation]) {
  import ClusteredIndex.Relation

  require(relations.nonEmpty && !relations.head.optional,
    "the first relation of an index must be required")
  private val idRel = relations.find(r => r.name == idRelation && !r.optional)
    .getOrElse(throw new IllegalArgumentException(
      s"no required relation named $idRelation"))

  private def dir(root: String, r: Relation): String = s"$root/${r.name}"

  /** Every required relation, and each optional one whose dir exists. */
  def present(spark: SparkSession, root: String): Seq[Relation] =
    relations.filter { r =>
      val p = new org.apache.hadoop.fs.Path(dir(root, r))
      !r.optional ||
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }

  def has(spark: SparkSession, root: String, name: String): Boolean =
    present(spark, root).exists(_.name == name)

  /** Initial build: range-cluster each relation's `rows` into `gen-0`
    * and seal its first manifest (manifest-governed from birth);
    * optional relations are written when `rows` has them. The writes
    * overlap with the family's `sidecars` on driver threads. */
  def write(spark: SparkSession, root: String, rows: Map[String, DataFrame],
      numFiles: Int, writerOptions: Map[String, String],
      sidecars: (() => Unit)*): Unit = {
    require(relations.forall(r => r.optional || rows.contains(r.name)),
      s"rows must cover every required relation of $root")
    graft.Par.run(relations.filter(r => rows.contains(r.name)).map { r =>
      () => {
        Layout.clusterInto(rows(r.name), r.files(numFiles), r.clusterKeys)
          .write.mode("errorifexists").options(writerOptions)
          .parquet(s"${dir(root, r)}/gen-0")
        Layout.sealInitial(spark, dir(root, r))
      }
    } ++ sidecars: _*)
  }

  /** Ingest: land `batch` in every present relation's tail, unclustered
    * — no shuffle of existing data. `rows(name)` maps the batch to that
    * relation's rows; `sidecar` gets the batch as the id relation admits
    * it and runs alongside. Ids with pending tombstones fail the call
    * before anything is written.
    *
    * The batch is snapshotted once (`localCheckpoint`: every append
    * reads it once, and no write's commit-time cache refresh can
    * re-evaluate it). A SERIAL batch — a streaming micro-batch is one
    * file, one partition — is first fanned out to the session's
    * parallelism, or the snapshot pins the encode/tokenize work to one
    * core; the threshold is min(parallelism, 8) (r22: past 8-way the
    * ingest-time shuffle costs more than it spreads).
    *
    * With `dedup` each relation anti-joins the batch against its OWN
    * visible ids, so a replayed batch (at-least-once streaming ingest) is
    * a no-op per relation, and a crash between two relations' appends
    * converges on replay instead of leaving one relation behind (a
    * fresh root — the first streaming micro-batch — has nothing to
    * dedup against). The anti-joins resolve their file lists before any
    * write lands, so no relation dedups the batch against itself. */
  def append(spark: SparkSession, root: String, batch: DataFrame,
      dedup: Boolean, rows: Map[String, DataFrame => DataFrame],
      sidecar: DataFrame => Unit = _ => ()): Unit = {
    val live = present(spark, root)
    live.foreach { r =>
      val n = Layout.pendingTombstoned(spark, dir(root, r), r.idCol,
        batch.select(col(key).as(r.idCol)))
      require(n == 0L, s"$n incoming ${key}s have PENDING tombstones in " +
        s"${dir(root, r)} - appending them would be silently masked and " +
        "dropped at the next compaction; consolidate the index first, or " +
        "upsert (delete-then-re-add contract)")
    }
    val par = spark.sparkContext.defaultParallelism
    val snap = (if (batch.rdd.getNumPartitions >= math.min(par, 8)) batch
      else batch.repartition(par)).localCheckpoint()
    val incoming = live.map(r => r.name -> (if (!dedup) snap
      else Layout.clusteredTableIfAny(spark, dir(root, r)).fold(snap)(vis =>
        snap.join(vis.select(col(r.idCol).as(key)), Seq(key), "left_anti"))))
      .toMap
    graft.Par.run(live.map { r =>
      () => rows(r.name)(incoming(r.name))
        .write.mode("append").parquet(s"${dir(root, r)}/tail")
    } :+ (() => sidecar(incoming(idRelation))): _*)
  }

  /** Delete by id: tombstones on every present relation — masked by
    * every read at once, applied physically at [[consolidate]]. Only
    * VISIBLE ids (in the id relation) are tombstoned, so deleting an
    * absent or already-deleted id is a no-op and never blocks a later
    * append of it. Returns the visible ids deleted. The victims are
    * snapshotted once and released in `finally`; `tally` aggregates
    * them in the count's job, and when anything was deleted `commit`
    * gets the tally row AFTER the tombstones landed (the order rule). */
  def delete(spark: SparkSession, root: String, ids: DataFrame,
      tally: Seq[Column] = Nil)(commit: Row => Unit = _ => ()): Long = {
    val victims = Layout.clusteredTable(spark, dir(root, idRel))
      .join(ids.select(col(key).cast("long").as(idRel.idCol)).distinct(),
        Seq(idRel.idCol), "left_semi")
      .persist()
    try {
      val t = victims.agg(countDistinct(idRel.idCol), tally: _*).collect()(0)
      if (t.getLong(0) > 0L) {
        graft.Par.run(present(spark, root).map { r =>
          () => Layout.tombstone(spark, dir(root, r), r.idCol,
            victims.select(col(idRel.idCol).as(r.idCol)))
        }: _*)
        commit(Row.fromSeq(t.toSeq.tail))
      }
      t.getLong(0)
    } finally victims.unpersist()
  }

  /** OPTIMIZE each present relation ([[Layout.clusteredOptimize]]);
    * returns the first relation's rows compacted. */
  def optimize(spark: SparkSession, root: String, numFiles: Int,
      maxGenerations: Int, writerOptions: Map[String, String]): Long =
    each(spark, root)(r => Layout.clusteredOptimize(spark, dir(root, r),
      r.files(numFiles), r.clusterKeys, maxGenerations, writerOptions)).head

  /** CONSOLIDATE each present relation, applying and retiring its
    * tombstones ([[Layout.clusteredConsolidate]]); returns the first
    * relation's rows rewritten. */
  def consolidate(spark: SparkSession, root: String, numFiles: Int,
      writerOptions: Map[String, String]): Long =
    each(spark, root)(r => Layout.clusteredConsolidate(spark, dir(root, r),
      r.files(numFiles), r.clusterKeys, writerOptions)).head

  /** VACUUM each present relation ([[Layout.vacuum]], retention-guarded
    * unless `force`); returns entries reclaimed. */
  def vacuum(spark: SparkSession, root: String, force: Boolean): Long =
    each(spark, root)(r =>
      Layout.vacuum(spark, dir(root, r), force = force)).sum

  /** UPSERT `batch` by `key`: `delete` tombstones the visible copies;
    * when it deleted any — or an EARLIER delete left an incoming id
    * pending — optimize folds the tail (so the tombstones can retire)
    * and `consolidate` applies them; then `append` lands the batch. A
    * batch of purely-new ids skips the rewrite. The by-name arguments
    * are the family's own calls, so its sidecar rides along. */
  def upsert(spark: SparkSession, root: String, batch: DataFrame,
      numFiles: Int, writerOptions: Map[String, String])(
      delete: => Long, consolidate: => Unit, append: => Unit): Unit = {
    if (delete > 0L || Layout.pendingTombstoned(spark, dir(root, idRel),
      idRel.idCol, batch.select(col(key).as(idRel.idCol))) > 0L) {
      optimize(spark, root, numFiles, 0, writerOptions)
      consolidate
    }
    append
  }

  /** `op` over the present relations concurrently, in declaration order. */
  private def each(spark: SparkSession, root: String)(
      op: Relation => Long): Seq[Long] = {
    val live = present(spark, root)
    val out = new Array[Long](live.size)
    graft.Par.run(live.indices.map(i => () => out(i) = op(live(i))): _*)
    out.toSeq
  }
}

object ClusteredIndex {

  /** One lifecycle relation: its dir under the index root, the id column
    * its tombstones carry, its generations' cluster (sort) keys, the
    * divisor of their file count (`numFiles / filesDivisor`, at least
    * one), and whether it is optional (present iff its dir exists). */
  final case class Relation(
      name: String, idCol: String, clusterKeys: Seq[String],
      filesDivisor: Int = 1, optional: Boolean = false) {
    def files(numFiles: Int): Int = math.max(1, numFiles / filesDivisor)
  }
}
