package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines: reproducible
  * (same input → same sample, no RNG state), partition-count-independent,
  * and cheap (narrow filter / one bounded window). `Dataset.sample` is
  * seed-stable only for a fixed partitioning — these are content-stable.
  */
object Sampling {

  /** Keep ~`pct`% of rows by a modular slot on the id column — content-
    * deterministic; with a sequential id this is systematic sampling, with
    * a hashed id it is uniform. Narrow (a pushdown-able filter). */
  def slotSample(df: DataFrame, idCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be 0..100, got $pct")
    df.where(pmod(col(idCol), lit(100)) < pct)
  }

  /** Stratified fixed-size sample: the first `perGroup` rows of each
    * stratum under a deterministic (idCol) order — one window shuffle on
    * the stratum key, skew-bounded by `perGroup`. */
  def stratifiedSample(
      df: DataFrame,
      stratumCols: Seq[String],
      idCol: String,
      perGroup: Int): DataFrame = {
    TopK.perGroup(df, stratumCols.map(col), Seq(col(idCol)), perGroup, "_rn")
      .drop("_rn")
  }

  /** Split into train/validation/test by id slot — the standard
    * reproducible holdout: slots [0,a) train, [a,b) val, [b,100) test. */
  def holdoutSplit(
      df: DataFrame,
      idCol: String,
      trainPct: Int,
      valPct: Int): DataFrame = {
    require(trainPct + valPct <= 100, "train+val must be <= 100")
    val slot = pmod(col(idCol), lit(100))
    df.withColumn("split",
      when(slot < trainPct, "train")
        .when(slot < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Decontamination-aware holdout split (M10 × M8 composition — the
    * cross-split leakage scrub an eval pipeline runs before training):
    * deterministic id-slot split, then mark every TRAIN doc sharing an
    * n-gram shingle with any held-out (val/test) doc. The shingle
    * equi-join is keyed by shingle — a corpus-scale shuffle, never
    * all-pairs — and the held-out shingle set is the small side at real
    * split ratios (≤ 20% of the corpus). Returns `(doc_id, split,
    * leaked)`; training consumers keep `split = 'train' AND NOT leaked`
    * so memorized eval text can't enter the training set. */
  def decontaminatedSplit(
      docs: DataFrame,
      trainPct: Int,
      valPct: Int,
      n: Int = 5): DataFrame = {
    val split = holdoutSplit(docs, "doc_id", trainPct, valPct)
      .select(col("doc_id"), col("split"))
    val sh = graft.dedup.Dedup.shingles(docs, n)
    val withSide = sh.join(split, "doc_id")
    val heldSh = withSide.where(col("split") =!= "train")
      .select("shingle").distinct()
    val leakedIds = withSide.where(col("split") === "train")
      .join(heldSh, "shingle")
      .select("doc_id").distinct()
      .withColumn("leaked", lit(true))
    split.join(leakedIds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("leaked"), lit(false)).as("leaked"))
  }

  /** Dedup-aware (leakage-safe) holdout split: a near-duplicate of a
    * held-out doc inside the training set IS the held-out doc for
    * memorization purposes, so the split must assign whole near-dup
    * CLUSTERS, not docs, to folds (the published eval-contamination
    * fix — e.g. The Pile and LLaMA dedup eval sets against train).
    * Composition: [[graft.dedup.Clustering.dedupAssign]] over verified
    * near-dup `pairs`, then the [[holdoutSplit]] slot rule applied to
    * `cluster_id` — every member of a cluster inherits the canonical
    * member's fold, so no cluster can straddle train/eval by
    * construction. Scale shape: adds nothing to dedupAssign's cost
    * (one pairs-sized CC + a broadcastable join); the fold rule is a
    * narrow per-row expression. */
  def leakageSafeSplit(
      docs: DataFrame,
      pairs: DataFrame,
      trainPct: Int,
      valPct: Int): DataFrame = {
    require(trainPct + valPct <= 100, "train+val must be <= 100")
    val slot = pmod(col("cluster_id"), lit(100))
    graft.dedup.Clustering.dedupAssign(docs, pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .withColumn("split",
        when(slot < trainPct, "train")
          .when(slot < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Slot modulus for [[domainMix]] — prime, and the Lehmer multiplier
    * decorrelates the mix slots from [[slotSample]]/[[holdoutSplit]]'s
    * plain `id % 100` slots so stacked samplers don't alias. */
  val MixSlotMod = 1000003L
  private val MixSlotMul = 48271L

  /** Materialize a domain-reweighted training mix (the DoReMi/Pile-style
    * "domain weights" step): `weights` gives each domain's target share
    * of the output (must sum to 1), `totalOut` the target output size
    * (default: the input size). A domain needing more than its corpus
    * repeats whole epochs (the standard upsampling semantics — epoch k
    * is copy k of the domain) plus a deterministic slot-sampled
    * fractional epoch; a domain needing less keeps a slot-sampled
    * fraction of epoch 0. Rows: `(doc_id, <domainCol>, epoch)`.
    *
    * Deterministic and engine-portable: the only per-row state is
    * `((doc_id % p) · 48271) % p` integer arithmetic; per-domain epoch
    * counts come from one tiny domain-count aggregate (collected —
    * domains are O(10), never corpus-sized). Everything else is narrow:
    * no shuffle of the corpus, and the epoch explode is the output
    * itself.
    *
    * Bound: the per-row copy/threshold lookup compiles to a when-chain
    * whose expression DEPTH is O(#distinct domains) — fine for mixture
    * weighting (DoReMi/Pile use ~10-30 domains), pathological past ~1000
    * (codegen blowup, 64KB method limits). Guarded below; reweighting by
    * a high-cardinality key (per-host, per-url) is a different operator —
    * use a broadcast-join factor table (see dsirResample). */
  /** Token-budget apportionment across domains (mixture planning the
    * way production mixes are actually specified — "N billion tokens at
    * these shares", not document counts). Hamilton's largest-remainder
    * method over integer token counts: `base_d = floor(budget·w_d)`,
    * the `budget − Σ base` leftover tokens go one each to the domains
    * with the largest fractional remainders (domain-name tie-break) —
    * deterministic, exact, and Σ budget_tokens == budget by
    * construction. Weights must be dyadic (k/2ⁿ) so `budget·w` is
    * IEEE-exact and the floor/remainder arithmetic is engine-portable.
    *
    * Scale shape: ONE domain-keyed token-count aggregate over the
    * corpus (map-side combined); everything after runs on #domains
    * rows — the ranking window is bounded, never corpus-sized.
    * Output: (domain, avail_tokens, budget_tokens, epochs_millis =
    * ⌊1000·budget/avail⌋ — >1000 means the domain must repeat).
    *
    * @note EAGER — this is a corpus-level PLANNER, not a lazy plan
    *       fragment: calling it runs the token-count aggregate (one
    *       Spark job) at call time and caches the #domains-row result
    *       the returned plan reuses. */
  def tokenBudget(
      docs: DataFrame,
      domainCol: String,
      weights: Map[String, Double],
      budget: Long): DataFrame = {
    require(math.abs(weights.values.sum - 1.0) < 1e-9,
      s"domain weights must sum to 1, got ${weights.values.sum}")
    val spark = docs.sparkSession
    import spark.implicits._
    val wdf = broadcast(weights.toSeq.toDF(domainCol, "w"))
    val avail = docs
      .select(col(domainCol), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy(domainCol).agg(sum("t").as("avail_tokens"))
    val based = graft.Caching.cache(avail.join(wdf, Seq(domainCol))
      .withColumn("exact", col("w") * budget) // dyadic w → IEEE-exact
      .withColumn("base", floor(col("exact")).cast("long"))
      .withColumn("frac", col("exact") - col("base")))
    // The sum(budget_tokens) == budget invariant holds only when every
    // weighted domain is observed: an absent domain's base allocation
    // would silently vanish in the inner join above (and its budget is
    // undeliverable anyway — 0 available tokens). Fail loudly instead.
    // NOTE: this is an EAGER check — constructing the plan runs the
    // (map-side-combined, #domains-row) token-count aggregate. The
    // operator is a corpus-level planner whose result is consumed
    // immediately in practice; the count also pre-materializes the
    // cache the final plan reuses. On failure the cache is dropped.
    val nBased = based.count()
    if (nBased != weights.size) {
      graft.Caching.release(based)
      throw new IllegalArgumentException(
        s"tokenBudget: ${weights.size - nBased} weighted domain(s) have no " +
          "documents in the corpus — their allocation would be dropped")
    }
    val leftover = based.agg((lit(budget) - sum("base")).as("leftover"))
    val win = Window.partitionBy(lit(0)) // #domains rows — bounded
      .orderBy(col("frac").desc, col(domainCol))
    based.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(win))
      .withColumn("budget_tokens",
        col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .withColumn("epochs_millis", // integer div: bit-identical to `//`
        expr("(budget_tokens * 1000) div avail_tokens"))
      .select(col(domainCol), col("avail_tokens"), col("budget_tokens"),
        col("epochs_millis"))
  }

  /** Temperature-scaled multilingual sampling shares — the mBERT/XLM-R
    * rebalancing step: languages are sampled ∝ p^α (α = 1/2 here), so
    * head languages shrink and tail languages grow relative to their
    * natural share, without the tail ever outranking the head. All
    * arithmetic is engine-portable integers: per-language token counts
    * → z = round(sqrt(n)·10⁶) (IEEE sqrt is exactly rounded — bit-equal
    * in any engine), then TWO largest-remainder apportionments (both
    * pure BIGINT): shares out of 10⁶ from z, and `budget` tokens from
    * those shares. Σ share_micro == 10⁶ and Σ budget_tokens == budget
    * by construction. Bounds: per-language tokens ≤ ~8·10¹³ and budget
    * ≤ ~9·10¹² keep every product inside 2⁶³ (documented, not checked
    * per-row — these are corpus-level plans, #langs rows).
    *
    * Scale shape: ONE lang-keyed token-count aggregate over the corpus
    * (map-side combined); both remainder windows run on #langs rows.
    * Output: (lang, avail_tokens, share_micro, budget_tokens).
    *
    * @note EAGER — like [[tokenBudget]], a corpus-level PLANNER:
    *       calling it runs the token-count aggregate (one Spark job)
    *       at call time and caches the #langs-row result the returned
    *       plan reuses. */
  def temperatureShares(
      docs: DataFrame,
      langCol: String,
      budget: Long): DataFrame = {
    require(budget > 0 && budget <= 9000000000000L,
      s"budget must be in (0, 9e12] for exact BIGINT arithmetic, got $budget")
    val M = 1000000L
    val avail = docs
      .select(col(langCol), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy(langCol).agg(sum("t").as("avail_tokens"))
    val z = graft.Caching.cache(avail.withColumn("z_micro",
      round(sqrt(col("avail_tokens").cast("double")) * 1e6).cast("long")))
    // Σ z_micro = 0 (empty corpus, or every language has 0 tokens)
    // would make the `div s_tot` below a silent null/div-0 instead of
    // a diagnosable error. Fail loudly, mirroring tokenBudget's
    // absent-domain guard. EAGER like tokenBudget: this runs the
    // (map-side-combined, #langs-row) token-count aggregate at
    // plan-construction time and pre-materializes the cache the final
    // plan reuses; on failure the cache is dropped.
    val sTotRow = z.agg(sum("z_micro")).head()
    val sTot = if (sTotRow.isNullAt(0)) 0L else sTotRow.getLong(0)
    if (sTot <= 0L) {
      graft.Caching.release(z)
      throw new IllegalArgumentException(
        "temperatureShares: corpus has no language with tokens " +
          s"(sum of z_micro = $sTot) — shares would be null/div-0")
    }
    val tot = z.agg(sum("z_micro").as("s_tot"))
    val winA = Window.partitionBy(lit(0)) // #langs rows — bounded
      .orderBy(col("rem_a").desc, col(langCol))
    val shares = z.crossJoin(broadcast(tot))
      .withColumn("base_a", expr(s"($M * z_micro) div s_tot"))
      .withColumn("rem_a", expr(s"($M * z_micro) % s_tot"))
    val leftA = shares.agg((lit(M) - sum("base_a")).as("left_a"))
    val withShare = shares.crossJoin(broadcast(leftA))
      .withColumn("rk_a", row_number().over(winA))
      .withColumn("share_micro",
        col("base_a") + when(col("rk_a") <= col("left_a"), 1L).otherwise(0L))
    val winB = Window.partitionBy(lit(0))
      .orderBy(col("rem_b").desc, col(langCol))
    val based = withShare
      .withColumn("base_b", expr(s"($budget * share_micro) div $M"))
      .withColumn("rem_b", expr(s"($budget * share_micro) % $M"))
    val leftB = based.agg((lit(budget) - sum("base_b")).as("left_b"))
    based.crossJoin(broadcast(leftB))
      .withColumn("rk_b", row_number().over(winB))
      .select(col(langCol), col("avail_tokens"), col("share_micro"),
        (col("base_b") + when(col("rk_b") <= col("left_b"), 1L).otherwise(0L))
          .as("budget_tokens"))
  }

  def domainMix(
      docs: DataFrame,
      domainCol: String,
      weights: Map[String, Double],
      totalOut: Option[Long] = None): DataFrame = {
    require(math.abs(weights.values.sum - 1.0) < 1e-9,
      s"domain weights must sum to 1, got ${weights.values.sum}")
    val counts = docs.groupBy(domainCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.size <= 1000,
      s"domainMix builds an O(#domains)-deep expression; got ${counts.size} " +
        "distinct domains (max 1000) — for high-cardinality reweighting " +
        "use a broadcast-joined factor table instead")
    val total = totalOut.getOrElse(counts.values.sum).toDouble
    val plans = counts.map { case (dom, n) =>
      // epochs = target share of output over available rows; Scala and
      // the oracle SQL evaluate this identical op-for-op (w·T then /n)
      val e = weights.getOrElse(dom, 0.0) * total / n
      val copies = math.floor(e)
      val thresh = math.floor((e - copies) * MixSlotMod)
      (dom, copies.toLong, thresh.toLong)
    }.toSeq
    val copiesCol = plans.foldLeft(lit(0L)) { case (acc, (dom, c, _)) =>
      when(col(domainCol) === dom, lit(c)).otherwise(acc)
    }
    val threshCol = plans.foldLeft(lit(0L)) { case (acc, (dom, _, t)) =>
      when(col(domainCol) === dom, lit(t)).otherwise(acc)
    }
    val slot = pmod(pmod(col("doc_id"), lit(MixSlotMod)) * lit(MixSlotMul),
      lit(MixSlotMod))
    docs.select(col("doc_id"), col(domainCol),
        (copiesCol + when(slot < threshCol, lit(1L)).otherwise(lit(0L)))
          .as("n_copies"))
      .where(col("n_copies") > 0)
      .select(col("doc_id"), col(domainCol),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("epoch"))
  }

  /** Deterministic global shuffle into training shards: every doc gets a
    * content-stable pseudo-random key (portable hash of a salted id), a
    * shard (key mod `nShards`) and its position within the shard (rank
    * by key). The training loader then reads shards in any order and
    * rows within a shard by `pos` — a reproducible corpus permutation
    * with no RNG state to coordinate across executors.
    *
    * Scale: ONE shuffle (by shard) + a per-shard sort. Choose `nShards`
    * so a shard fits an executor (100 TB / 16k shards ≈ 6 GB); the sort
    * is per-shard, never global. Ties cannot happen (doc_id breaks any
    * hash collision in the rank order). */
  def shardShuffle(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0)
    val key = graft.text.TextAnalysis.portableHash(
      concat(lit("shuf"), col("doc_id")))
    val win = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    docs.select(col("doc_id"), key.as("shuffle_key"))
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(win).cast("long"))
      .select("doc_id", "shard", "pos", "shuffle_key")
  }
}
