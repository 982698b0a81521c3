package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Deduplication operators for a training-data pipeline: exact,
  * MinHash + LSH banding, n-gram Jaccard verification, SimHash.
  *
  * Scale design: every stage is a join/aggregate keyed by something whose
  * cardinality grows with the corpus (text hash, shingle, band key), so
  * the shuffles stay balanced at 100 TB. The only quadratic step —
  * candidate-pair verification — is gated behind LSH banding or
  * document-frequency pruning of shingles, the standard inverted-index
  * bound on join fan-out.
  */
object Dedup {

  import TextAnalysis.Prime

  /** Exact duplicate grouping: every doc maps to the smallest doc_id
    * carrying identical text. Pre-hashed: the window partitions by
    * (xxhash64(text), text), so partitioning and the within-partition
    * sort resolve on the 8-byte hash in all but collision cases — the
    * raw text is only compared when hashes collide, never as the leading
    * sort key. Text still equality-checked inside the group, so hash
    * collisions cannot merge distinct documents. */
  def exactDuplicates(docs: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("_th"), col("text"))
    docs
      .withColumn("_th", xxhash64(col("text")))
      .select(col("doc_id"), min("doc_id").over(win).as("canonical_id"))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("int"))
  }

  /** Distinct word n-gram shingles per document — the unit set of both
    * MinHash and Jaccard. A single narrow generate via the custom
    * [[graft.functions.ShingleGenerator]] (per-doc dedup inside the
    * generator == the global (doc, shingle) distinct): zero shuffles,
    * vs. two for the declarative explode+window+distinct formulation. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.ShingleGenerator.shingles(col("text"), n).as("shingle"))

  /** MinHash signatures: k permutation-hashes h_j(x) = (a_j·x + b_j) mod P
    * over the shingle hashes, minimum per (doc, j). The parameter table is
    * a broadcast of k rows; one shuffle on (doc, j). */
  def minhashSignatures(
      spark: SparkSession,
      shingleDf: DataFrame,
      numHashes: Int = 8): DataFrame = {
    val params = spark.createDataFrame(
      (0 until numHashes).map(j => (j, 37L + 101L * j, 17L + 91L * j)))
      .toDF("hash_id", "a", "b")
    // Hash every (doc, shingle) row inline: portableHash is a native
    // codegen'd Expression, so the char-fold stays inside the scan's
    // whole-stage pipeline. (A "hash the distinct shingle set once and
    // join back" variant saves some hashing on repetitive corpora but
    // needs either a corpus-proportional broadcast — executor OOM at
    // scale — or an extra shuffle join; the inline pass is strictly one
    // narrow stage.) The only broadcast left is the k-row param table.
    shingleDf
      .withColumn("h", TextAnalysis.portableHash(col("shingle")))
      .crossJoin(broadcast(params))
      .groupBy("doc_id", "hash_id")
      .agg(min((col("a") * col("h") + col("b")) % Prime).as("minhash"))
  }

  /** LSH banding: split the signature into bands of `rowsPerBand` hashes;
    * the band key is the ordered minhash list rendered to a string.
    * Docs sharing a band key are candidate near-duplicates. */
  def lshBandKeys(minhashes: DataFrame, rowsPerBand: Int = 2): DataFrame =
    minhashes
      .withColumn("band", expr(s"hash_id div $rowsPerBand"))
      .groupBy("doc_id", "band")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("hash_id"), col("minhash")))),
            x => concat(x.getField("hash_id"), lit(":"), x.getField("minhash"))),
          ",").as("band_key"))

  /** Candidate pairs from LSH banding + estimated Jaccard = fraction of
    * agreeing minhashes. The pair join is keyed by (band, band_key) —
    * fan-out bounded by bucket occupancy, not corpus size.
    *
    * `maxBucketSize` caps degenerate buckets (a boilerplate band key
    * shared by millions of docs would otherwise explode the self-join
    * quadratically): buckets above the cap are DROPPED before the join —
    * the standard production guard; the docs they contain are usually
    * boilerplate whose near-dup pairs carry no information. 0 = no cap. */
  def lshCandidatePairs(
      minhashes_ : DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      maxBucketSize: Int = 0): DataFrame = {
    // The signature table is referenced three times below (band keys +
    // both pair sides); persist it so the shingle/hash pipeline above it
    // runs once, not three times. Signatures are k rows/doc — tiny next
    // to the corpus, safe to cache at scale. Registered with
    // graft.Caching so the harness unpersists after consumption.
    val minhashes = graft.Caching.cache(minhashes_)
    val keys0 = lshBandKeys(minhashes, rowsPerBand)
    val capped =
      if (maxBucketSize <= 0) keys0
      else {
        val w = Window.partitionBy("band", "band_key")
        keys0.withColumn("_bsz", count(lit(1)).over(w))
          .where(col("_bsz") <= maxBucketSize)
          .drop("_bsz")
      }
    val keys = graft.Caching.cache(capped)
    val pairs = keys.as("a")
      .join(keys.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sigA = minhashes.select(
      col("doc_id").as("doc_a"), col("hash_id"), col("minhash").as("mh_a"))
    val sigB = minhashes.select(
      col("doc_id").as("doc_b"), col("hash_id"), col("minhash").as("mh_b"))
    val k = numHashes.toDouble
    pairs
      .join(sigA, Seq("doc_a"))
      .join(sigB, Seq("doc_b", "hash_id"))
      .groupBy("doc_a", "doc_b")
      .agg((sum(when(col("mh_a") === col("mh_b"), 1).otherwise(0)) / k).as("est_jaccard"))
  }

  /** Exact n-gram Jaccard over candidate pairs that share at least one
    * shingle, with stop-shingles (document frequency > maxDocFreq)
    * pruned first — the inverted-index bound that keeps the self-join
    * linear-ish in corpus size. */
  def jaccardPairs(
      shingleDf: DataFrame,
      maxDocFreq: Int = 50,
      threshold: Double = 0.2): DataFrame = {
    val rare = shingleDf
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq)
      .select("shingle")
    // pruned feeds the self-join (twice) and the size table — persist so
    // the shingle explode + doc-frequency pass runs once.
    val pruned = graft.Caching.cache(shingleDf.join(rare, "shingle"))
    val sizes = pruned.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = pruned.as("a")
      .join(pruned.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard",
        col("common") / (col("sz_a") + col("sz_b") - col("common")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "common", "jaccard")
  }

  /** The production near-dup pipeline at scale: LSH banding proposes
    * candidates, exact n-gram Jaccard verifies ONLY those — the
    * verification join is proportional to candidate count × doc shingle
    * size, never corpus². (SCALE.md: this is the composition to run at
    * 100 TB instead of the all-pairs [[jaccardPairs]].) */
  def verifiedNearDups(
      spark: SparkSession,
      docs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val sh = graft.Caching.cache(shingles(docs))
    val mh = minhashSignatures(spark, sh, numHashes)
    val cand = lshCandidatePairs(mh, numHashes, rowsPerBand)
      .select("doc_a", "doc_b")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard",
        col("common") / (col("sz_a") + col("sz_b") - col("common")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Incremental cross-corpus deduplication — the production INGESTION
    * path: dedup a NEW batch of documents against an EXISTING corpus
    * without re-clustering the corpus. (Re-running full-corpus dedup per
    * ingest is O(corpus) every batch; this is O(batch + matched
    * buckets).) Exact duplicates are found by content-hash join;
    * near-duplicates by matching the batch's LSH band keys against the
    * corpus's (identical banding to [[verifiedNearDups]], so the two
    * compose into one index) and verifying ONLY cross-corpus candidates
    * with exact shingle Jaccard. Exact dups are anti-joined out BEFORE
    * the near pipeline — they never pay shingling.
    *
    * Scale shape: the existing side's hash + band-key tables are exactly
    * the index a production system keeps materialized between ingests
    * (k rows per doc — signature-sized, not text-sized); every join is
    * keyed by hash / band key / shingle, cardinalities that grow with
    * the corpus, so shuffles stay balanced at 100 TB. Nothing is
    * broadcast except the constant k-row minhash parameter table.
    *
    * Output: one row per incoming doc — (doc_id, status
    * 'exact_dup'|'near_dup'|'new', match_id = smallest matching existing
    * doc id or -1, jaccard of that match — 1.0 exact, 0.0 new). */
  def incrementalDedup(
      spark: SparkSession,
      existing: DataFrame,
      incoming: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    // exact: group the existing side by (hash, text) — hash leads the
    // join key so the exchange partitions on 8 bytes; text stays in the
    // key so collisions cannot alias distinct documents
    val exHash = existing
      .select(TextAnalysis.portableHash(col("text")).as("h"),
        col("text"), col("doc_id"))
      .groupBy("h", "text").agg(min("doc_id").as("exact_id"))
    val exact = incoming
      .select(col("doc_id"), col("text"),
        TextAnalysis.portableHash(col("text")).as("h"))
      .join(exHash, Seq("h", "text"))
      .select(col("doc_id"), col("exact_id"))
    // near: only the not-exactly-matched remainder is shingled
    val inNew = incoming.join(exact.select("doc_id"), Seq("doc_id"), "left_anti")
    val shIn = graft.Caching.cache(shingles(inNew))
    val shEx = graft.Caching.cache(shingles(existing))
    val keysIn = lshBandKeys(minhashSignatures(spark, shIn, numHashes), rowsPerBand)
    val keysEx = lshBandKeys(minhashSignatures(spark, shEx, numHashes), rowsPerBand)
    val cand = keysIn.as("a")
      .join(keysEx.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("in_id"), col("b.doc_id").as("ex_id"))
      .distinct()
    val szIn = shIn.groupBy("doc_id").agg(count(lit(1)).as("sz_in"))
    val szEx = shEx.groupBy("doc_id").agg(count(lit(1)).as("sz_ex"))
    val qual = cand
      .join(shIn.select(col("doc_id").as("in_id"), col("shingle")), "in_id")
      .join(shEx.select(col("doc_id").as("ex_id"), col("shingle")),
        Seq("ex_id", "shingle"))
      .groupBy("in_id", "ex_id").agg(count(lit(1)).as("common"))
      .join(szIn.withColumnRenamed("doc_id", "in_id"), "in_id")
      .join(szEx.withColumnRenamed("doc_id", "ex_id"), "ex_id")
      .withColumn("jaccard",
        col("common") / (col("sz_in") + col("sz_ex") - col("common")))
      .where(col("jaccard") >= threshold)
    // best match = smallest qualifying existing id (struct min carries
    // its jaccard along without a second join)
    val best = qual.groupBy("in_id")
      .agg(min(struct(col("ex_id"), col("jaccard"))).as("m"))
      .select(col("in_id").as("doc_id"),
        col("m.ex_id").as("near_id"), col("m.jaccard").as("near_jacc"))
    incoming.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("exact_id").isNotNull, "exact_dup")
          .when(col("near_id").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        coalesce(col("exact_id"), col("near_id"), lit(-1L)).as("match_id"),
        round(when(col("exact_id").isNotNull, lit(1.0))
          .when(col("near_id").isNotNull, col("near_jacc"))
          .otherwise(lit(0.0)), 6).as("jaccard"))
  }

  /** Corpus-level MinHash signatures + pairwise dataset similarity —
    * the dataset-curation question "how much does source A overlap
    * source B?" answered without any doc×doc work (used to spot
    * mirrored dumps, re-crawls, and benchmark contamination between
    * whole corpora before committing to a mix). One k-hash MinHash
    * signature per GROUP (source/dataset), estimated Jaccard = fraction
    * of agreeing hash slots (Broder 1997 resemblance sketches).
    *
    * Scale shape: the only corpus-scale stage is the narrow shingle
    * generate + inline hash; the group-signature aggregate outputs
    * G·k rows (G = #datasets — metadata scale) with full map-side
    * combine (min is algebraic), so the shuffle moves O(partitions·G·k)
    * rows, not the corpus. The pair join is G²k on the tiny signature
    * table. est_jaccard = agree/k is DYADIC (k a power of two) — exact
    * in binary floating point, engine-portable.
    *
    * Output: (source_a, source_b, est_jaccard), source_a < source_b. */
  def corpusSimilarity(
      spark: SparkSession,
      docs: DataFrame,
      groupCol: String = "source",
      numHashes: Int = 16): DataFrame = {
    val params = spark.createDataFrame(
      (0 until numHashes).map(j => (j, 37L + 101L * j, 17L + 91L * j)))
      .toDF("hash_id", "a", "b")
    val sh = docs.select(col(groupCol).as("grp"),
      graft.functions.ShingleGenerator.shingles(col("text"), 3).as("shingle"))
    val gm = graft.Caching.cache(sh
      .withColumn("h", TextAnalysis.portableHash(col("shingle")))
      .crossJoin(broadcast(params))
      .groupBy("grp", "hash_id")
      .agg(min((col("a") * col("h") + col("b")) % Prime).as("mh")))
    gm.as("x")
      .join(gm.as("y"),
        col("x.hash_id") === col("y.hash_id") && col("x.grp") < col("y.grp"))
      .groupBy(col("x.grp").as("source_a"), col("y.grp").as("source_b"))
      .agg((sum(when(col("x.mh") === col("y.mh"), 1).otherwise(0))
        / numHashes.toDouble).as("est_jaccard"))
  }

  /** Paragraph-level (sub-document) exact deduplication — the C4/Dolma
    * cleaning pass that removes boilerplate repeated ACROSS documents
    * (navigation chrome, license footers, templated headers) while
    * keeping each document's unique content. Documents are split into
    * fixed-size word chunks (the stand-in for newline paragraphs — the
    * synthetic corpus has no line structure); a chunk whose text occurs
    * in ≥ `minDocs` distinct documents is dropped everywhere, and each
    * document's surviving chunks are re-joined in order.
    *
    * Scale shape: one aggregate keyed by chunk text (cardinality grows
    * with the corpus — balanced), one join back on the same key, one
    * per-document re-assembly aggregate. The re-assembly collect_list is
    * bounded by document length, never corpus size, and ordering is
    * restored explicitly via array_sort on (idx, chunk) structs —
    * collect_list order after a shuffle is undefined.
    *
    * Output: (doc_id, clean_text, n_chunks, n_dropped); documents whose
    * every chunk was boilerplate survive with empty clean_text. */
  def paragraphDedup(
      docs: DataFrame,
      chunkWords: Int = 3,
      minDocs: Int = 3): DataFrame = {
    val w = split(col("text"), " ")
    val nChunks = ceil(size(w) / lit(chunkWords.toDouble)).cast("int")
    // cached (LSH-signature precedent): chunks feeds the df aggregate
    // AND the mark join — uncached, the posexplode recomputes per branch
    val chunks = graft.Caching.cache(docs
      .select(
        col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(w, i * chunkWords + 1, lit(chunkWords)), " ")))
          .as(Seq("idx", "chunk"))))
    val dupChunks = chunks
      .groupBy("chunk")
      .agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("chunk"), lit(1).as("_dup"))
    val marked = chunks.join(dupChunks, Seq("chunk"), "left")
    val rebuilt = marked
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("_dup").isNotNull, 1).otherwise(0)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_dup").isNull, struct(col("idx"), col("chunk"))))),
            s => s.getField("chunk")),
          " ").as("clean_text"))
    rebuilt.select(
      col("doc_id"),
      col("clean_text"),
      col("n_chunks").cast("long").as("n_chunks"),
      col("n_dropped").cast("long").as("n_dropped"))
  }

  /** Intra-document repeated-chunk removal — the Dolma/Gopher cleaning
    * pass for repetition WITHIN a single document (a scraped page whose
    * template repeats the same block, an OCR loop, a footer pasted after
    * every section). Documents are split into fixed-size word chunks
    * (the stand-in for lines/paragraphs — the synthetic corpus has no
    * line structure); each chunk keeps only its FIRST occurrence inside
    * its own document, later repeats are dropped, and survivors are
    * re-joined in order. Cf. the cross-document [[paragraphDedup]],
    * whose duplicate definition spans the corpus.
    *
    * Scale shape: ZERO shuffles — split → chunk transform → index-aware
    * filter (`array_position(ch, x) == i+1` keeps exactly the first
    * occurrence) → re-join is one narrow projection, entirely inside
    * whole-stage codegen. At 100 TB it is scan-bound and composes into
    * any cleaning chain without adding an exchange; per-row cost is
    * O(chunks² · chunkWords) string compares, bounded by document
    * length, never corpus size.
    *
    * Output: (doc_id, clean_text, n_chunks, n_dropped). */
  def intraDocDedup(docs: DataFrame, chunkWords: Int = 3): DataFrame = {
    val w = split(col("text"), " ")
    val nChunks = ceil(size(w) / lit(chunkWords.toDouble)).cast("int")
    val chunksCol = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(w, i * chunkWords + 1, lit(chunkWords)), " "))
    docs
      .select(col("doc_id"), chunksCol.as("ch"))
      .select(
        col("doc_id"),
        filter(col("ch"),
          (x, i) => array_position(col("ch"), x) === (i + 1)).as("kept"),
        size(col("ch")).as("nc"))
      .select(
        col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        col("nc").cast("long").as("n_chunks"),
        (col("nc") - size(col("kept"))).cast("long").as("n_dropped"))
  }

  /** SimHash fingerprints: per token-occurrence hash, each of `bits` bit
    * positions votes ±1; the fingerprint sets bits with positive vote sum.
    * Two bounded shuffles ((doc, bit) then doc). Bit extraction is integer
    * div/mod — portable across engines. */
  def simhash(spark: SparkSession, docs: DataFrame, bits: Int = 16): DataFrame = {
    val bitsDf = spark.createDataFrame(
      Seq.tabulate(bits)(b => (b, 1L << b))).toDF("bit", "p2")
    val occurrences = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    // Hash every occurrence inline: portableHash is a native codegen'd
    // Expression, so this stays one narrow stage. (A "hash the distinct
    // vocabulary once, join back" variant would need a broadcast whose
    // size grows with the corpus vocabulary — unbounded on noisy text at
    // 100 TB — or an extra shuffle join.)
    val tok = occurrences.withColumn("h", TextAnalysis.portableHash(col("word")))
    tok
      .crossJoin(broadcast(bitsDf))
      .withColumn("c", (expr("h div p2") % 2) * 2 - 1)
      .groupBy("doc_id", "bit", "p2")
      .agg(sum("c").as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, col("p2")).otherwise(0L)).as("simhash"))
  }

  /** Asymmetric containment detection — doc-INSIDE-doc (quotations,
    * mirror pages wrapped in boilerplate, subset articles), the case
    * resemblance-based near-dup (Jaccard) systematically misses: a
    * short doc fully quoted inside a long one has high containment but
    * low resemblance (Broder 1997 distinguishes the two measures).
    * Works over winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003:
    * any shared run of ≥ w+n−1 words leaves shared fingerprints), so
    *   containment(A ⊆ B) = |FP(A) ∩ FP(B)| / |FP(A)|.
    *
    * Scale shape: fingerprint-keyed equi-join (the LSH-bucket shape —
    * hash-partitioned, never all-pairs); ubiquitous fingerprints
    * (df > `maxDocFreq` — corpus boilerplate that carries no signal
    * and would quadratically flood its bucket) are dropped from the
    * fingerprint SET up front, so the denominator and the join see the
    * same filtered sketch. One (inner,outer)-keyed count aggregate. */
  def containmentPairs(
      docs: DataFrame,
      n: Int = 3,
      w: Int = 4,
      minContainment: Double = 0.8,
      maxDocFreq: Long = 1000L): DataFrame = {
    // cached: fpAll feeds both the df aggregate and the join below —
    // uncached, the winnowing pipeline would run twice
    val fpAll = graft.Caching.cache(
      graft.text.TextAnalysis.winnowing(docs, n, w)
        .select("doc_id", "fingerprint").distinct())
    val rare = fpAll.groupBy("fingerprint")
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq)
      .select("fingerprint")
    val fp = graft.Caching.cache(fpAll.join(rare, "fingerprint"))
    val sizes = fp.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    fp.as("a")
      .join(fp.as("b"),
        col("a.fingerprint") === col("b.fingerprint") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("inner_doc"), col("b.doc_id").as("outer_doc"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("inner_doc"), col("n_fp").as("n_inner")),
        "inner_doc")
      .join(sizes.select(col("doc_id").as("outer_doc"), col("n_fp").as("n_outer")),
        "outer_doc")
      .withColumn("containment", col("shared") / col("n_inner"))
      .where(col("containment") >= minContainment &&
        col("n_inner") <= col("n_outer"))
      .select("inner_doc", "outer_doc", "shared", "n_inner", "n_outer",
        "containment")
  }

  /** Exact corpus-pair overlap matrix — the train/test contamination
    * REPORT (model-card style): for every ordered pair of splits
    * (train/val/test, or corpus snapshots), the exact shared distinct
    * shingle count plus containment (shared/|A|) and Jaccard. The exact
    * complement of [[corpusSimilarity]]'s MinHash estimate — run the
    * estimate to triage, this to certify.
    *
    * Scale shape: ONE (split, shingle)-distinct shuffle (linear in
    * corpus shingles), then a shingle-keyed join whose per-key fan-out
    * is bounded by #splits (a shingle appears at most once per split
    * after the distinct) — never doc-quadratic; the output is one row
    * per unordered split pair (named by lexicographic order), with
    * zero-overlap pairs reported explicitly as shared = 0. Ratios are
    * single IEEE divisions of exact integer counts — bit-identical on
    * any engine. */
  def splitOverlapMatrix(
      docs: DataFrame,
      splitCol: String,
      n: Int = 3): DataFrame = {
    val sh = graft.Caching.cache(docs.select(
        col(splitCol).as("split"),
        graft.functions.ShingleGenerator.shingles(col("text"), n).as("shingle"))
      .distinct())
    val tot = graft.Caching.cache(
      sh.groupBy("split").agg(count(lit(1)).as("n_sh")))
    val shared = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.split") < col("b.split"))
      .groupBy(col("a.split").as("split_a"), col("b.split").as("split_b"))
      .agg(count(lit(1)).as("shared"))
    // every split pair gets a row — a contamination report must state
    // "overlap = 0" explicitly, not leave the pair absent (an absent
    // row is indistinguishable from a split-name typo)
    tot.select(col("split").as("split_a"), col("n_sh").as("n_a"))
      .join(tot.select(col("split").as("split_b"), col("n_sh").as("n_b")),
        col("split_a") < col("split_b"))
      .join(shared, Seq("split_a", "split_b"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .select(col("split_a"), col("split_b"), col("shared"),
        col("n_a"), col("n_b"),
        (col("shared").cast("double") / col("n_a")).as("containment_a"),
        (col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared"))).as("jaccard"))
  }

  /** Edit-distance near-duplicates over a short key (title/prefix
    * dedup) — Ed-Join's prefix-filtered q-gram join (Xiao, Wang, Lin,
    * VLDB 2008): k edits destroy at most q·k q-gram occurrences, so at
    * least |distinctGrams(x)| − q·k distinct gram TEXTS of x survive
    * into y; by standard prefix filtering over the global total order
    * (ascending gram document frequency over the distinct-key set,
    * gram text tie-break — rare grams first), any pair within distance
    * k must then share at least one gram among the first q·k+1 entries
    * of each key's ordered gram set. (The cap below reads INDEX
    * occupancy, a different quantity — the lossless argument holds for
    * any prefix order, since it only needs "shared prefix gram is
    * either uncapped or capped".) That turns the quadratic fuzzy join into: one gram-frequency
    * aggregate, a per-doc bounded window (≤ key-length rows), an
    * equi-join keyed by the RAREST grams, and a `levenshtein ≤ k`
    * verify on the O(candidates) pairs — never all-pairs. Keys shorter
    * than q carry no q-gram and are excluded (documented; pad upstream
    * if needed).
    *
    * Scale guard (`maxGramDf`): on vocabulary-starved text even the
    * rarest indexed grams can be common, and one degenerate gram bucket
    * makes the candidate join quadratic. Buckets whose index occupancy
    * exceeds `maxGramDf` are excluded from the equi-join; the fallback
    * is PROVABLY lossless: a missed pair must share only capped prefix
    * grams, so BOTH its keys carry a capped gram in their prefix — the
    * residual set of such keys is brute-forced (length-banded equi-join
    * + levenshtein), and candidates from both paths are unioned before
    * the shared distinct+verify. (Note the residual rule is "≥1 capped
    * prefix gram", not "all capped": two keys can each hold uncapped
    * grams yet intersect only on a capped one.) Cost is bounded by
    * maxGramDf · |index| for the join plus |residual|² for the
    * fallback; if the residual is large the corpus is genuinely
    * gram-degenerate and the remedy is a larger `q` (richer gram
    * vocabulary), which this function exposes as a parameter.
    *
    * Returns (doc_a, doc_b, key_a, key_b, dist) for verified pairs. */
  def editDistanceNearDups(
      docs: DataFrame,
      prefixChars: Int = 24,
      k: Int = 2,
      q: Int = 5,
      maxGramDf: Int = 256,
      driverKeyLimit: Long = 20000L): DataFrame = {
    val keys = graft.Caching.cache(docs.select(col("doc_id"),
      substring(col("text"), 1, prefixChars).as("key"))
      .where(length(col("key")) >= q))
    // Identical keys would defeat gram filtering (every shared-prefix
    // clique floods every gram bucket), so the Ed-Join runs over the
    // DISTINCT key set; doc-level pairs come from expansion joins at
    // the end. Same-key pairs (dist 0) are one exact hash join on the
    // full key — no gram machinery needed for them at all.
    val dk = graft.Caching.cache(keys.select("key").distinct())
    // ADAPTIVE small path (the Clustering/PageRank driverLimit shape):
    // distinct prefix keys are usually FAR fewer than docs, and below
    // `driverKeyLimit` the banded-DP brute force over local key pairs
    // (length-filtered, parallel) beats the multi-stage distributed
    // gram pipeline's fixed shuffle latency by ~4×. Brute force IS the
    // spec (the gate oracle is all-pairs levenshtein), so the result is
    // exact by definition; a spec pins it equal to the distributed
    // path. driverKeyLimit = 0 forces the gram join — the 100 TB path.
    //
    // WORST-CASE DRIVER COST at the default limit (the bound the
    // Clustering/LinkGraph docs state for their small paths): the pair
    // loop visits ≤ nKeys²/2 = 2·10⁸ (i,j) pairs at nKeys = 20000. The
    // |len(a)−len(b)| ≤ k test prunes each pair in O(1), and when every
    // key has the same length (all exactly `prefixChars` — the length
    // filter's adversarial case) the banded DP costs O((2k+1)·len) ≈
    // 120 char-ops per pair → ~2.4·10¹⁰ char-ops spread over the
    // driver's parallel collection. That is seconds-scale on a 32-core
    // driver and is the PRICE CEILING, not the typical cost; callers
    // whose corpora hit it should lower `driverKeyLimit` (or pass 0).
    // Driver MEMORY is nKeys · prefixChars bytes (~0.5 MB) + the output
    // pairs, which the ≤ k verify keeps near-dup-sized, not quadratic.
    val nKeys = dk.count()
    if (nKeys <= driverKeyLimit) {
      val spark = docs.sparkSession
      val ks = dk.collect().map(_.getString(0))
      import scala.collection.parallel.CollectionConverters._
      val pairs = ks.indices.par.flatMap { i =>
        val a = ks(i)
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
        var j = i + 1
        while (j < ks.length) {
          val b = ks(j)
          if (math.abs(a.length - b.length) <= k) {
            val d = boundedLevenshtein(a, b, k)
            if (d <= k) {
              // emit with ka < kb (string order), matching the join path
              if (a < b) out += ((a, b, d)) else out += ((b, a, d))
            }
          }
          j += 1
        }
        out
      }.seq.toSeq
      val candKeys =
        if (pairs.isEmpty)
          spark.createDataFrame(Seq(("", "", 0))).toDF("ka", "kb", "dist")
            .where(lit(false))
        else spark.createDataFrame(pairs).toDF("ka", "kb", "dist")
      return expandPairs(keys, candKeys)
    }
    val grams = dk.select(col("key"),
      explode(expr(s"transform(sequence(1, length(key) - ${q - 1}), " +
        s"i -> substring(key, i, $q))")).as("gram"))
      .distinct() // set semantics for the index (repeat grams collide anyway)
    val freq = grams.groupBy("gram").agg(count(lit(1)).as("f"))
    // Cached: the index feeds a self-join (2 refs) plus the occupancy
    // aggregate — uncached, the distinct+agg+window pipeline above
    // recomputes once per reference (the r12 bench's 13 s was exactly
    // that recomputation, not the join itself). Size is bounded by
    // construction: ≤ (q·k+1) rows per distinct key.
    val indexed = graft.Caching.cache(graft.ops.TopK.perGroup(
        grams.join(freq, "gram"), Seq(col("key")), Seq(col("f"), col("gram")),
        q * k + 1)
      .select("key", "gram"))
    // `f` from `freq` counts raw corpus df, which orders the prefix;
    // the cap must bound JOIN fan-out, so it reads index occupancy.
    val occ = indexed.groupBy("gram").agg(count(lit(1)).as("occ"))
    val flagged = indexed.join(occ, "gram")
    val light = flagged.where(col("occ") <= maxGramDf).select("key", "gram")
    val residual = graft.Caching.cache(
      flagged.where(col("occ") > maxGramDf).select("key").distinct())
    val capPairs = light.as("a")
      .join(light.as("b"),
        col("a.gram") === col("b.gram") && col("a.key") < col("b.key"))
      .select(col("a.key").as("ka"), col("b.key").as("kb"))
    // Residual brute force as an EQUI-join (never a nested-loop cross):
    // probe side emits every length in [len−k, len+k], so the join keys
    // on build-side length and the length filter is structural.
    val resPairs = residual
      .select(col("key").as("ka"),
        explode(sequence(length(col("key")) - k, length(col("key")) + k))
          .as("lb"))
      .join(residual.select(col("key").as("kb"),
        length(col("key")).as("lb")), "lb")
      .where(col("ka") < col("kb"))
      .select("ka", "kb")
    val candKeys = capPairs.unionByName(resPairs)
      .distinct()
      .where(abs(length(col("ka")) - length(col("kb"))) <= k)
      .withColumn("dist", levenshtein(col("ka"), col("kb")))
      .where(col("dist") <= k)
    expandPairs(keys, candKeys)
  }

  /** Shared tail of both Ed-Join paths: same-key (dist 0) pairs via one
    * exact hash join, plus doc-level expansion of the verified distinct
    * key pairs (ka < kb, `dist` column). */
  private def expandPairs(keys: DataFrame, candKeys: DataFrame): DataFrame = {
    val same = keys.as("a")
      .join(keys.as("b"),
        col("a.key") === col("b.key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.key").as("key_a"), col("b.key").as("key_b"),
        lit(0).as("dist"))
    val cross = candKeys
      .join(keys.select(col("doc_id").as("da"), col("key").as("ka")), "ka")
      .join(keys.select(col("doc_id").as("db"), col("key").as("kb")), "kb")
      .select(
        least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        when(col("da") < col("db"), col("ka")).otherwise(col("kb")).as("key_a"),
        when(col("da") < col("db"), col("kb")).otherwise(col("ka")).as("key_b"),
        col("dist"))
    same.unionByName(cross)
  }

  /** Banded Levenshtein with early exit: only the 2k+1-wide diagonal
    * band is evaluated (cells outside cannot reach within k), and the
    * row minimum aborts the scan once the whole band exceeds k.
    * Returns k+1 when the distance exceeds k. O(k·min(len)) time. */
  private[dedup] def boundedLevenshtein(a: String, b: String, k: Int): Int = {
    if (a == b) return 0
    if (math.abs(a.length - b.length) > k) return k + 1
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val big = k + 1
    var prev = Array.tabulate(t.length + 1)(j => if (j <= k) j else big)
    var curr = new Array[Int](t.length + 1)
    var i = 1
    while (i <= s.length) {
      val lo = math.max(1, i - k)
      val hi = math.min(t.length, i + k)
      curr(lo - 1) = if (lo == 1) i else big
      var rowMin = curr(lo - 1)
      var j = lo
      while (j <= hi) {
        val cost = if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (curr(j - 1) + 1 < v) v = curr(j - 1) + 1
        curr(j) = if (v > big) big else v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (hi < t.length) curr(hi + 1) = big
      if (rowMin > k) return k + 1
      val tmp = prev; prev = curr; curr = tmp
      i += 1
    }
    math.min(prev(t.length), big)
  }
}
