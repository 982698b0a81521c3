package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline —
  * beyond the reference's surface (SURVEY.md §2.6 gap-fill): language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * Everything is built from codegen'd builtin functions (split/filter/
  * aggregate/regexp) — no UDFs — so the whole stage stays inside
  * whole-stage codegen and scales linearly with one narrow pass over the
  * corpus; only langId shuffles (one hash aggregate on (doc, lang)).
  *
  * Hashing: [[portableHash]] is a base-31 Horner polynomial mod 1e9+7 —
  * chosen because BOTH Spark and DuckDB can evaluate it identically
  * (the correctness gate hash-matches results across engines). For a
  * production 100 TB run where cross-engine equality is not required,
  * swap in the builtin `xxhash64` (cheaper: no char explode).
  */
object TextAnalysis {

  /** Modulus (1e9+7) keeps every intermediate < 2^35 — exact in BIGINT
    * arithmetic on both engines. */
  val Prime = 1000000007L
  val Base = 31L

  /** Engine-portable rolling hash — the codegen'd native Expression
    * ([[graft.functions.PortableHashExpr]]); bit-identical to the
    * declarative fold in [[portableHashDeclarative]] (spec-checked). */
  def portableHash(s: Column): Column =
    graft.functions.PortableHashExpr.portableHash(s)

  /** The same hash via builtin higher-order functions only — kept as the
    * cross-engine reference implementation (CodegenFallback, slower). */
  def portableHashDeclarative(s: Column): Column =
    aggregate(
      filter(split(s, ""), c => c =!= lit("")),
      lit(0L),
      (acc, c) => (acc * Base + ascii(c)) % Prime)

  /** Whitespace tokens. */
  def words(text: Column): Column = split(text, " ")

  /** Quality features + a deterministic composite score per document:
    * word count, stopword ratio, mean word length. The score formula is
    * pure double arithmetic mirrored verbatim by the SQL oracle. */
  def textStats(docs: DataFrame, stopwords: Seq[String]): DataFrame = {
    val w = words(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    val nWords = size(w)
    val nStop = size(filter(w, x => array_contains(stopArr, x)))
    val nLetters = length(col("text")) - (nWords - 1)
    val stopRatio = nStop / nWords
    val avgWordLen = nLetters / nWords
    val quality =
      least(lit(1.0), nWords / 200.0) * 0.5 +
        (lit(1.0) - stopRatio) * 0.3 +
        least(lit(1.0), avgWordLen / 8.0) * 0.2
    docs.select(
      col("doc_id"),
      nWords.as("n_words"),
      nStop.as("n_stop"),
      round(stopRatio, 6).as("stop_ratio"),
      round(avgWordLen, 6).as("avg_word_len"),
      round(quality, 6).as("quality"))
  }

  /** N-gram-free language ID heuristic: score each candidate language by
    * its marker-word hits (a tiny broadcast lexicon), argmax with a
    * deterministic (score desc, lang asc) tie-break; no hit → "und".
    * One shuffle: the (doc, lang) count aggregate. */
  def langId(
      spark: SparkSession,
      docs: DataFrame,
      lexicon: Seq[(String, String)]): DataFrame = {
    val lex = spark.createDataFrame(lexicon).toDF("word", "cand_lang")
    val tokens = docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
    val scores = tokens
      .join(broadcast(lex), "word")
      .groupBy("doc_id", "cand_lang")
      .agg(count(lit(1)).as("score"))
    val best = graft.ops.TopK.perGroup(scores, Seq(col("doc_id")),
        Seq(col("score").desc, col("cand_lang").asc), 1, "rn")
      .drop("rn")
    docs.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("cand_lang"), lit("und")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Token counting three ways: whitespace tokens, regex word tokens,
    * and a BPE-ish greedy ≤4-char chunking — all regexp_count, fully
    * codegen'd, zero shuffles. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(words(col("text"))).as("n_ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+")).as("n_word_tokens"),
      regexp_count(col("text"), lit("[a-z]{1,4}")).as("n_subword_tokens"))

  /** Document fingerprint: rolling hash of the full text plus a coarse
    * band (fp mod 1024) usable as a shard/bucket key. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      portableHash(col("text")).as("fp"))
      .withColumn("fp_band", col("fp") % 1024)

  /** Winnowing fingerprints (the MOSS scheme): hash every positioned
    * word n-gram; each sliding window of `w` consecutive n-grams records
    * its minimum hash (ties → rightmost position, robust winnowing);
    * the distinct recorded (pos, hash) pairs are the fingerprints.
    * Guarantees any shared run of ≥ w+n-1 words yields a shared
    * fingerprint. The (hash, pos) pair is packed into one BIGINT
    * (h·2²⁰ + (2²⁰−1−pos)) so the arg-min is a plain `min` — portable to
    * any engine with integer windows, no struct ordering needed.
    * One shuffle (doc partition for the position windows). */
  def winnowing(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    val P = 1048576L // 2^20: max document positions supported
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val tok = docs.select(
      col("doc_id"),
      posexplode(words(col("text"))).as(Seq("pos", "word")))
    val grams = (1 until n).foldLeft(tok) { (df, k) =>
      df.withColumn(s"w$k", lead("word", k).over(win))
    }
      .where((1 until n).map(k => col(s"w$k").isNotNull).reduceOption(_ && _)
        .getOrElse(lit(true)))
      .withColumn("h",
        portableHash(concat_ws(" ", col("word") +: (1 until n).map(k => col(s"w$k")): _*)))
      .withColumn("key", col("h") * P + (lit(P - 1) - col("pos")))
    val sw = win.rowsBetween(-(w - 1), 0)
    grams
      .withColumn("kmin", min("key").over(sw))
      .withColumn("n_grams", count(lit(1)).over(sw))
      .where(col("n_grams") === w)
      .select(
        col("doc_id"),
        (lit(P - 1) - col("kmin") % P).as("pos"),
        expr(s"kmin div $P").as("fingerprint"))
      .distinct()
  }

  /** Dedup-prep text normalization: lowercase, strip everything outside
    * `[a-z0-9 ]`, collapse runs of spaces, trim — the canonical form fed
    * to exact/near dedup so case/punctuation variants collide. Pure
    * per-row regex (codegen'd, zero shuffles); patterns are
    * engine-portable (identical semantics in RE2/Java regex). */
  def normalizeText(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
        " +", " ")).as("norm_text"))

  /** PII redaction — the standard pre-training scrub pass: emails,
    * phone numbers, and IPv4 addresses replaced with typed placeholder
    * tokens, with per-type match counts reported so a pipeline can also
    * FILTER on PII density (documents that are mostly PII are usually
    * scraped directories, not prose). Pure per-row regexp work — narrow,
    * codegen'd, zero shuffles, and the patterns use only character
    * classes and bounded repetition so Java regex (Spark) and RE2
    * (DuckDB, the gate oracle) agree exactly.
    *
    * Counts are taken BEFORE replacement, and the three replacements are
    * ordered email → IP → phone so a match consumed by an earlier type
    * is not double-redacted by a later one (an IPv4 would otherwise also
    * match the digit-run phone pattern). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "\\+?[0-9][0-9()./ -]{6,}[0-9]"

  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumns(Map(
      "n_emails" -> regexp_count(col(textCol), lit(EmailRe)).cast("long"),
      "n_ips" -> regexp_count(col(textCol), lit(Ipv4Re)).cast("long"),
      "n_phones" ->
        regexp_count(
          regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          lit(PhoneRe)).cast("long"),
      "redacted" ->
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>")))

  /** Repetition / diversity signals (the Gopher-style reference-free
    * quality rules applied at word level): duplicate-word ratio
    * `1 − distinct/total` and top-word fraction `max_count/total`. High
    * values flag degenerate machine-generated or boilerplate text. One
    * shuffle (word counts per doc). Ratios are single IEEE divisions of
    * exact ints — deterministic across engines. */
  def repetition(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max("cnt").as("top_cnt"))
      .select(
        col("doc_id"), col("n_words"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct") / col("n_words"), 6).as("dup_ratio"),
        round(col("top_cnt") / col("n_words"), 6).as("top_frac"))

  /** Benchmark decontamination: flag documents sharing any word n-gram
    * with a probe set (the held-out benchmark's n-grams) — the standard
    * training-data hygiene pass. Probes broadcast (benchmark suites are
    * tiny next to the corpus); the doc side reuses the zero-shuffle
    * shingle generator, so the scan stays narrow and the only shuffle is
    * the per-doc hit count. Output: every doc with its distinct-probe
    * hit count and a `contaminated` flag. */
  def decontaminate(
      docs: DataFrame,
      probes: Seq[String],
      n: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val probeDf = spark.createDataFrame(probes.distinct.map(Tuple1(_)))
      .toDF("shingle")
    val hits = graft.dedup.Dedup.shingles(docs, n)
      .join(broadcast(probeDf), "shingle")
      .groupBy("doc_id")
      .agg(countDistinct("shingle").as("n_hits"))
    docs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** [[decontaminate]] at benchmark-suite scale: instead of joining every
    * corpus shingle against the probe table, prefilter with a
    * [[graft.functions.StringBloom]] built over the probes — a ~10-bit-
    * per-probe bit set probed by a codegen'd expression, so pass 1 over
    * the corpus is narrow and shuffle-free and only Bloom survivors
    * (true hits + the fpp tail) reach the exact verify join. Bloom
    * filters have NO false negatives, so the output is bit-identical to
    * [[decontaminate]] — the gate runs both against the same oracle.
    *
    * At 100 TB: a 10M-n-gram benchmark suite is a ~12 MB filter riding
    * the expression vs a multi-GB probe-string broadcast, and the verify
    * join's corpus side shrinks from every shingle to roughly
    * `fpp × corpus_shingles`, which AQE then broadcast-joins. */
  def decontaminateBloom(
      docs: DataFrame,
      probes: Seq[String],
      n: Int = 5,
      fpp: Double = 0.01): DataFrame = {
    import graft.functions.{BloomMightContainExpr, StringBloom}
    val spark = docs.sparkSession
    val distinctProbes = probes.distinct
    val bloom = StringBloom.create(distinctProbes.size.toLong.max(1L), fpp)
    distinctProbes.foreach(bloom.put)
    val probeDf = spark.createDataFrame(distinctProbes.map(Tuple1(_)))
      .toDF("shingle")
    val candidates = graft.dedup.Dedup.shingles(docs, n)
      .where(BloomMightContainExpr.mightContain(col("shingle"), bloom))
    val hits = candidates
      .join(probeDf, "shingle") // exact verify: kills the fpp tail
      .groupBy("doc_id")
      .agg(countDistinct("shingle").as("n_hits"))
    docs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Blocklist filter via one Aho–Corasick pass (M35): every pattern of
    * the blocklist matched simultaneously in O(|text| + matches) per
    * document — a regex alternation degrades with blocklist size and a
    * per-pattern scan is O(N·|text|). Occurrences are counted at every
    * end position (overlapping included), `n_patterns` is the count of
    * DISTINCT blocklist entries present, `blocked` fires at
    * `threshold` total matches. Zero shuffles: the automaton (int
    * tables, a few MB at 100k entries) rides the codegen'd expression
    * to every executor. */
  def blocklistFilter(docs: DataFrame, blocklist: Seq[String],
      threshold: Long = 1L): DataFrame = {
    import graft.functions.{AcAutomaton, AhoCorasickExpr}
    val ac = AcAutomaton(blocklist.distinct)
    val scan = AhoCorasickExpr.acScan(col("text"), ac)
    docs.select(col("doc_id"), scan.as("_s"))
      .select(col("doc_id"),
        col("_s").getItem(0).as("n_matches"),
        col("_s").getItem(1).as("n_patterns"))
      .withColumn("blocked", col("n_matches") >= threshold)
  }

  /** Distributed Bloom build over a probe COLUMN (when the benchmark
    * n-gram set is itself a DataFrame too big to collect as strings):
    * per-partition local filters OR-merged by `treeAggregate`, driver
    * memory = one filter regardless of probe count. */
  def bloomFromColumn(probes: DataFrame, colName: String,
      expected: Long, fpp: Double = 0.01): graft.functions.StringBloom = {
    import graft.functions.StringBloom
    val proto = StringBloom.create(expected, fpp)
    val geometry = (proto.bits.length, proto.k)
    probes.select(col(colName)).na.drop().rdd
      .map(_.getString(0))
      .treeAggregate(new StringBloom(
        new Array[Long](geometry._1), geometry._2))(
        seqOp = (b, s) => { b.put(s); b },
        combOp = (a, b) => a.merge(b))
  }

  /** The canonical training-data preprocessing pipeline in ONE
    * declarative plan — the composition a 100 TB corpus actually runs:
    * quality/length filter → target language → exact-dedup keep-canonical
    * (pre-hashed, the [[graft.dedup.Dedup.exactDuplicates]] shape) →
    * GPT-style sequence packing per source shard. Because it is one
    * DataFrame expression, Catalyst pushes the length/lang filters into
    * the scan and the whole thing is two shuffles (the dedup window,
    * the packing window) regardless of corpus size. */
  def trainingPipeline(
      docs: DataFrame,
      minWords: Int = 20,
      lang: String = "en",
      capacity: Long = 256L): DataFrame = {
    val filtered = docs
      .where(size(words(col("text"))) >= minWords && col("lang") === lang)
    val byText = Window.partitionBy(col("_th"), col("text"))
    val canonical = filtered
      .withColumn("_th", xxhash64(col("text")))
      .withColumn("_canon", min("doc_id").over(byText))
      .where(col("doc_id") === col("_canon"))
      .drop("_th", "_canon")
    packSequences(canonical, capacity)
  }

  /** Corpus-supported bigram novelty — the language-model-proxy quality
    * signal used in corpus filtering (gibberish has mostly corpus-unique
    * bigrams; boilerplate has none): per document, the count of bigram
    * OCCURRENCES whose corpus frequency is ≤ `rareMax`, the novelty
    * ratio, and the total corpus support of its bigrams relative to
    * their left-unigram counts (`Σ C(ab) / Σ C(a·)` — an aggregate
    * conditional-probability proxy computed as ONE division of two
    * exact integer sums, so it is engine-portable where a per-bigram
    * p(b|a) average would drift with summation order).
    *
    * Shuffles: corpus bigram counts + left-unigram counts (both keyed by
    * vocabulary-scale ngrams, pre-aggregated before joining back), one
    * per-doc aggregate. */
  def bigramNovelty(docs: DataFrame, rareMax: Long = 1): DataFrame = {
    val w = words(col("text"))
    // three consumers below (corpus counts ×2 + the join-back) — persist
    // so the split+zip+explode runs once, not three times
    val bigrams = graft.Caching.cache(docs.select(
      col("doc_id"),
      explode(zip_with(
        slice(w, lit(1), greatest(size(w) - 1, lit(0))),
        slice(w, lit(2), greatest(size(w) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))).as("bigram")))
    val bigramCounts = bigrams.groupBy("bigram").agg(count(lit(1)).as("cab"))
    val leftCounts = bigrams
      .withColumn("left", substring_index(col("bigram"), " ", 1))
      .groupBy("left").agg(count(lit(1)).as("ca"))
    bigrams
      .join(bigramCounts, "bigram")
      .withColumn("left", substring_index(col("bigram"), " ", 1))
      .join(leftCounts, "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cab") <= rareMax, 1L).otherwise(0L)).as("n_novel"),
        sum("cab").as("sum_cab"),
        sum("ca").as("sum_ca"))
      .select(
        col("doc_id"), col("n_bigrams"), col("n_novel"),
        round(col("n_novel") / col("n_bigrams"), 6).as("novelty_ratio"),
        round(col("sum_cab") / col("sum_ca"), 6).as("support"))
  }

  /** Top-k characteristic terms per document by TF-IDF. The idf factor
    * is kept RATIONAL — `(N+1)/(df+1)` instead of its logarithm — so the
    * score is one exact-integer product divided once (engine-portable;
    * log(x) last-ulp behavior is libm-specific and would break the
    * cross-engine hash gate; the induced ranking is identical since log
    * is monotone). Shuffles: term-count aggregate, doc-frequency
    * aggregate keyed by term (vocabulary-scale, balanced — Zipf skew is
    * bounded because df counts DISTINCT docs via the pre-aggregated tf
    * table, never raw occurrences), one top-k window per doc. */
  def tfIdf(docs: DataFrame, k: Int = 3): DataFrame = {
    // tf feeds both the doc-frequency aggregate and the score join —
    // persist so the token explode + count runs once
    val tf = graft.Caching.cache(docs
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * (col("n_docs") + 1) / (col("df") + 1), 6))
    graft.ops.TopK.perGroup(scored, Seq(col("doc_id")),
        Seq(col("tfidf").desc, col("term").asc), k)
      .select("doc_id", "term", "tf", "df", "tfidf", "rank")
  }

  /** GPT-style sequence packing: documents are concatenated in doc_id
    * order WITHIN each source shard and split into fixed
    * `capacity`-token bins (documents may straddle a bin boundary —
    * the standard concat-then-chunk packing used to build training
    * batches). Emits each document's global token offset in its shard,
    * its bin, and its position inside the bin. Partitioning by `source`
    * keeps the running-sum window distributed (one shuffle, no global
    * window); at 100 TB shards are the natural packing unit anyway —
    * bins never span a shard. Pure integer arithmetic. */
  def packSequences(docs: DataFrame, capacity: Long = 256L): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    docs
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("tok_offset",
        coalesce(
          sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("bin_id", expr(s"tok_offset div $capacity"))
      .withColumn("bin_pos", col("tok_offset") % capacity)
  }

  /** The standard corpus-cleaning funnel, counted in ONE pass: total
    * docs → long enough (≥ minWords) → target language → distinct text
    * (exact-dedup survivors). A single aggregate computes all four
    * stage counts (conditional sums + one conditional count-distinct),
    * then a 4-row literal frame labels them — no per-stage rescan of
    * the corpus, which is the difference between 1× and 4× input I/O at
    * 100 TB. */
  def cleaningFunnel(
      docs: DataFrame,
      minWords: Int = 20,
      lang: String = "en"): DataFrame = {
    val lenOk = size(words(col("text"))) >= minWords
    val langOk = lenOk && col("lang") === lang
    val agg = docs.agg(
      count(lit(1)).as("total"),
      sum(when(lenOk, 1L).otherwise(0L)).as("len_ok"),
      sum(when(langOk, 1L).otherwise(0L)).as("lang_ok"),
      countDistinct(when(langOk, col("text"))).as("uniq"))
    agg.select(explode(array(
      struct(lit(1).as("stage"), lit("total").as("stage_name"), col("total").as("n_docs")),
      struct(lit(2).as("stage"), lit("min_length").as("stage_name"), col("len_ok").as("n_docs")),
      struct(lit(3).as("stage"), lit("language").as("stage_name"), col("lang_ok").as("n_docs")),
      struct(lit(4).as("stage"), lit("exact_dedup").as("stage_name"), col("uniq").as("n_docs")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.stage_name").as("stage_name"),
        col("s.n_docs").as("n_docs"))
  }

  /** Exact duplicated-substring spans across the corpus — the public
    * suffix-array dedup recipe ("Deduplicating Training Data Makes
    * Language Models Better": remove substrings repeated verbatim across
    * documents), re-expressed distributively: any token `n`-gram whose
    * portable hash appears in ≥ `minDocs` distinct documents marks its
    * positions; overlapping/adjacent marked n-grams merge into maximal
    * spans (gaps-and-islands). Returns `(doc_id, span_start, span_end)`
    * token ranges, end-exclusive.
    *
    * Scale: the positioned n-gram table is data-scale but narrow
    * (codegen'd rolling hash, no arrays shuffled — only (doc_id, pos,
    * hash) rows); one hash-keyed aggregate finds the duplicate set,
    * one hash join marks positions, one doc-keyed window merges islands.
    * No all-pairs stage anywhere, so the plan survives corpus scale the
    * way the suffix-array original (a single-machine sort) cannot.
    *
    * `hashFn` defaults to 64-bit xxhash64 — collision-safe at corpus
    * scale (the 30-bit portable hash starts marking false duplicate
    * grams past ~10M n-grams by birthday arithmetic). Pass
    * [[portableHash]] only when a cross-engine SQL oracle must replay
    * the hash on a small corpus. */
  def duplicatedSpans(
      docs: DataFrame,
      n: Int = 4,
      minDocs: Int = 2,
      hashFn: Column => Column = xxhash64(_)): DataFrame = {
    require(n >= 1 && minDocs >= 1, s"bad span-dedup params n=$n minDocs=$minDocs")
    val grams = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("w")) - n),
        i => hashFn(concat_ws(" ", slice(col("w"), i + 1, lit(n)))))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
    val dup = grams.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") >= minDocs).select("h")
    val marked = grams.join(dup, "h").select("doc_id", "pos")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(win) <= n, 0L).otherwise(1L))
      .withColumn("grp", sum("brk").over(win))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("pos").as("span_start"), (max("pos") + n).as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** Per-document accounting of [[duplicatedSpans]] removal: total,
    * duplicated and surviving token counts — the corpus-level effect of
    * span dedup without materializing cleaned text. */
  def spanDedupStats(
      docs: DataFrame,
      n: Int = 4,
      minDocs: Int = 2,
      hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val perDoc = duplicatedSpans(docs, n, minDocs, hashFn)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start")).as("dup_tokens"))
    docs.select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "dup_tokens"))
      .withColumn("clean_tokens", col("n_tokens") - col("dup_tokens"))
  }

  /** Rebuild cleaned text with the duplicated spans cut out: tokens whose
    * position falls inside any span are dropped, the rest re-join. One
    * broadcast-able join + a narrow indexed-lambda filter. */
  def removeSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val spanArr = spans.groupBy("doc_id").agg(collect_list(
      struct(col("span_start"), col("span_end"))).as("sp"))
    docs.join(spanArr, Seq("doc_id"), "left")
      .withColumn("clean_text", array_join(
        filter(words(col("text")), (tok, i) =>
          !coalesce(exists(col("sp"), s =>
            i.cast("long") >= s("span_start") && i.cast("long") < s("span_end")),
            lit(false))),
        " "))
      .drop("sp")
  }

  /** Chunk documents into overlapping token windows (the context-window
    * prep step of a training/RAG pipeline): windows of `chunkTokens`
    * tokens advancing by `chunkTokens - overlap`; a document shorter than
    * one window yields exactly one chunk. Pure narrow projection —
    * sequence/slice/array_join inside whole-stage codegen, ZERO shuffles,
    * so chunking 100 TB is a single map pass. */
  /** Content-defined chunking (the FastCDC/rsync idea at word
    * granularity): a word is a chunk BOUNDARY iff its portable hash ≡ 0
    * (mod `boundaryMod`), and a chunk is the maximal word run ending at
    * a boundary (the tail run ends at the document end). Unlike
    * fixed-window chunking ([[chunkDocuments]]), boundaries are decided
    * by CONTENT, so inserting or deleting a prefix re-synchronizes at
    * the next boundary and every later chunk is byte-identical across
    * the two versions — the property that makes chunk-hash dedup robust
    * to shifted near-duplicates (mirrors missing a header, quotes with
    * an added attribution line). Expected chunk length ≈ `boundaryMod`
    * words.
    *
    * Scale shape: one narrow per-row transform chain (split → boundary
    * positions → slice per chunk), zero shuffles; per-row cost is
    * O(words). Composes with a plain chunk-hash groupBy for the actual
    * dedup — see `cdcChunkDups`.
    *
    * Output: (doc_id, chunk_idx 1-based, chunk_text, chunk_words). */
  def cdcChunks(docs: DataFrame, boundaryMod: Int = 8): DataFrame = {
    val w = words(col("text"))
    docs
      .select(col("doc_id"), w.as("w"), size(w).as("n"))
      .withColumn("bp", filter(
        transform(col("w"), (x, i) =>
          when(pmod(portableHash(x), lit(boundaryMod.toLong)) === 0, i + 1)
            .otherwise(-1)),
        p => p > 0))
      .withColumn("ends",
        // guard before element_at: ANSI mode throws on empty-array access
        when(size(col("bp")) > 0 &&
            element_at(col("bp"), size(col("bp"))) === col("n"),
          col("bp"))
          .otherwise(concat(col("bp"), array(col("n")))))
      .select(col("doc_id"), col("w"), col("ends"),
        posexplode(col("ends")).as(Seq("k0", "end")))
      .withColumn("start",
        when(col("k0") === 0, lit(1))
          .otherwise(element_at(col("ends"), col("k0")) + 1))
      .select(col("doc_id"),
        (col("k0") + 1).cast("long").as("chunk_idx"),
        array_join(
          slice(col("w"), col("start"), col("end") - col("start") + 1), " ")
          .as("chunk_text"),
        (col("end") - col("start") + 1).cast("long").as("chunk_words"))
  }

  /** Cross-document duplicate CDC chunks: every chunk text appearing in
    * ≥ `minDocs` distinct documents, with its occurrence and document
    * counts — the shift-robust complement of [[graft.dedup.Dedup
    * .paragraphDedup]]'s fixed windows. One chunk-keyed aggregate. */
  def cdcChunkDups(
      docs: DataFrame,
      boundaryMod: Int = 8,
      minDocs: Int = 2): DataFrame =
    cdcChunks(docs, boundaryMod)
      .groupBy("chunk_text")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct("doc_id").as("n_docs"))
      .where(col("n_docs") >= minDocs)

  /** Deterministic fill-in-the-middle (FIM) splits — the training-data
    * transformation from Bavarian et al. 2022 ("Efficient Training of
    * Language Models to Fill in the Middle"): each document is cut at
    * two content-deterministic points into (prefix, middle, suffix) so
    * the trainer can emit PSM/SPM orderings. Cut points derive from the
    * portable hash of the doc id with two salts — reproducible across
    * engines and runs, no RNG. Invariant (property-tested):
    * prefix ++ middle ++ suffix == text, char-exact.
    *
    * Scale shape: one narrow projection, zero shuffles, O(len) per row.
    * Output: (doc_id, fim_prefix, fim_middle, fim_suffix). */
  def fimSplit(docs: DataFrame, salt: String = "fim"): DataFrame = {
    def cut(tag: String) = pmod(
      portableHash(concat(col("doc_id").cast("string"),
        lit(s":$salt:$tag"))),
      length(col("text")).cast("long") + 1L).cast("int")
    docs
      .select(col("doc_id"), col("text"),
        cut("a").as("c1"), cut("b").as("c2"))
      .select(col("doc_id"), col("text"),
        least(col("c1"), col("c2")).as("lo"),
        greatest(col("c1"), col("c2")).as("hi"))
      .select(
        col("doc_id"),
        col("text").substr(lit(1), col("lo")).as("fim_prefix"),
        col("text").substr(col("lo") + 1, col("hi") - col("lo"))
          .as("fim_middle"),
        col("text").substr(col("hi") + 1,
          length(col("text")) - col("hi")).as("fim_suffix"))
  }

  /** Secret/credential scrub (M68) — the detect-secrets-style redaction
    * step of a pre-training scrub, complementary to the M24 PII
    * regexes: PII patterns have SHAPE (emails, IPs, phones); leaked
    * keys mostly have STATISTICS. A whitespace token is redacted to
    * `<SECRET>` when it (1) is ≥ `minLen` chars of pure key alphabet
    * (base64/hex/url-safe: `[A-Za-z0-9+/=_-]`), (2) mixes ≥ 3 of the 4
    * character classes, and (3) has ≥ `minDistinct` distinct characters
    * — a charclass+diversity proxy for the Shannon-entropy test of
    * detect-secrets, chosen because every predicate is an engine-
    * portable builtin (no UDF, no float entropy that could round
    * differently across engines). Natural words fail (1) or (2);
    * random-ish keys of real length pass all three.
    *
    * Pure-hex credentials (32/40/64-char API keys, SHA-style tokens)
    * only ever hit TWO character classes (lowercase+digit), so the
    * ≥3-class rule alone would miss them — the blind spot
    * detect-secrets covers with HexHighEntropyString alongside its
    * base64 plugin. A second disjunct redacts any ≥`hexMinLen`-char
    * pure-hex token with ≥`hexMinDistinct` distinct characters (10 of
    * the 16 hex symbols ≈ the entropy bar; `deadbeefdeadbeef…`-style
    * repeats and natural hex-ish words stay).
    *
    * Zero shuffles — one narrow transform over the token array per row
    * (the M24 plan shape). Output: `(doc_id, clean_text, n_secrets)`. */
  def secretScrub(
      docs: DataFrame,
      minLen: Int = 20,
      minDistinct: Int = 12,
      hexMinLen: Int = 32,
      hexMinDistinct: Int = 10): DataFrame = {
    def isSecret(t: org.apache.spark.sql.Column) = {
      // split(t, "") emits a trailing "" (Java split, limit -1): drop
      // empties so the threshold counts real characters, matching the
      // DuckDB oracle's string_split semantics.
      def nDistinct = size(array_distinct(
        filter(split(t, ""), c => c =!= lit(""))))
      val base64ish = (length(t) >= minLen) &&
        t.rlike("^[A-Za-z0-9+/=_-]+$") &&
        (nDistinct >= minDistinct) &&
        ((t.rlike("[a-z]").cast("int") + t.rlike("[A-Z]").cast("int") +
          t.rlike("[0-9]").cast("int") + t.rlike("[+/=_-]").cast("int")) >= 3)
      val hexish = t.rlike(s"^[0-9a-fA-F]{$hexMinLen,}$$") &&
        (nDistinct >= hexMinDistinct)
      base64ish || hexish
    }
    docs.select(
      col("doc_id"),
      array_join(
        transform(words(col("text")),
          t => when(isSecret(t), lit("<SECRET>")).otherwise(t)),
        " ").as("clean_text"),
      size(filter(words(col("text")), t => isSecret(t)))
        .cast("long").as("n_secrets"))
  }

  def chunkDocuments(
      docs: DataFrame, chunkTokens: Int = 16, overlap: Int = 4): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      s"need chunkTokens > overlap >= 0, got $chunkTokens/$overlap")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"), words(col("text")).as("w"),
        size(words(col("text"))).cast("long").as("n"))
      .withColumn("n_chunks",
        greatest(lit(1L), expr(s"(n - $overlap + ${stride - 1}) div $stride")))
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(0L), expr("n_chunks - 1"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(slice(col("w"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkTokens)), " ").as("chunk_text"),
        least(lit(chunkTokens.toLong), col("n") - col("chunk_idx") * stride)
          .as("chunk_tokens"))
  }
}
