package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed multinomial Naive Bayes — trained AND applied inside the
  * engine. This is the classic fastText-era corpus-curation classifier
  * shape (CCNet's lang-ID and quality filters, GPT-3's WebText-vs-crawl
  * quality model are linear classifiers over token features): training
  * is nothing but counting, which makes it the one classifier family
  * whose TRAINING is exactly expressible as relational aggregates — a
  * perfect fit for Spark at 100 TB, with no parameter-server machinery.
  *
  * Model (Laplace-smoothed multinomial NB):
  *   score(d, c) = ln P(c) + Σ_{t ∈ d} ln P(t|c)
  *   P(c)   = docs_c / docs          (train-slice document priors)
  *   P(t|c) = (count(t,c) + 1) / (tokens_c + V)
  * with V = distinct training vocabulary. Unseen tokens take the
  * smoothing floor 1/(tokens_c + V) — handled by a left join +
  * per-class default, never dropped.
  *
  * Numeric portability: every per-token log term is quantized to integer
  * micro-units (`round(ln·10⁶)`, the [[Bm25]]/[[LangModel]] device), so
  * per-(doc, class) likelihoods are exact BIGINT sums — order-independent
  * across 1000 executors and bit-replayable by the DuckDB oracle. The
  * argmax is an integer compare with a deterministic label tie-break.
  *
  * Scale shape: token explode is narrow; count aggregates are keyed by
  * (class, token) — vocabulary-scale, balanced. Scoring fans each token
  * out ×C (C = #classes, single digits for lang-ID — the inherent NB
  * cost) and joins the V×C weight table on (class, token): a hash join
  * keyed by vocab, shuffled not broadcast when V is large; priors /
  * totals / vocab-size are single-digit-row broadcasts. The final argmax
  * window partitions by doc_id (corpus-cardinality key, balanced).
  */
object NaiveBayes {

  /** Train on `doc_id % trainMod == 0` using `labelCol` as the class,
    * then classify EVERY document.
    *
    * @return one row per doc: (doc_id, true_label, pred, score_micro,
    *         n_toks, correct) — score_micro = quantized ln-posterior of
    *         the argmax class, correct = pred == true_label.
    */
  def trainPredict(
      docs: DataFrame,
      labelCol: String = "lang",
      trainMod: Int = 2): DataFrame = {
    val toks = docs.select(
      col("doc_id"), col(labelCol).as("true_label"),
      explode(TextAnalysis.words(col("text"))).as("tok"))
    val trainToks = graft.Caching.cache(
      toks.where(col("doc_id") % trainMod === 0))

    // count tables — the entire "training" pass
    val ctc = trainToks.groupBy(col("true_label").as("cls"), col("tok"))
      .agg(count(lit(1)).as("ctc"))
    val tot = trainToks.groupBy(col("true_label").as("cls"))
      .agg(count(lit(1)).as("tot"))
    val vocab = trainToks.select(countDistinct("tok").as("v")) // 1 row
    val docPriors = docs.where(col("doc_id") % trainMod === 0)
      .groupBy(col(labelCol).as("cls")).agg(count(lit(1)).as("nd"))
    val nTrainDocs = docPriors.select(sum("nd").as("n")) // 1 row

    val priors = docPriors.crossJoin(broadcast(nTrainDocs))
      .select(col("cls"),
        round(log(col("nd").cast("double") / col("n")) * lit(1000000.0))
          .cast("long").as("prior_micro"))
    val weights = ctc.join(tot, "cls").crossJoin(broadcast(vocab))
      .select(col("cls"), col("tok"),
        round(log((col("ctc") + lit(1)).cast("double") / (col("tot") + col("v")))
          * lit(1000000.0)).cast("long").as("w_micro"))
    val defaults = tot.crossJoin(broadcast(vocab))
      .select(col("cls"),
        round(log(lit(1.0) / (col("tot") + col("v")))
          * lit(1000000.0)).cast("long").as("dflt_micro"))

    val perClass = toks
      .crossJoin(broadcast(tot.select(col("cls")))) // ×C fan-out
      .join(weights, Seq("cls", "tok"), "left")
      .join(broadcast(defaults), Seq("cls"))
      .groupBy(col("doc_id"), col("true_label"), col("cls"))
      .agg(
        sum(coalesce(col("w_micro"), col("dflt_micro"))).as("like_micro"),
        count(lit(1)).as("n_toks"))
      .join(broadcast(priors), Seq("cls"))
      .withColumn("score_micro", col("like_micro") + col("prior_micro"))
    graft.ops.TopK.perGroup(perClass, Seq(col("doc_id")),
        Seq(col("score_micro").desc, col("cls")), 1)
      .select(col("doc_id"), col("true_label"), col("cls").as("pred"),
        col("score_micro"), col("n_toks"),
        (col("cls") === col("true_label")).cast("int").as("correct"))
  }
}
