package emibench

import java.util.SplittableRandom

/** Seeded input generators shared by the workloads. */
object Gen {

  /** Zipf(s) sampler over ranks 1..n (inverse CDF by binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo + 1
    }
  }

  def word(rank: Int): String = s"w$rank"

  /** A document of `len` Zipf-drawn words. */
  def text(z: Zipf, r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val len = minLen + r.nextInt(maxLen - minLen + 1)
    Iterator.fill(len)(word(z.sample(r))).mkString(" ")
  }

  /** Query `i` of a batch: 1 to 3 distinct terms from frequency band
    * `i % bands`, the bands splitting the vocabulary's ranks 1..`vocab`
    * into equal steps of log(rank). Band 0 holds the most frequent
    * words, whose postings cover most documents; the last band words a
    * handful of documents use. Every batch spans the same bands, so the
    * postings it reads vary by orders of magnitude inside the batch but
    * little from batch to batch or seed to seed. */
  def queryText(i: Int, bands: Int, vocab: Int, r: SplittableRandom): String = {
    val b = i % bands
    val lo = math.pow(vocab.toDouble, b.toDouble / bands)
    val hi = math.pow(vocab.toDouble, (b + 1).toDouble / bands)
    def draw() = word(math.min(vocab, (lo + r.nextDouble() * (hi - lo)).toInt))
    Iterator.fill(1 + i % 3)(draw()).toSeq.distinct.mkString(" ")
  }

  /** Gaussian mixture in `dims` dimensions: `k` centres, unit-ish
    * spread, so IVF lists are uneven like real embedding clusters. */
  final class Mixture(seed: Long, k: Int, dims: Int) {
    private val centres: Array[Array[Double]] = {
      val r = new SplittableRandom(seed)
      Array.fill(k)(Array.fill(dims)(gauss(r) * 0.5))
    }
    def sample(r: SplittableRandom): Array[Float] = {
      val c = centres(r.nextInt(k))
      Array.tabulate(dims)(d => (c(d) + gauss(r) * 0.2).toFloat)
    }
  }

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller; one of the pair is discarded to keep the stream simple
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Delete `dir` and everything under it, if it exists. */
  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val w = java.nio.file.Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally w.close()
    }
  }

  /** Total bytes of the regular files under `dir`. */
  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val w = java.nio.file.Files.walk(p)
      try w.filter(f => java.nio.file.Files.isRegularFile(f))
        .mapToLong(f => java.nio.file.Files.size(f)).sum()
      finally w.close()
    }
  }

  /** Parquet data files under `dir` (every relation, every generation). */
  def parquetFilesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val w = java.nio.file.Files.walk(p)
      try w.filter(f => f.getFileName.toString.endsWith(".parquet")).count()
      finally w.close()
    }
  }
}
