package perfbench

/** Synthetic text: lower-case alphabetic words (the curation clean
  * stage rewrites digits, so none appear) drawn from a Zipf
  * distribution, with stop words mixed in at the share the quality
  * score rewards. The vocabulary is the same for every seed (which words
  * are frequent decides how the serving layout's term buckets fill), so
  * runs differ only in the documents drawn from it.
  */
final class Corpus(vocabulary: Int) {
  private val rnd = new scala.util.Random(vocabulary.toLong)

  /** Distinct words; word 0 is the most frequent. */
  val words: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < vocabulary) {
      val len = 3 + rnd.nextInt(6)
      seen += (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  private val cdf: Array[Double] = {
    val w = (1 to vocabulary).map(r => 1.0 / r)
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail.toArray
  }

  /** A word rank drawn from the Zipf distribution (exponent 1). */
  def rank(r: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(vocabulary - 1, if (i >= 0) i else -i - 1)
  }

  /** A document of `len` tokens, about 40% of them stop words. */
  def doc(r: scala.util.Random, len: Int): String =
    (0 until len).map { _ =>
      if (r.nextDouble() < 0.4) Corpus.Stop(r.nextInt(Corpus.Stop.length))
      else words(rank(r))
    }.mkString(" ")

  /** A unit-length embedding of `dim` Gaussian components. */
  def embedding(r: scala.util.Random, dim: Int): Array[Float] = {
    val v = Array.fill(dim)(r.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
}

object Corpus {
  val Stop: Array[String] = graft.ext.TextStats.stopwords.toArray
}
