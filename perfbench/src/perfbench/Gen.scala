package perfbench

import java.util.SplittableRandom

/** Seeded synthetic text and vectors. Words are `w<rank>` drawn from a
  * Zipf(1.0) law over `vocab` ranks, so a few words are very common and
  * most are rare, as in natural text. */
final class Gen(seed: Long, vocab: Int = 20000) {
  val rng = new SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / (r + 1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }

  def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    "w" + math.min(vocab - 1, if (i >= 0) i else -i - 1)
  }

  def text(nWords: Int): String = Iterator.fill(nWords)(word()).mkString(" ")

  /** `text` with its last word replaced: a near-copy that differs in one
    * word 3-shingle, so MinHash LSH flags it with near certainty. */
  def nearCopy(text: String): String =
    text.substring(0, text.lastIndexOf(' ') + 1) + "zq" + rng.nextInt(1000000)

  /** A unit vector of `dim` floats. */
  def unitVec(dim: Int): Array[Float] = {
    val v = Array.fill(dim)(rng.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }
}

/** Seeded Fisher-Yates shuffle. */
object Shuffle {
  def apply[T](xs: Seq[T], rng: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}
