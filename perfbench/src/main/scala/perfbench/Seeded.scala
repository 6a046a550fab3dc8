package perfbench

import java.util.SplittableRandom

/** The only randomness of a run: arrivals, users, request order and the
  * lander's order all come from these, driven by `--seed`. The tables
  * themselves are the repository's fixed test data (`perfbench/data`). */
object Seeded {
  /** Fisher-Yates shuffle driven by `r`. */
  def shuffle[T](xs: Seq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toVector.toArray[Any]
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq.map(_.asInstanceOf[T])
  }

  /** Zipf(s) sampler over ranks 1..n mapped through a seeded permutation of `ids`. */
  final class Zipf(ids0: IndexedSeq[Long], s: Double, r: SplittableRandom) {
    private val n = ids0.size
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private val ids = shuffle(ids0, r)
    def next(): Long = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      ids(math.min(i, n - 1))
    }
  }
}
