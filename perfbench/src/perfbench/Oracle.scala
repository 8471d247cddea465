package perfbench

import scala.reflect.ClassTag

/** The benchmark's own scalar reference: exact top-k by plain loops,
  * independent of graft's kernels and top-k aggregate. Scores widen
  * float to double and accumulate in index order; ranking is
  * (score, id) with ties toward the smaller id.
  */
object Oracle {
  def cosine(q: Array[Float], v: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < q.length) {
      val a = q(i).toDouble; val b = v(i).toDouble
      dot += a * b; na += a * a; nb += b * b; i += 1
    }
    dot / math.sqrt(na * nb)
  }

  def l2(q: Array[Float], v: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < q.length) { val d = q(i).toDouble - v(i).toDouble; acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  /** Ids of the best `k` of `n` candidates, best first. */
  def topK(n: Int, k: Int, desc: Boolean, keep: Int => Boolean,
      score: Int => Double, id: Int => Long): Array[Long] = {
    val ss = new Array[Double](k)
    val ids = new Array[Long](k)
    var size = 0
    def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
      if (s1 != s2) (if (desc) s1 > s2 else s1 < s2) else i1 < i2
    var j = 0
    while (j < n) {
      if (keep(j)) {
        val s = score(j); val i = id(j)
        if (size < k || better(s, i, ss(size - 1), ids(size - 1))) {
          var p = math.min(size, k - 1)
          while (p > 0 && better(s, i, ss(p - 1), ids(p - 1))) {
            ss(p) = ss(p - 1); ids(p) = ids(p - 1); p -= 1
          }
          ss(p) = s; ids(p) = i
          if (size < k) size += 1
        }
      }
      j += 1
    }
    ids.take(size)
  }

  /** `f` over 0 until n on the common fork-join pool. */
  def parMap[T: ClassTag](n: Int)(f: Int => T): Array[T] = {
    val out = new Array[T](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = f(i))
    out
  }

  /** |got ∩ exact| / |exact| (1.0 when nothing qualifies). */
  def recall(got: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else got.toSet.intersect(exact.toSet).size.toDouble / exact.size
}

/** Benchmark-side text corpus: seeded Zipf vocabulary, with a share of
  * planted near-duplicates made by a few token edits of an earlier doc.
  */
object DocGen {
  final case class Corpus(docs: Array[(Long, String)], planted: Array[(Long, Long)])

  def corpus(n: Int, seed: Long, dupShare: Double = 0.1, vocab: Int = 20000,
      minLen: Int = 30, maxLen: Int = 60): Corpus = {
    val rnd = new java.util.Random(seed * 7919L + 17L)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val words = Array.fill(vocab)(
      Array.fill(3 + rnd.nextInt(6))(letters(rnd.nextInt(26))).mkString)
    // Zipf(1.1) by inverse CDF over the vocabulary ranks
    val cdf = new Array[Double](vocab)
    var acc = 0.0
    for (r <- 0 until vocab) { acc += 1.0 / math.pow(r + 1, 1.1); cdf(r) = acc }
    def word(): String = {
      val x = rnd.nextDouble() * acc
      val i = java.util.Arrays.binarySearch(cdf, x)
      words(math.min(if (i >= 0) i else -i - 1, vocab - 1))
    }
    val toks = new Array[Array[String]](n)
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (d <- 0 until n) {
      if (d > 100 && rnd.nextDouble() < dupShare) {
        val src = rnd.nextInt(d)
        val t = toks(src).toBuffer
        for (_ <- 0 until 1 + rnd.nextInt(3)) rnd.nextInt(3) match {
          case 0 => t(rnd.nextInt(t.size)) = word()
          case 1 => t.insert(rnd.nextInt(t.size + 1), word())
          case _ => if (t.size > minLen) t.remove(rnd.nextInt(t.size))
        }
        toks(d) = t.toArray
        planted += ((src.toLong, d.toLong))
      } else toks(d) = Array.fill(minLen + rnd.nextInt(maxLen - minLen + 1))(word())
    }
    Corpus(toks.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) },
      planted.toArray)
  }

  /** Word 3-gram shingle set, the same shingling as Dedup.shingles. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter)
  }
}
