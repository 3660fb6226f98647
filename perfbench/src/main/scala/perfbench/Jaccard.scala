package perfbench

import scala.collection.mutable

/** Exact word-n-gram Jaccard pairs, computed on the driver without Spark, as
  * the reference the MinHash answers are checked against. Shingles are the
  * distinct n-grams of the lowercased whitespace tokens, the definition
  * `TextAnalysis.wordShingles` documents. All-pairs with prefix filtering:
  * under one global token order, two sets with Jaccard >= t share a token
  * within their first |s| - ceil(t|s|) + 1 tokens. */
object Jaccard {

  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("[ \t\n\u000b\f\r]+")
      .filter(_.nonEmpty)
    toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
  }

  /** Pairs (a, b), a < b, whose shingle sets have Jaccard >= t. */
  def pairs(docs: Seq[(Long, String)], n: Int, t: Double): Set[(Long, Long)] = {
    val sets = docs.map { case (id, text) => id -> shingles(text, n) }.filter(_._2.nonEmpty)
    val freq = mutable.HashMap.empty[String, Int]
    sets.foreach(_._2.foreach(s => freq(s) = freq.getOrElse(s, 0) + 1))
    // rarest shingles first, so prefixes are selective
    val rank = freq.toSeq.sortBy { case (s, f) => (f, s) }.map(_._1).zipWithIndex.toMap
    val ordered = sets.map { case (id, s) => (id, s.iterator.map(rank).toArray.sorted) }
      .sortBy(_._2.length)
    val index = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]
    val out = Set.newBuilder[(Long, Long)]
    ordered.indices.foreach { x =>
      val (idX, sx) = ordered(x)
      // the smallest allowed overlap, rounded up; a longer prefix is only slower
      val prefix = sx.length - math.ceil(t * sx.length - 1e-9).toInt + 1
      val cands = mutable.HashSet.empty[Int]
      sx.iterator.take(prefix).foreach { tok =>
        index.get(tok).foreach(_.foreach(cands += _))
        index.getOrElseUpdate(tok, mutable.ArrayBuffer.empty[Int]) += x
      }
      cands.foreach { y =>
        val (idY, sy) = ordered(y)
        val ix = intersect(sx, sy)
        if (ix.toDouble / (sx.length + sy.length - ix) >= t)
          out += (if (idX < idY) (idX, idY) else (idY, idX))
      }
    }
    out.result()
  }

  private def intersect(a: Array[Int], b: Array[Int]): Int = {
    var i, j, n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }
}
