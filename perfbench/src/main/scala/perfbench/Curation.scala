package perfbench

import scala.collection.mutable

/** Exact near-duplicate arithmetic for checking `graft.ops.Dedup`: word
  * 3-shingles (the library's shingling) and their Jaccard similarity. */
object Curation {
  def shingles(text: String): Set[String] = {
    val w = text.split(" ").toSeq
    if (w.size < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** All pairs (smaller id first) with Jaccard >= `t`, found through
    * shared shingles. */
  def nearPairs(texts: Map[Long, String], t: Double): Set[(Long, Long)] = {
    val sh = texts.map { case (k, v) => k -> shingles(v) }
    val byShingle = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
    for ((k, s) <- sh; x <- s) byShingle.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += k
    val cands = byShingle.values.filter(_.size > 1).flatMap { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }.toSet
    cands.filter { case (a, b) => jaccard(sh(a), sh(b)) >= t }
  }

  /** Every reported pair is a true pair (exact Jaccard, which the library
    * reports rounded to 4 places) and recall of all true pairs >= `floor`. */
  def pairsOk(got: Seq[(Long, Long, Double)], texts: Map[Long, String],
      want: Set[(Long, Long)], t: Double, floor: Double): Boolean = {
    val bad = got.filter { case (a, b, j) =>
      val e = jaccard(shingles(texts(a)), shingles(texts(b)))
      e < t || math.abs(e - j) > 5e-5 }
    val found = got.map { case (a, b, _) => (math.min(a, b), math.max(a, b)) }.toSet
    val recall = if (want.isEmpty) 1.0 else (want intersect found).size.toDouble / want.size
    if (bad.nonEmpty || recall < floor)
      System.err.println(s"[perfbench] near-duplicate pairs: ${bad.size} wrong, recall $recall")
    bad.isEmpty && recall >= floor
  }
}
