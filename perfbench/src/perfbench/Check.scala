package perfbench

/** Oracle comparisons used outside the timed region. */
object Check {
  val Eps = 1e-6

  /** Two kNN answers, each sorted by (dist, id), agree: same distances
    * position by position, and the same ids except where a distance tie
    * lets either id stand. */
  def sameKnn(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((gi, gd), (wi, wd)) =>
      math.abs(gd - wd) <= Eps * math.max(1d, wd) &&
        (gi == wi || want.exists(w => w._1 == gi && math.abs(w._2 - gd) <= Eps * math.max(1d, gd)))
    }

  /** Fraction of the exact top-k ids an approximate answer returned. */
  def recall(got: Seq[Long], want: Seq[Long]): Double =
    if (want.isEmpty) 1d else got.toSet.intersect(want.toSet).size.toDouble / want.size
}
