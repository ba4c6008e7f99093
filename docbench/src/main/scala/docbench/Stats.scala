package docbench

/** Percentiles and interval arithmetic over spans. */
object Stats {
  /** Linear-interpolated percentile (numpy's default); 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (r - lo) * (s(hi) - s(lo))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Intervals clipped to [lo, hi), dropping those outside it. */
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)

  /** Largest number of intervals open at once. */
  def maxOverlap(iv: Seq[(Long, Long)]): Int = {
    val ev = iv.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }.sortBy(x => (x._1, x._2))
    var cur = 0
    var best = 0
    ev.foreach { case (_, d) => cur += d; best = math.max(best, cur) }
    best
  }

  /** Wall time attributed to the innermost active layer.
    *
    * `layers` lists (name, intervals) from the innermost layer outwards;
    * every instant covered by the last (outermost) layer is charged to
    * the first layer active at that instant. The result is each layer's
    * self time, and the charges sum to the outermost layer's union.
    */
  def selfTimes(layers: Seq[(String, Seq[(Long, Long)])]): Map[String, Long] = {
    val n = layers.size
    val ev = layers.zipWithIndex.flatMap { case ((_, iv), i) =>
      iv.flatMap { case (s, e) => Seq((s, i, 1), (e, i, -1)) }
    }.sortBy(_._1)
    val active = new Array[Int](n)
    val out = new Array[Long](n)
    var prev = Long.MinValue
    ev.foreach { case (t, i, d) =>
      if (prev != Long.MinValue && t > prev && active(n - 1) > 0) {
        val inner = active.indexWhere(_ > 0)
        out(inner) += t - prev
      }
      active(i) += d
      prev = t
    }
    layers.map(_._1).zip(out).toMap
  }
}
