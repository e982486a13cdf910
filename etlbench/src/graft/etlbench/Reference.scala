package graft.etlbench

/** Plain-Scala reference for the sink's 33 maxima of one activity,
  * written from the reference ETL's pandas semantics and sharing no
  * code with the program:
  *
  *  - reindex to one row per second from 0 to the last sample;
  *  - `interpolate()`: linear between the nearest non-null neighbours,
  *    leading nulls stay null, trailing nulls take the last value;
  *  - `rolling(n, win_type='triang').mean()`: trailing window of `n`
  *    rows, null until `n` rows exist, any null in the window poisons;
  *  - the maximum over the activity, and a negative maximum is null.
  *
  * R5 bypass activities and activities without streams have no maxima. */
object Reference {

  val windows: Seq[Int] = Seq(1, 5, 10, 20, 30, 45, 60, 120, 300, 600, 1200)

  /** Field order of the sink's `maxs` struct: hr, power, speed. */
  def maxima(a: Activity): IndexedSeq[Option[Double]] = {
    val none = IndexedSeq.fill(3 * windows.size)(Option.empty[Double])
    a.streams match {
      case Some(s) if !a.bypass =>
        Seq(s.heartrate, s.watts, Some(s.velocity)).toIndexedSeq.flatMap {
          case None => IndexedSeq.fill(windows.size)(None)
          case Some(values) =>
            val dense = interpolate(s.time, values)
            windows.map(n => rollingMax(dense, n))
        }
      case _ => none
    }
  }

  private def interpolate(time: Array[Long], values: Array[Double]): Array[Double] = {
    val len = (time.last + 1).toInt
    val x = Array.fill(len)(Double.NaN)
    for (i <- time.indices) x(time(i).toInt) = values(i)
    val out = x.clone()
    var prev = -1
    var t = 0
    while (t < len) {
      if (!x(t).isNaN) prev = t
      else if (prev >= 0) {
        var next = t + 1
        while (next < len && x(next).isNaN) next += 1
        out(t) = if (next == len) x(prev)
          else x(prev) + (x(next) - x(prev)) * (t - prev).toDouble / (next - prev).toDouble
      }
      t += 1
    }
    out
  }

  private def weights(n: Int): Array[Double] =
    if (n % 2 == 1) Array.tabulate(n)(k => math.min(k + 1, n - k).toDouble)
    else Array.tabulate(n)(k => 2.0 * math.min(k, n - 1 - k) + 1.0)

  private def rollingMax(x: Array[Double], n: Int): Option[Double] = {
    val w = weights(n)
    val total = w.sum
    var best = Double.NegativeInfinity
    var t = n - 1
    while (t < x.length) {
      var acc = 0.0
      var k = 0
      while (k < n) { acc += w(k) * x(t - n + 1 + k); k += 1 }
      if (!acc.isNaN) best = math.max(best, acc / total)
      t += 1
    }
    if (best >= 0) Some(best) else None
  }
}
