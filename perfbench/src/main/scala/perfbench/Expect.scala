package perfbench

import org.apache.spark.sql.Row

/** Expected answers computed on the driver from the generator's model,
  * and comparisons against what the program returned. Every comparison
  * returns None when the answer is right, or a one-line reason. */
object Expect {

  /** A clean-table row as the dashboard sees it. */
  final case class Fact(year: Int, state: String, category: String, value: Long)

  def facts(m: Gen.Model): IndexedSeq[Fact] =
    m.sums.iterator.map { case ((y, s, c, _, _), (v, _)) => Fact(y, s, c, v) }.toIndexedSeq

  def same[T](what: String, expected: T, actual: T): Option[String] =
    if (expected == actual) None
    else (expected, actual) match {
      case (e: Map[_, _] @unchecked, a: Map[_, _] @unchecked) =>
        val ea = e.asInstanceOf[Map[Any, Any]]; val aa = a.asInstanceOf[Map[Any, Any]]
        val diff = (ea.keySet ++ aa.keySet).filter(k => ea.get(k) != aa.get(k)).take(3)
        Some(s"$what: ${diff.map(k => s"$k expected ${ea.get(k)} got ${aa.get(k)}").mkString("; ")}")
      case _ => Some(s"$what: expected ${short(expected)} got ${short(actual)}")
    }

  private def short(x: Any): String = {
    val s = String.valueOf(x); if (s.length > 160) s.take(160) + "..." else s
  }

  def first(checks: Option[String]*): Option[String] = checks.flatten.headOption

  /** A double the program summed from whole numbers, as an exact Long. */
  def whole(d: Double): Long =
    if (d == math.rint(d) && math.abs(d) < 9e15) d.toLong else Long.MinValue

  /** Clean/staging rows keyed like the model: per key, the sum of
    * `separations` (exact) and the number of rows. */
  def keyedSums(rows: Array[Row]): collection.Map[Gen.Key, (Long, Long)] = {
    val out = scala.collection.mutable.HashMap.empty[Gen.Key, (Long, Long)]
    if (rows.nonEmpty) {
      val Seq(y, st, cat, pd, sex, sep) = Seq("year", "state", "category",
        "principal_diagnosis", "sex", "separations").map(rows.head.schema.fieldIndex)
      def s(r: Row, i: Int) = if (r.isNullAt(i)) "" else r.getString(i)
      rows.foreach { r =>
        val k = (r.getInt(y), r.getString(st), s(r, cat), s(r, pd), s(r, sex))
        val (v0, n0) = out.getOrElse(k, (0L, 0L))
        out(k) = (v0 + whole(r.getDouble(sep)), n0 + 1)
      }
    }
    out
  }

  /** Per-key sums against the model's, key for key. */
  def sameSums(what: String, want: collection.Map[Gen.Key, (Long, Long)],
               got: collection.Map[Gen.Key, (Long, Long)]): Option[String] = {
    val diff = (want.keysIterator ++ got.keysIterator)
      .filter(k => want.get(k).map(_._1) != got.get(k).map(_._1)).take(3).toSeq
    if (diff.isEmpty) None
    else Some(s"$what: ${diff.map(k => s"$k expected ${want.get(k).map(_._1)} got " +
      s"${got.get(k).map(_._1)}").mkString("; ")}")
  }

  def sumsBy[K](xs: Seq[Fact])(k: Fact => K): Map[K, Long] =
    xs.groupBy(k).map { case (key, fs) => key -> fs.map(_.value).sum }

  def sortedTotals[K](xs: Seq[Fact])(k: Fact => K)(implicit o: Ordering[K]): Seq[(K, Double)] =
    sumsBy(xs)(k).toSeq.sortBy(_._1).map { case (key, v) => key -> v.toDouble }

  /** `Insights.generate` over `xs`, rebuilt from its documented rules. */
  def insights(xs: Seq[Fact]): Seq[String] =
    if (xs.isEmpty) Nil
    else {
      val byState = sumsBy(xs)(_.state).toSeq.sortBy { case (k, v) => (-v, k) }
      val byCat = sumsBy(xs)(_.category).toSeq.sortBy { case (k, v) => (-v, k) }
      val byYear = sumsBy(xs)(_.year)
      val (s, sv) = byState.head
      val lines = Seq(
        f"**$s** recorded the highest separations (${sv.toDouble}%,.0f).",
        s"Top category: **${byCat.head._1}**.")
      if (byYear.size <= 1) lines
      else {
        val (y1, y2) = (byYear.keys.min, byYear.keys.max)
        val first = byYear(y1).toDouble
        val pct = (byYear(y2).toDouble - first) / first * 100
        val dir = if (pct >= 0) "increased" else "decreased"
        lines :+ f"Separations $dir ${math.abs(pct)}%.1f%% between $y1 and $y2."
      }
    }

  /** Spark's exact `percentile` (linear interpolation between ranks). */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = (sorted.size - 1) * p
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val lv = sorted(lo.toInt)
    val hv = sorted(hi.toInt)
    if (hi == lo || hv == lv) lv else (hi - pos) * lv + (pos - lo) * hv
  }

  def close(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Order-independent fingerprint of a result: row count plus two
    * sums of per-row hashes. */
  def fingerprint(rows: Array[Row]): String = {
    var s1 = 0L; var s2 = 0L
    rows.foreach { r =>
      val h = scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong
      s1 += h; s2 += h * h
    }
    f"${rows.length}:$s1%016x:$s2%016x"
  }
}
