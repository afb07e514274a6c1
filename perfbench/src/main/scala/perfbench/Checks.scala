package perfbench

/** One output row of a forecasting call, keyed by series, day and (for
  * cross-validation) cutoff; `cutoff` is -1 when the frame has none.
  */
final case class Pred(id: Long, day: Long, cutoff: Long, values: Map[String, Double])

/** Output checks on collected call results, in plain Scala so they can be
  * tested without Spark. Each check returns its failures; empty means pass.
  */
object Checks {
  /** Relative tolerance for comparing model outputs across cycles and
    * across save/load; absolute below magnitude 1.
    */
  val AgreeTol = 1e-6

  private def close(a: Double, b: Double, tol: Double): Boolean =
    Math.abs(a - b) <= tol * Math.max(1.0, Math.abs(b))

  private def capped(all: Iterable[String], what: String): Seq[String] = {
    val s = all.take(4).toSeq
    if (s.isEmpty) Nil else Seq(s"$what: ${s.mkString("; ")}")
  }

  /** Exactly one row per (series, day) for every series in `ids` and every
    * day in `days`, and a finite value in every column of `cols`.
    */
  def structural(out: Seq[Pred], ids: Seq[Long], days: Seq[Long], cols: Seq[String]): Seq[String] = {
    val want = (for (i <- ids; d <- days) yield (i, d)).toSet
    val got = out.map(p => (p.id, p.day))
    val dup = got.groupBy(identity).collect { case (k, v) if v.size > 1 => s"duplicate $k" }
    val missing = (want -- got).map(k => s"missing $k")
    val extra = (got.toSet -- want).map(k => s"unexpected $k")
    val notFinite = for (p <- out; c <- cols
                         if !p.values.get(c).exists(v => !v.isNaN && !v.isInfinite))
      yield s"${(p.id, p.day)} $c=${p.values.get(c)}"
    capped(dup, "duplicate rows") ++ capped(missing, "missing rows") ++
      capped(extra, "extra rows") ++ capped(notFinite, "non-finite predictions")
  }

  /** Cross-validation rows: one per (series, cutoff, cutoff + 1..h), the
    * `y` column equal to the generated target, finite model columns.
    */
  def crossValidation(out: Seq[Pred], ids: Seq[Long], cutoffs: Seq[Long], h: Int,
                      cols: Seq[String], actual: (Long, Long) => Double): Seq[String] = {
    val want = (for (i <- ids; c <- cutoffs; k <- 1 to h) yield (i, c, c + k)).toSet
    val got = out.map(p => (p.id, p.cutoff, p.day))
    val dup = got.groupBy(identity).collect { case (k, v) if v.size > 1 => s"duplicate $k" }
    val missing = (want -- got).map(k => s"missing $k")
    val extra = (got.toSet -- want).map(k => s"unexpected $k")
    val wrongY = out.filter(p => !p.values.get("y").contains(actual(p.id, p.day)))
      .map(p => s"${(p.id, p.day)} y=${p.values.get("y")} want ${actual(p.id, p.day)}")
    val notFinite = for (p <- out; c <- cols
                         if !p.values.get(c).exists(v => !v.isNaN && !v.isInfinite))
      yield s"${(p.id, p.cutoff, p.day)} $c=${p.values.get(c)}"
    capped(dup, "duplicate rows") ++ capped(missing, "missing rows") ++
      capped(extra, "extra rows") ++ capped(wrongY, "actuals differ from the panel") ++
      capped(notFinite, "non-finite predictions")
  }

  /** lo-95 <= lo-80 <= point <= hi-80 <= hi-95 for every row and model
    * (levels given in increasing order).
    */
  def nested(out: Seq[Pred], models: Seq[String], levels: Seq[Int]): Seq[String] = {
    val bad = for (p <- out; m <- models) yield {
      val los = levels.reverse.map(l => p.values.getOrElse(s"$m-lo-$l", Double.NaN))
      val his = levels.map(l => p.values.getOrElse(s"$m-hi-$l", Double.NaN))
      val chain = los ++ Seq(p.values.getOrElse(m, Double.NaN)) ++ his
      val ok = chain.forall(v => !v.isNaN) && chain.sliding(2).forall(w => w(0) <= w(1))
      if (ok) None else Some(s"${(p.id, p.day)} $m ${chain.mkString("<=")}")
    }
    capped(bad.flatten, "intervals not nested")
  }

  /** Column `col` equals `expected(id, day)` within `tol` on every row. */
  def matches(out: Seq[Pred], col: String, tol: Double,
              expected: (Long, Long) => Double): Seq[String] = {
    val bad = out.flatMap { p =>
      val want = expected(p.id, p.day)
      val got = p.values.getOrElse(col, Double.NaN)
      if (close(got, want, tol)) None else Some(s"${(p.id, p.day)} $col=$got want $want")
    }
    capped(bad, s"$col differs from its recomputation")
  }

  /** `out` and `ref` hold the same keys and agree on `cols` within `tol`. */
  def agree(out: Seq[Pred], ref: Seq[Pred], cols: Seq[String], tol: Double): Seq[String] = {
    val refBy = ref.map(p => (p.id, p.cutoff, p.day) -> p).toMap
    val keys = out.map(p => (p.id, p.cutoff, p.day))
    val keyDiff = if (keys.toSet == refBy.keySet && keys.size == ref.size) Nil
      else Seq(s"row keys differ (${out.size} rows vs ${ref.size})")
    val bad = for {
      p <- out; r <- refBy.get((p.id, p.cutoff, p.day)).toSeq; c <- cols
      a = p.values.getOrElse(c, Double.NaN); b = r.values.getOrElse(c, Double.NaN)
      if !close(a, b, tol)
    } yield s"${(p.id, p.cutoff, p.day)} $c=$a vs $b"
    keyDiff ++ capped(bad, s"outputs disagree beyond $tol")
  }

  /** Recursive seasonal-naive forecast of `hist` through Differences([1, s])
    * and a per-series scaler: the scaler cancels, so the forecast of the
    * twice-differenced series repeats its last season, then both
    * differences are integrated back.
    */
  def seasonalNaiveThroughDiffs(hist: Array[Double], h: Int, s: Int): Array[Double] = {
    val n = hist.length
    require(n > s + 1, s"history of $n rows is too short for season $s")
    val y = java.util.Arrays.copyOf(hist, n + h)
    val w = new Array[Double](n + h) // first difference
    val d = new Array[Double](n + h) // seasonal difference of w
    for (t <- 1 until n) w(t) = y(t) - y(t - 1)
    for (t <- s + 1 until n) d(t) = w(t) - w(t - s)
    for (t <- n until n + h) {
      d(t) = d(t - s)
      w(t) = d(t) + w(t - s)
      y(t) = w(t) + y(t - 1)
    }
    java.util.Arrays.copyOfRange(y, n, n + h)
  }
}
