package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every output check passes on a correct output and fails once the output
  * is perturbed.
  */
class ChecksSpec extends AnyFunSuite {
  private val ids = Seq(0L, 1L)
  private val days = Seq(100L, 101L)
  private val good = for (i <- ids; d <- days)
    yield Pred(i, d, -1L, Map("lr" -> (i * 10 + d).toDouble))

  private def perturb(out: Seq[Pred], k: Int, col: String, f: Double => Double): Seq[Pred] =
    out.updated(k, out(k).copy(values = out(k).values.updated(col, f(out(k).values(col)))))

  test("structural: one finite row per (series, day)") {
    assert(Checks.structural(good, ids, days, Seq("lr")).isEmpty)
    assert(Checks.structural(good.tail, ids, days, Seq("lr")).nonEmpty, "missing row")
    assert(Checks.structural(good :+ good.head, ids, days, Seq("lr")).nonEmpty, "duplicate row")
    assert(Checks.structural(good :+ good.head.copy(day = 102L), ids, days, Seq("lr")).nonEmpty,
      "extra row")
    assert(Checks.structural(perturb(good, 1, "lr", _ => Double.NaN), ids, days, Seq("lr"))
      .nonEmpty, "NaN prediction")
    assert(Checks.structural(good, ids, days, Seq("lr", "absent")).nonEmpty, "missing column")
  }

  test("cross-validation: actuals must equal the generated target") {
    val actual = (id: Long, d: Long) => PanelGen.y(7L, id, d)
    val cv = for (i <- ids; c <- Seq(90L, 95L); k <- 1 to 5)
      yield Pred(i, c + k, c, Map("y" -> actual(i, c + k), "lr" -> 1.0))
    assert(Checks.crossValidation(cv, ids, Seq(90L, 95L), 5, Seq("lr"), actual).isEmpty)
    assert(Checks.crossValidation(perturb(cv, 3, "y", _ + 1e-9), ids, Seq(90L, 95L), 5,
      Seq("lr"), actual).nonEmpty, "perturbed actual")
    assert(Checks.crossValidation(cv.drop(1), ids, Seq(90L, 95L), 5, Seq("lr"), actual)
      .nonEmpty, "missing window row")
  }

  test("intervals must nest around the point forecast") {
    val row = Map("lr" -> 5.0, "lr-lo-95" -> 1.0, "lr-lo-80" -> 2.0,
      "lr-hi-80" -> 8.0, "lr-hi-95" -> 9.0)
    val out = Seq(Pred(0L, 100L, -1L, row))
    assert(Checks.nested(out, Seq("lr"), Seq(80, 95)).isEmpty)
    assert(Checks.nested(perturb(out, 0, "lr-lo-80", _ => 0.5), Seq("lr"), Seq(80, 95)).nonEmpty,
      "lo-80 below lo-95")
    assert(Checks.nested(perturb(out, 0, "lr", _ => 8.5), Seq("lr"), Seq(80, 95)).nonEmpty,
      "point above hi-80")
    assert(Checks.nested(perturb(out, 0, "lr-hi-95", _ => Double.NaN), Seq("lr"), Seq(80, 95))
      .nonEmpty, "missing bound")
  }

  test("recomputation and cross-cycle agreement catch a perturbed value") {
    val expected = (id: Long, d: Long) => (id * 10 + d).toDouble
    assert(Checks.matches(good, "lr", 0.0, expected).isEmpty)
    assert(Checks.matches(perturb(good, 2, "lr", _ + 1e-3), "lr", 1e-6, expected).nonEmpty)
    assert(Checks.agree(perturb(good, 2, "lr", _ * (1 + Checks.AgreeTol / 10)), good, Seq("lr"),
      Checks.AgreeTol).isEmpty, "within tolerance")
    assert(Checks.agree(perturb(good, 2, "lr", _ * (1 + Checks.AgreeTol * 10)), good, Seq("lr"),
      Checks.AgreeTol).nonEmpty, "beyond tolerance")
    assert(Checks.agree(good.tail, good, Seq("lr"), Checks.AgreeTol).nonEmpty, "row missing")
  }

  test("seasonal naive through differences continues a weekly pattern plus trend") {
    val week = Array(3.0, -1.0, 4.0, 1.0, -5.0, 9.0, 2.0)
    val series = (0 until 60).map(t => 10.0 + 0.5 * t + week(t % 7)).toArray
    val f = Checks.seasonalNaiveThroughDiffs(series, 14, 7)
    val want = (60 until 74).map(t => 10.0 + 0.5 * t + week(t % 7))
    f.zip(want).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, s"$a vs $b") }
  }
}
