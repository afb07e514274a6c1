package perfbench

import graft.core.Freq
import graft.forecast._
import graft.functions.{Pooling, RollingMax, RollingMean, RollingMin}
import graft.operators.FeatureSpec

/** One benchmark workload: a panel shape, a forecasting pipeline and the
  * horizon of its fit → predict cycle. `learned` names the model columns
  * whose outputs must agree across cycles.
  */
final case class Workload(
    name: String,
    shape: Shape,
    conf: MLForecast,
    h: Int,
    learned: Seq[String],
) {
  def modelCols: Seq[String] = conf.models.map(_.name)
}

object Workloads {
  /** The reference pipeline shape (tests/test_pipeline.py of mlforecast):
    * lags 1/7/14/28, rolling mean/min/max(7) at lags 1 and 7, rolling
    * mean(7) at lags 14 and 28, four date features.
    */
  val pipelineSpec: FeatureSpec = FeatureSpec(
    lags = Seq(1, 7, 14, 28),
    lagTransforms = Map(
      1 -> Seq(RollingMean(7), RollingMin(7), RollingMax(7)),
      7 -> Seq(RollingMean(7), RollingMin(7), RollingMax(7)),
      14 -> Seq(RollingMean(7)),
      28 -> Seq(RollingMean(7))),
    dateFeatures = Seq("dayofweek", "month", "year", "day"))

  /** Cross-validation windows and interval levels of the traced run's
    * conformal probe.
    */
  val cvWindows = 2
  val levels: Seq[Int] = Seq(80, 95)

  val gbm: GraftGbm = GraftGbm(numRounds = 50, numLeaves = 31, maxDepth = 6, minDataInLeaf = 20)

  /** The target transforms of both workloads. */
  val transforms: Seq[TargetTransform] = Seq(Differences(Seq(1, 7)), LocalStandardScaler())

  val panelLocal: Workload = Workload(
    name = "panel_local",
    shape = Shape(series = 64, minLen = 120, maxLen = 360),
    conf = MLForecast(
      models = Seq(SparkLinearRegression(), Models.seasonalNaive(7)),
      freq = Freq.Day,
      spec = pipelineSpec,
      targetTransforms = transforms,
      validate = true),
    h = 14,
    learned = Seq("lr"))

  /** panel_local with GraftGbm in place of linear regression. */
  val panelGbm: Workload = panelLocal.copy(
    name = "panel_gbm",
    conf = panelLocal.conf.copy(models = Seq(gbm, Models.seasonalNaive(7))),
    learned = Seq("ggbm"))

  /** Pooled pipeline of the traced run's lockstep-predict probe: a global
    * pooled rolling mean turns the fused per-series loop off, so predict
    * runs the driver-orchestrated step loop.
    */
  val pooled: MLForecast = MLForecast(
    models = Seq(SparkLinearRegression(), Models.naive),
    freq = Freq.Day,
    spec = FeatureSpec(
      lags = Seq(1, 7),
      lagTransforms = Map(1 -> Seq(RollingMean(7, pooling = Pooling(global = true))))))
  val pooledH = 1

  val all: Seq[Workload] = Seq(panelLocal, panelGbm)

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload $n (known: ${all.map(_.name).mkString(", ")})"))
}
