package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Panel shape: `series` daily series whose lengths are drawn in
  * [minLen, maxLen].
  */
final case class Shape(series: Int, minLen: Int, maxLen: Int) {
  require(series > 0 && minLen > 0 && maxLen >= minLen)
}

/** Seeded, end-aligned daily panel. Every value is a pure function of
  * (seed, series, day), so the checks can recompute any target in plain
  * Scala without reading the frame back.
  *
  * The target is a series level plus a linear trend, a weekly profile scaled
  * per series, and hashed noise; all series end on [[EndDay]].
  */
object PanelGen {
  val EndDay: Long = LocalDate.of(2024, 6, 30).toEpochDay

  private val Weekly = Array(0.0, 0.6, 1.0, 0.8, 0.3, -1.2, -1.5)

  val schema: StructType = StructType(Seq(
    StructField("unique_id", LongType, nullable = false),
    StructField("ds", DateType, nullable = false),
    StructField("y", DoubleType, nullable = false)))

  /** splitmix64 finalizer: a well-mixed 64-bit hash of one word. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform [0, 1) from (seed, series, slot). */
  def unit(seed: Long, id: Long, slot: Long): Double =
    (mix(mix(mix(seed) ^ id) ^ slot) >>> 11) * (1.0 / (1L << 53))

  private val LenSlot = -1L
  private val LevelSlot = -2L
  private val TrendSlot = -3L
  private val AmpSlot = -4L

  def length(seed: Long, shape: Shape, id: Long): Int =
    shape.minLen + (unit(seed, id, LenSlot) * (shape.maxLen - shape.minLen + 1)).toInt

  def startDay(seed: Long, shape: Shape, id: Long): Long =
    EndDay - length(seed, shape, id) + 1

  /** Target of series `id` on epoch day `day`. */
  def y(seed: Long, id: Long, day: Long): Double = {
    val level = 40.0 + 60.0 * unit(seed, id, LevelSlot)
    val trend = (unit(seed, id, TrendSlot) - 0.5) * 0.04
    val amp = 2.0 + 6.0 * unit(seed, id, AmpSlot)
    val dow = Math.floorMod(day + 3, 7).toInt // 0 = Monday (1970-01-01 was a Thursday)
    val noise = (unit(seed, id, day) - 0.5) * 2.0
    level + trend * (day - EndDay) + amp * Weekly(dow) + noise
  }

  /** Targets of series `id`, first day to last. */
  def history(seed: Long, shape: Shape, id: Long): Array[Double] =
    (startDay(seed, shape, id) to EndDay).map(d => y(seed, id, d)).toArray

  def totalRows(seed: Long, shape: Shape): Long =
    (0 until shape.series).map(i => length(seed, shape, i.toLong).toLong).sum

  /** The panel, generated on the executors: one task per slice of series. */
  def frame(spark: SparkSession, seed: Long, shape: Shape, slices: Int): DataFrame = {
    val rdd = spark.sparkContext.parallelize(0 until shape.series, slices).flatMap { i =>
      val id = i.toLong
      (startDay(seed, shape, id) to EndDay).iterator.map(d =>
        Row(id, java.sql.Date.valueOf(LocalDate.ofEpochDay(d)), y(seed, id, d)))
    }
    spark.createDataFrame(rdd, schema)
  }
}
