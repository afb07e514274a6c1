package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, max, min}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Freq
import graft.forecast.{MLForecast, Models}
import graft.operators.FeatureSpec

class PanelGenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val shape = Shape(series = 12, minLen = 30, maxLen = 90)

  private def rows(seed: Long) =
    PanelGen.frame(spark, seed, shape, 3).collect().map(_.toSeq).toSeq.sortBy(_.take(2).toString)

  test("the generator is deterministic per seed and differs across seeds") {
    assert(rows(1L) == rows(1L))
    assert(rows(1L) != rows(2L))
    val lens = (0 until shape.series).map(i => PanelGen.length(1L, shape, i.toLong))
    assert(lens.distinct.size > 1, "series lengths vary")
    assert(lens.forall(l => l >= shape.minLen && l <= shape.maxLen))
  }

  test("the panel is end-aligned and gap-free") {
    val df = PanelGen.frame(spark, 5L, shape, 3)
    assert(df.count() == PanelGen.totalRows(5L, shape))
    val ends = df.groupBy("unique_id").agg(max("ds").as("end"), min("ds").as("start"),
      count("*").as("n")).collect()
    assert(ends.length == shape.series)
    ends.foreach { r =>
      assert(r.getAs[java.sql.Date]("end").toLocalDate.toEpochDay == PanelGen.EndDay)
      val span = PanelGen.EndDay - r.getAs[java.sql.Date]("start").toLocalDate.toEpochDay + 1
      assert(span == r.getAs[Long]("n"), "one row per day")
    }
  }

  test("a run keeps save/load and Spark scratch files in its own directory and removes them") {
    val work = Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "spec-run")
    val tiny = Workload(
      name = "tiny",
      shape = Shape(series = 6, minLen = 40, maxLen = 60),
      conf = MLForecast(Seq(Models.naive), Freq.Day, FeatureSpec(lags = Seq(1, 7))),
      h = 2,
      learned = Nil)
    spark.stop() // the run starts its own session
    val line = new Run(tiny, Args("tiny", 3L, 1, trace = true, cores = 2,
      startMs = System.currentTimeMillis(), workDir = work.toString)).execute()
    assert(line.contains("\"correct\": true"), line)
    assert(line.contains("\"io.save_s\""), line)
    val left = Files.list(work).toArray.map(p => p.asInstanceOf[Path].getFileName.toString).toSet
    assert(left == Set("traces"), s"only the span file stays behind: $left")
    val trace = Files.list(work.resolve("traces")).toArray.head.asInstanceOf[Path]
    assert(Files.readAllLines(trace).toString.contains("\"name\":\"io.save_s\""))
  }
}
