package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.core.{Freq, PanelFrame, Validation}
import graft.forecast.{Conformal, FittedMLForecast, MLForecastIO, SparkLinearRegression}
import graft.operators.Featurizer

/** Command line of one benchmark run (perfbench/run.py passes the process
  * start time, the core count and a scratch directory).
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, startMs: Long, workDir: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"dangling argument ${other.mkString}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, need("start-ms").toLong, need("work-dir"))
  }
}

/** One fit → predict cycle: the fitted pipeline, its checked forecast, the
  * two call spans and the application-thread CPU seconds the calls used.
  */
final case class Cycle(fitted: FittedMLForecast, forecast: Seq[Pred], spans: Seq[Span], cpu: Double)

/** A call that threw, or whose output failed a check, ends its cycle. */
final class CallFailed(op: String) extends RuntimeException(op)

/** One run: a closed loop in which a single client issues one forecasting
  * call at a time against local[cores]. Set-up (session start, panel
  * generation and pin, one cold fit → predict cycle) is timed once; after
  * two more unrecorded warm-up cycles, warm cycles repeat for `seconds`.
  * With tracing, warm cycles alternate untraced and traced; traced cycles
  * record Spark engine metrics per call and then time each library layer
  * through its public calls.
  */
final class Run(wl: Workload, a: Args) {
  private val runId = s"${wl.name}-seed${a.seed}-${ProcessHandle.current.pid}"
  private val scratch: Path = Paths.get(a.workDir, runId).toAbsolutePath
  private var spark: SparkSession = _
  private val tracer = new Tracer(runId, spark)
  private val engine = new EngineListener
  private val ids: Seq[Long] = (0 until wl.shape.series).map(_.toLong)
  private val end = PanelGen.EndDay
  private var panel: PanelFrame = _

  private var attempted = 0
  private var failed = 0
  private val failures = ArrayBuffer.empty[String]
  private var liveHeapMax = 0L
  private var reference: Option[Seq[Pred]] = None
  /** Warm samples per metric: end-to-end ones untraced, per-layer traced. */
  private val samples = mutable.Map.empty[String, ArrayBuffer[Double]]
  private def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, ArrayBuffer.empty) += v

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- outputs and their checks ----

  private def preds(rows: Array[Row]): Seq[Pred] = rows.toSeq.map { r =>
    val names = r.schema.fieldNames
    def day(c: String) = r.getAs[java.sql.Date](c).toLocalDate.toEpochDay
    val values = names.indices.collect {
      case i if r.schema(i).dataType == org.apache.spark.sql.types.DoubleType =>
        names(i) -> (if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
    }.toMap
    Pred(r.getAs[Long]("unique_id"), day("ds"),
      if (names.contains("cutoff")) day("cutoff") else -1L, values)
  }

  private val futureDays: Seq[Long] = (1 to wl.h).map(end + _)

  private lazy val seasonalNaive: Map[Long, Array[Double]] = ids.map(id =>
    id -> Checks.seasonalNaiveThroughDiffs(PanelGen.history(a.seed, wl.shape, id), wl.h, 7)).toMap

  /** Structural checks, the plain-Scala recomputation of the baseline model,
    * and agreement of the learned models with the first cycle's output.
    */
  private def checkForecast(out: Seq[Pred]): Seq[String] = {
    val baseline = wl.modelCols.flatMap {
      case "seasonal_naive7" =>
        Checks.matches(out, "seasonal_naive7", 1e-6,
          (id, d) => seasonalNaive(id)((d - end - 1).toInt))
      case "naive" => Checks.matches(out, "naive", 0.0, (id, _) => PanelGen.y(a.seed, id, end))
      case _ => Nil
    }
    val agreement = reference match {
      case Some(r) => Checks.agree(out, r, wl.learned, Checks.AgreeTol)
      case None => reference = Some(out); Nil
    }
    Checks.structural(out, ids, futureDays, wl.modelCols) ++ baseline ++ agreement
  }

  private def verify(what: String, bad: Seq[String]): Unit = if (bad.nonEmpty) {
    failed += 1
    failures ++= bad.map(b => s"$what: $b")
    throw new CallFailed(what)
  }

  // ---- calls ----

  /** Times one call after a full GC; the heap that GC left is the memory the
    * session keeps between calls.
    */
  private def call[T](op: String)(body: => T): (T, Span, Double) = {
    System.gc()
    liveHeapMax = liveHeapMax.max(Run.heapAfterLastGc())
    attempted += 1
    val cpu0 = Run.appCpuNanos()
    try {
      val (r, s) = tracer.span(op)(body)
      val cpu = (Run.appCpuNanos() - cpu0) / 1e9
      System.err.println(f"[perfbench] $op%-8s ${s.seconds}%7.3f s wall ${cpu}%7.3f s cpu " +
        s"${s.compiles} compiles ${s.jitMs} ms jit ${s.gcMs} ms gc")
      (r, s, cpu)
    } catch { case NonFatal(e) =>
      failed += 1
      failures += s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      throw new CallFailed(op)
    }
  }

  /** fit → predict(h), outputs checked outside the timed calls. */
  private def cycle(): Option[Cycle] = {
    val before = attempted
    try {
      val (fitted, fitSpan, fitCpu) = call("fit")(wl.conf.fit(panel))
      val (out, predSpan, predCpu) = call("predict")(preds(fitted.predict(wl.h).collect()))
      verify("predict", checkForecast(out))
      Some(Cycle(fitted, out, Seq(fitSpan, predSpan), fitCpu + predCpu))
    } catch {
      case _: CallFailed =>
        // a failed fit leaves its predict unattempted: count it as failed
        val skipped = 2 - (attempted - before)
        attempted += skipped
        failed += skipped
        None
    }
  }

  // ---- layer probes (traced cycles only) ----

  private def probe[T](name: String)(body: => T): (T, Span) = {
    val (r, s) = tracer.span(name)(body)
    sample(name, s.seconds)
    (r, s)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Times each library layer through its public calls on this workload's
    * data, and checks the cross-validation, interval and save/load outputs
    * the probes produce.
    */
  private def layers(c: Cycle): Unit = tracer.span("layers") {
    val fitted = c.fitted
    probe("core.validate_s")(Validation.requireValid(panel))
    val (transformed, _) = probe("transforms.fit_s") {
      val p = wl.conf.targetTransforms.foldLeft(panel)((p, t) => t.fit(p).transformed)
      noop(p.df)
      p
    }
    val tp = transformed.copy(df = transformed.df.localCheckpoint())
    val (featurized, fs) = probe("features.s") {
      val f = Featurizer.addFeatures(tp, wl.conf.spec)
      noop(f)
      f
    }
    org.apache.spark.sql.graft.bridge.waitForListeners(spark)
    sample("features.jobs", engine.jobsIn(fs).size.toDouble)
    val featureCols = wl.conf.featureCols
    val train = featurized
      .filter((featureCols :+ "y").map(c => col(s"`$c`").isNotNull).reduce(_ && _))
      .localCheckpoint()
    probe("models.lr.fit_s")(SparkLinearRegression().fit(train, featureCols, "y", None))
    probe("models.ggbm.fit_s")(Workloads.gbm.fit(train, featureCols, "y", None))
    train.unpersist()
    tp.df.unpersist()

    // conformal: scores from a pinned refit=false CV, intervals on the
    // pinned forecast anchored at each series' cutoff
    val names = wl.modelCols
    val cv = fitted.crossValidation(Workloads.cvWindows, wl.h, refit = false).localCheckpoint()
    val cutoffs = (1 to Workloads.cvWindows).map(k => end - wl.h * k)
    verify("cross-validation", Checks.crossValidation(preds(cv.collect()), ids, cutoffs, wl.h,
      names, (id, d) => PanelGen.y(a.seed, id, d)))
    val anchored = fitted.predict(wl.h)
      .join(broadcast(fitted.transformedPanel.lastDates
        .select(col("unique_id"), col("last_date").as("cutoff"))), Seq("unique_id"), "left")
      .localCheckpoint()
    val (withIntervals, _) = probe("conformal.s") {
      val scores = Conformal.conformityScores(cv, "unique_id", "ds", "y", names,
        freq = Some(Freq.Day))
      Conformal.addIntervals(anchored, scores, "unique_id", "ds", names, Workloads.levels,
        freq = Some(Freq.Day)).drop("cutoff").collect()
    }
    val intervalOut = preds(withIntervals)
    verify("intervals", Checks.structural(intervalOut, ids, futureDays, names) ++
      Checks.nested(intervalOut, names, Workloads.levels) ++
      Checks.agree(intervalOut, c.forecast, names, Checks.AgreeTol))
    cv.unpersist()
    anchored.unpersist()

    // the pooled pipeline: its predict is the driver-orchestrated step loop
    val (pooledFit, _) = probe("pooled.fit_s")(Workloads.pooled.fit(panel))
    val (pooledOut, ps) = probe("pooled.predict_s")(
      preds(pooledFit.predict(Workloads.pooledH).collect()))
    verify("pooled predict", Checks.structural(pooledOut, ids,
      (1 to Workloads.pooledH).map(end + _), Workloads.pooled.models.map(_.name)) ++
      Checks.matches(pooledOut, "naive", 0.0, (id, _) => PanelGen.y(a.seed, id, end)))
    org.apache.spark.sql.graft.bridge.waitForListeners(spark)
    val pooledJobs = engine.jobsIn(ps).map(j => tracer.child(ps, "job", j.startMs, j.endMs))
    sample("pooled.predict.jobs_per_step", pooledJobs.size.toDouble / Workloads.pooledH)
    sample("pooled.predict.driver_s", Tracer.selfSeconds(ps +: pooledJobs)(ps.id))
    sample("pooled.predict.codegen_compiles", ps.compiles.toDouble)

    val dir = scratch.resolve(s"io-${tracer.all.size}")
    try {
      probe("io.save_s")(MLForecastIO.save(fitted, dir.toString))
      sample("io.saved_mb", treeBytes(dir) / 1e6)
      val (loaded, _) = probe("io.load_s")(MLForecastIO.load(spark, dir.toString))
      verify("save/load", Checks.agree(preds(loaded.predict(wl.h).collect()), c.forecast,
        names, Checks.AgreeTol))
    } finally deleteTree(dir)
  }

  private def traced(c: Cycle): Unit = {
    org.apache.spark.sql.graft.bridge.waitForListeners(spark)
    c.spans.foreach { s =>
      val jobs = engine.jobsIn(s).map(j => tracer.child(s, "job", j.startMs, j.endMs))
      engine.metricsOf(s, a.cores).foreach { case (k, v) => sample(s"${s.name}.$k", v) }
      sample(s"${s.name}.driver_s", Tracer.selfSeconds(s +: jobs)(s.id))
      if (s.name == "predict") sample("predict.jobs_per_step", jobs.size.toDouble / wl.h)
    }
    attempted += 1
    try layers(c)
    catch {
      case _: CallFailed => ()
      case NonFatal(e) =>
        failed += 1
        failures += s"layer probes threw ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }

  private def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  // ---- run ----

  /** Runs the benchmark and returns the result line. */
  def execute(): String = {
    Files.createDirectories(scratch)
    try {
      spark = session()
      val df = PanelGen.frame(spark, a.seed, wl.shape, a.cores).localCheckpoint()
      panel = PanelFrame(df, freq = Freq.Day)
      System.err.println(s"[perfbench] session and panel ready after " +
        s"${(System.currentTimeMillis() - a.startMs) / 1e3} s")
      cycle()
      // set-up runs from process launch: JVM start, session, panel, cold cycle
      val setup = (System.currentTimeMillis() - a.startMs) / 1e3
      // JIT warm-up outlasts the cold cycle: checked, not recorded
      (1 to Run.WarmupCycles).foreach(_ => cycle())

      val deadline = System.nanoTime() + a.seconds * 1000000000L
      val walls = ArrayBuffer.empty[Double]
      var i = 0
      def left = (deadline - System.nanoTime()) / 1e9
      // whole cycles only: start another while at least half a typical one fits
      while (i < (if (a.trace) 2 else 1) || left > 0.5 * Stats.median(walls.toSeq)) {
        val tracedCycle = a.trace && i % 2 == 1
        if (tracedCycle) engine.install(spark)
        val t0 = System.nanoTime()
        cycle().foreach { c =>
          val calls = c.spans.map(_.seconds).sum
          if (!a.trace) {
            c.spans.foreach(s => sample(s"${s.name}_s", s.seconds))
            sample("cycle_cpu_s", c.cpu)
          } else if (tracedCycle) { sample("traced_calls", calls); traced(c) }
          else sample("untraced_calls", calls)
        }
        if (tracedCycle) engine.uninstall(spark)
        walls += (System.nanoTime() - t0) / 1e9
        i += 1
      }
      if (a.trace) tracer.write(Paths.get(a.workDir, "traces", s"$runId.jsonl"))
      failures.take(20).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
      result(setup)
    } finally {
      if (spark != null) spark.stop()
      deleteTree(scratch)
    }
  }

  /** The result line; metric values only, run.py attaches the units that
    * BENCHMARK.json declares.
    */
  private def result(setup: Double): String = {
    def med(k: String) = Stats.median(samples.getOrElse(k, ArrayBuffer.empty).toSeq)
    val metrics: Seq[(String, Double)] =
      if (!a.trace) Seq(
        "setup_s" -> setup, "fit_s" -> med("fit_s"), "predict_s" -> med("predict_s"),
        "cycle_cpu_s" -> med("cycle_cpu_s"), "live_heap_mb" -> liveHeapMax / 1e6)
      else {
        val overhead = med("traced_calls") - med("untraced_calls")
        Seq("trace.overhead_s" -> overhead,
          "trace.overhead_ratio" -> overhead / med("untraced_calls")) ++
          samples.keys.filterNot(_.endsWith("traced_calls")).toSeq.sorted.map(k => k -> med(k))
      }
    val body = metrics.map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
      s""""$k": $num"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Run {
  val WarmupCycles = 2

  /** CPU time of the JVM's application threads (the driver, Spark's task and
    * scheduler threads); JIT compiler and GC threads are not among them.
    */
  def appCpuNanos(): Long = {
    val t = ManagementFactory.getThreadMXBean
    t.getAllThreadIds.map(t.getThreadCpuTime).filter(_ > 0).sum
  }

  /** Heap in use when the last garbage collection finished, over all heap
    * pools (free of allocations made since, unlike the current usage).
    */
  def heapAfterLastGc(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val line = new Run(Workloads.byName(a.workload), a).execute()
    println(line)
    System.out.flush()
  }
}
