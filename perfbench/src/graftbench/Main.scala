package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run: one workload, one seed, one closed-loop client (this
  * thread), timed for about `seconds`. See perfbench/README.md. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, cores: Int)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.workload == "selftest") {
      val spark = session(a)
      try SelfTest.run(spark) finally spark.stop()
      return
    }
    val heap = new HeapPeak
    val calibStart = Calib.probe()
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, new Tracer(spark, a.trace), a, sessionS, heap)
    try Workloads.byName(a.workload)(run)
    finally {
      run.layer("host.calib_start_s") = calibStart
      val calibEnd = Calib.probe()
      run.layer("host.calib_end_s") = calibEnd
      run.detail("noise_suspect") = Calib.suspect(calibStart, calibEnd)
      run.finish()
      spark.stop()
    }
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("out"), m.getOrElse("cores", "4").toInt)
  }

  private def session(a: Args): SparkSession = {
    val work = new java.io.File(a.out, "work").getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // save-time calibration (a measured recall curve per layout, the PQ
      // reorder-depth hint) is a fixed ~10 s of Spark jobs per layout at
      // any size, more than a run's budget; layouts are registered with
      // explicit probe counts instead
      .config("spark.graft.index.recallCurve.enabled", "false")
      .config("spark.graft.index.depthHint.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** State of one run: the session, the tracer, counters for `attempted` and
  * `failed`, and the metrics the workload records. */
final class Run(val spark: SparkSession, val tracer: Tracer, val args: Main.Args,
    val sessionS: Double, val heap: HeapPeak) {
  val seed: Long = args.seed
  val dir: String = new java.io.File(args.out, s"work/${args.workload}-${args.seed}").getAbsolutePath
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific figures under the names the docs use (search_qps,
    * build_s, ...); printed and saved, not part of the result line. */
  val detail = mutable.LinkedHashMap.empty[String, Any]

  deleteTree(new java.io.File(dir))
  new java.io.File(dir).mkdirs()

  /** A call into graft that counts as attempted; a throw counts as failed
    * and yields no value (and so no timing). */
  def call[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** An output check; a failed one counts against `failed`. */
  def check(what: String, ok: Boolean, why: => String = ""): Boolean = {
    if (!ok) { failed += 1; failures += s"check $what failed ${why}".take(400) }
    ok
  }

  /** `setupReps` repetitions of the set-up; `setup_s` is the session start
    * plus the median repetition. The last repetition's state is used. */
  def setup[S](reps: Int)(body: Int => S): S = {
    var last: Option[S] = None
    val times = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      last = Some(body(r))
      (System.nanoTime() - t0) / 1e9
    }
    e2e("setup_s") = sessionS + Stats.median(times)
    detail("setup_reps_s") = times.map(t => f"$t%.3f").mkString(",")
    last.get
  }

  /** Runs the kernel-off pass: the same calls with every LocalKernel route
    * disabled, spans suffixed `_dist`. */
  def kernelOff[T](body: => T): T = {
    spark.conf.set("spark.graft.localKernel.enabled", "false")
    tracer.suffix = "_dist"
    try body
    finally { spark.conf.unset("spark.graft.localKernel.enabled"); tracer.suffix = "" }
  }

  /** Runs warm-up calls: checked and counted, but neither timed nor traced. */
  def warmup[T](body: => T): T = {
    tracer.recording = false
    try body finally tracer.recording = true
  }

  /** Plans `df` (forcing its executed plan), then collects every row and
    * column of it, then runs the plan-pruning guard on what ran (a walk
    * over the plan trees, well under a millisecond). The frame is not kept:
    * its plan would pin broadcast and shuffle state for the rest of the run. */
  def materialize(df: DataFrame, planSpan: Option[String], execSpan: String): Array[Row] = {
    planSpan.foreach(s => tracer.span(s)(df.queryExecution.executedPlan))
    val rows = tracer.span(execSpan)(df.collect())
    Guard.check(this, df)
    rows
  }

  def deadline(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong

  /** Records the metrics a traced run prints: per span name, per-call
    * means of wall/self/jobs/task/idle/shuffle-write, and run totals over
    * the timed root spans. */
  private def layerMetrics(): Unit = {
    val stats = tracer.stats()
    val byName = stats.groupBy(_._2.name)
    Workloads.spanMetrics.foreach { case (name, fields) =>
      val calls = byName.getOrElse(name, Nil).map(_._2)
      def mean(f: SpanStats => Double) = if (calls.isEmpty) 0.0 else calls.map(f).sum / calls.size
      fields.foreach { field =>
        val v = field match {
          case "wall_s" => mean(_.wallS)
          case "self_s" => mean(_.selfS)
          case "jobs" => mean(_.jobs.toDouble)
          case "task_s" => mean(_.taskS)
          case "idle_s" => mean(_.idleS)
          case "shuffle_write_mb" => mean(_.shuffleWriteMb)
        }
        layer(Workloads.metricName(name, field)) = v
      }
    }
    val roots = stats.filter(_._1.parent < 0).map(_._2)
    layer("spark.jobs") = roots.map(_.jobs).sum.toDouble
    layer("spark.stages") = roots.map(_.stages).sum.toDouble
    layer("spark.tasks") = roots.map(_.tasks).sum.toDouble
    layer("spark.task_s") = roots.map(_.taskS).sum
    layer("spark.gc_s") = roots.map(_.gcS).sum
    layer("spark.idle_s") = roots.map(_.idleS).sum
    layer("spark.spill_mb") = roots.map(_.spillMb).sum
    layer("spark.result_mb") = roots.map(_.resultMb).sum
    detail("unattributed_jobs") = tracer.unattributedJobs
    // a figure this workload never produces (another workload's span) is 0
    Workloads.layerNames.foreach(n => if (!layer.contains(n)) layer(n) = 0.0)
  }

  def finish(): Unit = {
    detail("guard_graft_classes") = Guard.seen.size
    e2e("peak_heap_mb") = heap.peakMb
    if (tracer.enabled) layerMetrics()
    detail("attempted") = attempted
    detail("failed") = failed
    detail("error_rate") = if (attempted == 0) 1.0 else failed.toDouble / attempted
    Report.write(this)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it: the 11th
    * largest sample. Below eleven samples there is none, and the largest
    * sample stands in (the sample count is reported beside it). */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size >= 11) s(s.size - 11) else s.lastOption.getOrElse(Double.NaN)
  }
}

/** Plan-pruning guard: every graft expression (or graft physical node) in
  * the optimized plan of a timed frame must still be in the plan that
  * actually ran. It is the check that the way a result is consumed did
  * not let Catalyst drop graft work (as a `count()` would). */
object Guard {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** Every graft class the guard has seen in a timed frame's plan. */
  val seen = mutable.Set.empty[String]

  private def isGraft(c: Class[_]): Boolean = c.getName.startsWith("graft.")

  def logical(plan: LogicalPlan): Map[String, Int] = {
    val out = ArrayBuffer.empty[String]
    def walk(p: LogicalPlan): Unit = {
      if (isGraft(p.getClass)) out += p.getClass.getName
      p.expressions.foreach(_.foreach(e => if (isGraft(e.getClass)) out += e.getClass.getName))
      p.subqueries.foreach(walk)
      p.children.foreach(walk)
    }
    walk(plan)
    out.groupBy(identity).view.mapValues(_.size).toMap
  }

  def physical(plan: SparkPlan): Map[String, Int] = {
    val out = ArrayBuffer.empty[String]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ =>
        if (isGraft(p.getClass)) out += p.getClass.getName
        p.expressions.foreach(_.foreach(e => if (isGraft(e.getClass)) out += e.getClass.getName))
        p.subqueries.foreach(walk)
        p.children.foreach(walk)
    }
    walk(plan)
    out.groupBy(identity).view.mapValues(_.size).toMap
  }

  /** Missing graft classes for one executed frame (empty when it kept all). */
  def missing(df: DataFrame): Set[String] = missingAgainst(df, df)

  /** Graft classes in `full`'s optimized plan absent from what `ran` executed. */
  def missingAgainst(full: DataFrame, ran: DataFrame): Set[String] =
    logical(full.queryExecution.optimizedPlan).keySet --
      physical(ran.queryExecution.executedPlan).keySet

  def check(run: Run, df: DataFrame): Unit = {
    val m = missing(df)
    run.check("plan keeps graft expressions", m.isEmpty, m.mkString(","))
    seen ++= logical(df.queryExecution.optimizedPlan).keySet
  }
}

/** Fixed-work CPU probe, run before and after the measured work. It only
  * flags a noisy host; no metric is rescaled by it. */
object Calib {
  def probe(): Double = {
    val a = Array.tabulate(1 << 16)(i => ((i * 2654435761L) % 1000).toFloat / 1000f)
    val t0 = System.nanoTime()
    var acc = 0.0
    var rep = 0
    while (rep < 400) {
      var i = 0
      var s = 0f
      while (i < a.length) { s += a(i) * a((i + rep) & (a.length - 1)); i += 1 }
      acc += s
      rep += 1
    }
    sink = acc  // keeps the loop from being elided
    (System.nanoTime() - t0) / 1e9
  }
  @volatile private var sink = 0.0

  def suspect(start: Double, end: Double): Boolean = {
    val r = end / start
    r > 1.25 || r < 0.8
  }
}

/** Maximum heap in use after a full collection, sampled at the end of
  * each pass (`mark`): the live data a pass leaves behind, free of the
  * timing noise of when the collector happens to run. The first
  * collection lets Spark's context cleaner see which broadcasts and cached
  * blocks are unreachable; after it has dropped them, the second one
  * frees their memory. */
final class HeapPeak {
  private var peak = 0L

  def mark(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = math.max(peak, used)
  }

  def peakMb: Double = { mark(); peak / 1e6 }
}
