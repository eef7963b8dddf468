package graftbench

import java.io.{File, PrintWriter}

/** Writes a run's outcome: a readable table on stdout, a JSON file with
  * every figure under `<out>/results/`, the span records of a traced run
  * under `<out>/traces/`, and, last, the result line that run.py relays. */
object Report {
  val ResultPrefix = "GRAFTBENCH_RESULT "

  def write(run: Run): Unit = {
    val a = run.args
    val trace = if (a.trace) 1 else 0
    val metrics = if (a.trace) run.layer else run.e2e
    val bad = metrics.collect { case (k, v) if v.isNaN || v.isInfinite => k }
    bad.foreach(k => run.check(s"metric $k is a number", ok = false))
    println(f"== graftbench ${a.workload} seed=${a.seed} trace=$trace " +
      f"attempted=${run.attempted} failed=${run.failed}")
    run.e2e.foreach { case (k, v) => println(f"  e2e    $k%-34s $v%.6f") }
    run.detail.foreach { case (k, v) => println(f"  detail $k%-34s ${fmt(v)}") }
    run.layer.foreach { case (k, v) => println(f"  layer  $k%-34s $v%.6f") }
    run.failures.take(20).foreach(f => println(s"  FAIL   $f"))

    val stem = s"${a.workload}-seed${a.seed}-trace$trace"
    val all = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> trace,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "failures" -> run.failures.toSeq, "e2e" -> run.e2e.toMap,
      "per_layer" -> run.layer.toMap, "detail" -> run.detail.toMap)
    save(new File(a.out, s"results/$stem.json"), json(all))
    if (a.trace) {
      val stats = run.tracer.stats().map { case (s, st) =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> stem,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> st.wallS,
          "self_s" -> st.selfS, "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
          "task_s" -> st.taskS, "idle_s" -> st.idleS, "gc_s" -> st.gcS,
          "shuffle_write_mb" -> st.shuffleWriteMb, "spill_mb" -> st.spillMb,
          "result_mb" -> st.resultMb)
      }
      save(new File(a.out, s"traces/$stem.json"), json(stats))
    }
    val result = Map(
      "correct" -> (run.failed == 0),
      "attempted" -> math.max(1, run.attempted),
      "failed" -> run.failed,
      "metrics" -> metrics.map { case (k, v) =>
        k -> Map("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v),
          "unit" -> Workloads.unitOf(k))
      }.toMap)
    println(ResultPrefix + json(result))
    System.out.flush()
  }

  private def fmt(v: Any): String = v match {
    case d: Double => f"$d%.6f"
    case other => other.toString
  }

  private def save(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.println(text) finally w.close()
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => json(k.toString) + ": " + json(x) }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }
}
