package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.commons.math3.distribution.BetaDistribution

/** Turns passes into metrics and prints them. Every line but the last
  * is a human-readable note; the last line is the result object. */
final class Output(a: Args) {
  def info(s: String): Unit = { println(s); System.out.flush() }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Harrell–Davis estimate of the median: a weighted mean of all the
    * order statistics, with weights from a Beta((n+1)/2, (n+1)/2)
    * distribution. With a pass of 7 or 13 ops the middle sample alone is
    * one op's time, so it jumps with that op; this estimate is steadier. */
  private def hdMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    val beta = new BetaDistribution((n + 1) / 2.0, (n + 1) / 2.0)
    s.indices.map { i =>
      s(i) * (beta.cumulativeProbability((i + 1.0) / n) - beta.cumulativeProbability(i.toDouble / n))
    }.sum
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  private def emit(metrics: Seq[(String, Double, String)], attempted: Int,
      failed: Int): Unit = {
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    info(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  def result(setup: Double, cold: PassResult, warm: Seq[PassResult],
      peakRssMb: Double, attempted: Int, failed: Int, spans: Seq[Span]): Unit = {
    info(f"fail_frac ${failed.toDouble / math.max(1, attempted)}%.4f ($failed of $attempted ops)")
    val untraced = warm.filterNot(_.traced)
    if (!a.trace) {
      val samples = untraced.flatMap(_.ops.map(_.seconds))
      // A pass of 7 board ops or 6 pipeline stages has too few samples for
      // a percentile above the median with ten samples beyond it, so the
      // tail is each warm pass's slowest op, as the median over the passes.
      val tv = median(untraced.map(_.ops.map(_.seconds).max))
      info(s"op_tail_s is the median over ${untraced.size} warm passes of each pass's slowest op")
      emit(Seq(
        ("setup_s", setup, "s"),
        ("cold_s", cold.seconds, "s"),
        ("warm_s", median(untraced.map(_.seconds)), "s"),
        ("op_p50_s", hdMedian(samples), "s"),
        ("op_tail_s", tv, "s"),
        ("peak_rss_mb", peakRssMb, "MB")), attempted, failed)
    } else {
      val traced = warm.filter(_.traced)
      val perPass = traced.map(p => layerMetrics(p, spans))
      val keys = perPass.flatMap(_.keys).distinct
      val layer = mutable.LinkedHashMap[String, Double]()
      keys.foreach(k => layer(k) = median(perPass.map(_.getOrElse(k, 0.0))))
      layer("driver.cold_codegen_compiles") = cold.compiles.toDouble
      val tracedWarm = median(traced.map(_.seconds))
      val untracedWarm = median(untraced.map(_.seconds))
      layer("trace.overhead_frac") = tracedWarm / untracedWarm - 1
      writeSpans(spans)
      printTable(layer, perPass, tracedWarm, untracedWarm, traced.size)
      emit(Output.perLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) },
        attempted, failed)
    }
  }

  /** Per-layer metrics of one traced pass. */
  private def layerMetrics(p: PassResult, spans: Seq[Span]): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    p.ops.foreach { o =>
      o.stats.foreach {
        case ("exec.max_task_records", v) =>
          m("exec.max_task_records") = math.max(m.getOrElse("exec.max_task_records", 0.0), v)
        case (k, v) => add(k, v)
      }
      if (o.stats.getOrElse("streaming.batches", 0.0) > 0)
        add("streaming.overhead_s", o.seconds - o.stats.getOrElse("streaming.add_batch_s", 0.0))
      if (o.group == "pipelines") add(s"pipelines.${o.name}_s", o.seconds)
      else add(s"queries.${o.group}_s", o.seconds)
    }
    val opWall = p.ops.map(_.seconds).sum
    m("exec.slot_busy_frac") = m.getOrElse("exec.task_run_s", 0.0) / (opWall * a.cpus)
    val batches = m.getOrElse("streaming.batches", 0.0)
    m("streaming.empty_batch_frac") =
      if (batches > 0) m.getOrElse("streaming.empty_batches", 0.0) / batches else 0.0
    if (p.ops.exists(_.group == "pipelines"))
      m("pipelines.remainder_s") = p.wallSeconds - opWall
    selfTimes(p.spanId, spans).foreach { case (k, v) => m(k) = v }
    m.toMap
  }

  /** Self time of each span kind under one pass span: the span's length
    * minus the part of it that its child spans cover. */
  private def selfTimes(passId: Long, spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (x, y) => y > x }.sortBy(_._1)
      var total = 0.0; var end = Double.MinValue
      iv.foreach { case (x, y) =>
        if (x > end) { total += y - x; end = y }
        else if (y > end) { total += y - end; end = y }
      }
      total / 1000.0
    }
    val out = mutable.LinkedHashMap[String, Double]()
    def walk(s: Span): Unit = {
      val k = s"span.${s.kind}_self_s"
      out(k) = out.getOrElse(k, 0.0) + s.durS - covered(s)
      children.getOrElse(s.id, Nil).foreach(walk)
    }
    spans.find(s => s.id == passId && s.kind == "pass").foreach(walk)
    out.toMap
  }

  private def writeSpans(spans: Seq[Span]): Unit = if (a.spans.nonEmpty) {
    val p = Paths.get(a.spans)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val lines = spans.sortBy(s => (s.startMs, s.id)).map { s =>
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": "${s.kind}", "name": "$name", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}"""
    }
    Files.writeString(p, lines.mkString("", "\n", "\n"))
    info(s"spans: ${spans.size} written to ${a.spans}")
  }

  private def printTable(layer: collection.Map[String, Double],
      perPass: Seq[Map[String, Double]], tracedWarm: Double,
      untracedWarm: Double, nTraced: Int): Unit = {
    info(s"per-layer metrics of ${a.workload}: median of $nTraced traced warm passes")
    info(f"  ${"metric"}%-34s ${"value"}%14s  repeats  base")
    val bases = Map(
      "exec.slot_busy_frac" -> f"task_run_s / (op wall x ${a.cpus} cores)",
      "streaming.empty_batch_frac" -> f"of ${layer.getOrElse("streaming.batches", 0.0)}%.0f batches",
      "trace.overhead_frac" -> f"traced warm_s $tracedWarm%.3f / untraced warm_s $untracedWarm%.3f",
      "pipelines.remainder_s" -> "pass wall - sum of stage times (cleanup, checks, tracing)")
    Output.perLayer.foreach { case (n, u) =>
      val repeats =
        if (perPass.size < 2 || (!perPass.exists(_.contains(n)) && layer.contains(n))) "-"
        else if (perPass.map(_.getOrElse(n, 0.0)).distinct.size <= 1) "yes" else "no"
      info(f"  $n%-34s ${layer.getOrElse(n, 0.0)}%14.4f  $repeats%-7s  $u ${bases.getOrElse(n, "")}")
    }
  }
}

object Output {

  private val pipelines = Seq("weather", "handoff", "transform", "features",
    "coefficients", "simulate", "remainder").map(s => s"pipelines.${s}_s" -> "s")

  private val common: Seq[(String, String)] = Seq(
    "span.pass_self_s" -> "s", "span.op_self_s" -> "s",
    "span.job_self_s" -> "s", "span.stage_self_s" -> "s",
    "driver.analysis_s" -> "s", "driver.optimization_s" -> "s",
    "driver.planning_s" -> "s", "driver.codegen_compiles" -> "count",
    "driver.cold_codegen_compiles" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.slot_busy_frac" -> "ratio", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.input_mb" -> "MB", "exec.input_records" -> "count",
    "exec.max_task_records" -> "count", "exec.failed_tasks" -> "count",
    "streaming.queries" -> "count", "streaming.batches" -> "count",
    "streaming.empty_batch_frac" -> "ratio", "streaming.trigger_s" -> "s",
    "streaming.add_batch_s" -> "s", "streaming.commit_s" -> "s",
    "streaming.planning_s" -> "s", "streaming.overhead_s" -> "s",
    "streaming.state_rows" -> "count", "streaming.state_mem_mb" -> "MB",
    "io.read_mb" -> "MB", "io.write_mb" -> "MB") ++
    Workloads.allObjects.map(o => s"queries.${o}_s" -> "s")

  /** Every per-layer metric the traced run reports, with its unit. Each
    * workload reports all of them; a layer it does not use reads 0, as
    * `pipelines.*` on the board and `queries.*` on the pipeline. */
  val perLayer: Seq[(String, String)] =
    common ++ pipelines :+ ("trace.overhead_frac" -> "ratio")
}
