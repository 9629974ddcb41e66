package perfbench

import scala.collection.mutable

/** Turns samples and spans into the named figures the run reports. */
object Report {
  import Main.{Sample, median}

  /** Per operation kind: count and median latency. */
  def kinds(samples: Seq[Sample]): Map[String, Any] =
    samples.groupBy(_.op.kind).map { case (k, ss) =>
      k -> Map("n" -> ss.size, "p50_ms" -> median(ss.map(_.ms)))
    }

  val Layers = Seq("rdf", "sparql", "catalyst", "spark", "graphx", "inference")

  /** Per-layer figures from the traced, completely drained operations:
    * means per operation unless the name says otherwise.
    */
  def layers(tr: Tracer, samples: Seq[Sample], cores: Int,
             storeBuildS: Double): Seq[(String, (Double, String))] = {
    val traced = drained(tr, samples)
    val out = mutable.ArrayBuffer[(String, (Double, String))](
      "rdf.store_build_s" -> (storeBuildS, "s"))
    out ++= figures(tr, traced, cores)
    GraphInference.keys.foreach { case (kind, _) =>
      val ss = traced.filter(_.op.kind == kind)
      out += s"${GraphInference.layer(kind)}.op_ms.$kind" ->
        (if (ss.isEmpty) 0.0 else ss.map(_.ms).sum / ss.size, "ms")
    }
    // tracing overhead: traced against untraced cycles of the same run
    val (on, off) = samples.partition(_.traced)
    def rate(ss: Seq[Sample]) = if (ss.isEmpty) 0.0 else ss.size / (ss.map(_.ms).sum / 1000)
    out += "trace.ops_per_s" -> (rate(on), "1/s")
    out += "trace.untraced_ops_per_s" -> (rate(off), "1/s")
    out += "trace.overhead_pct" ->
      (if (rate(on) > 0) 100 * (rate(off) / rate(on) - 1) else 0.0, "%")
    out += "trace.ops" -> (traced.size.toDouble, "count")
    out += "trace.incomplete_ops" -> (tr.incompleteOps.size.toDouble, "count")
    out.toSeq
  }

  /** Traced operations whose Spark events all arrived. */
  private def drained(tr: Tracer, samples: Seq[Sample]): Seq[Sample] = {
    val bad = tr.incompleteOps.toSet
    samples.filter(s => s.traced && !bad(s.op.id))
  }

  /** The per-layer figures again, for each operation kind on its own. */
  def layersByKind(tr: Tracer, samples: Seq[Sample], cores: Int): Map[String, Any] =
    drained(tr, samples).groupBy(_.op.kind).map { case (k, ss) =>
      k -> mutable.LinkedHashMap(figures(tr, ss, cores).map { case (n, (v, _)) => n -> v }: _*)
    }

  /** Layer figures over `traced`, as means per operation. */
  private def figures(tr: Tracer, traced: Seq[Sample],
                      cores: Int): Seq[(String, (Double, String))] = {
    val ids = traced.map(_.op.id).toSet
    val spans = tr.spans.filter(s => ids(s.op)).toSeq
    val self = Trace.selfTimes(spans)
    val jobs = ids.toSeq.flatMap(i => tr.jobsOf.getOrElse(i, Nil))
    val stages = jobs.flatMap(_.stages)
    val n = math.max(1, traced.size).toDouble
    def ms(ns: Double) = ns / 1e6
    def phaseMs(name: String) = ms(spans.filter(_.name == name).map(_.dur).sum) / n
    val jobIv = spans.filter(_.name == "spark.job").groupBy(_.op)
    val opSpans = spans.filter(_.parent == 0)
    val execNs = opSpans.map(o => Trace.covered(
      jobIv.getOrElse(o.op, Nil).map(j => (j.start, j.end)), o.start, o.end)).sum.toDouble
    val runMs = stages.map(_.runMs).sum.toDouble
    val resultRows = traced.map(_.answer.map(_.size).getOrElse(0)).sum
    val inputRecords = stages.map(_.inputRecords).sum.toDouble
    val compileJobs = jobs.count(_.desc.endsWith("/sparql.compile"))
    val mb = 1e6
    val out = mutable.ArrayBuffer[(String, (Double, String))](
      "rdf.ntriples_write_ms" -> (phaseMs("rdf.ntriples_write"), "ms"),
      "rdf.ntriples_read_ms" -> (phaseMs("rdf.ntriples_read"), "ms"),
      "rdf.update_ms" -> (phaseMs("rdf.update"), "ms"),
      "sparql.parse_ms" -> (phaseMs("sparql.parse"), "ms"),
      "sparql.compile_ms" -> (phaseMs("sparql.compile"), "ms"),
      "sparql.compile_jobs" -> (compileJobs / n, "count"),
      "catalyst.analysis_ms" -> (phaseMs("catalyst.analysis"), "ms"),
      "catalyst.optimization_ms" -> (phaseMs("catalyst.optimization"), "ms"),
      "catalyst.planning_ms" -> (phaseMs("catalyst.planning"), "ms"),
      "spark.exec_ms" -> (ms(execNs) / n, "ms"),
      "spark.jobs" -> (jobs.size / n, "count"),
      "spark.stages" -> (stages.size / n, "count"),
      "spark.tasks" -> (stages.map(_.tasks).sum / n, "count"),
      "spark.task_run_ms" -> (runMs / n, "ms"),
      "spark.task_cpu_ms" -> (stages.map(_.cpuNs).sum / 1e6 / n, "ms"),
      "spark.gc_ms" -> (stages.map(_.gcMs).sum / n, "ms"),
      "spark.core_util" -> (if (execNs > 0) runMs / (ms(execNs) * cores) else 0.0, "ratio"),
      "spark.input_records" -> (inputRecords / n, "count"),
      "spark.rows_read_per_result" -> (inputRecords / math.max(1, resultRows), "ratio"),
      "spark.shuffle_write_mb" -> (stages.map(_.shuffleWrite).sum / mb / n, "MB"),
      "spark.shuffle_read_mb" -> (stages.map(_.shuffleRead).sum / mb / n, "MB"),
      "spark.shuffle_fetch_wait_ms" -> (stages.map(_.fetchWaitMs).sum / n, "ms"),
      "spark.spill_mb" -> (stages.map(_.spill).sum / mb / n, "MB"),
      "driver.outside_jobs_ms" -> (ms(opSpans.map(_.dur).sum - execNs) / n, "ms"))
    Layers.foreach { l =>
      out += s"$l.self_ms" -> (ms(spans.filter(_.layer == l).map(s => self(s.id)).sum) / n, "ms")
    }
    out.toSeq
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def write(path: String, correct: Boolean, attempted: Int, failed: Int,
            metrics: collection.Map[String, (Double, String)],
            report: collection.Map[String, Any]): Unit = {
    val ms = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val result = json(mutable.LinkedHashMap("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> ms))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      json(report) + "\n" + result + "\n")
  }
}
