package lakebench

import scala.collection.immutable.ListMap

/** Per-layer metrics of a traced run, from its spans; sums are per
  * iteration. Names match BENCHMARK.json's `per_layer` list. A layer a
  * workload never enters reads 0: the acon step shares and counters on the
  * query workloads. */
object Layers {
  /** The untimed warm-up's span, left out of every per-layer number. */
  val WarmUp = "warm-up"

  private val aconSteps = Seq("spec", "io.read", "transform", "dq", "io.write", "algo.terminate")
  private val buildSpans = Set("build", "spec", "io.read", "transform")
  private val execSpans = Set("exec", "dq", "io.write", "algo.terminate")

  def perLayer(tracer: Tracer, samples: Seq[Harness.Sample],
      extra: Map[String, Any], gcS: Double, heapPeakMb: Double): Map[String, Double] = {
    val all = Tracer.derive(tracer.allSpans)
    val warm = all.filter(_.span.name == WarmUp).map(_.span.id).toSet
    def underWarm(d: Tracer.Derived): Boolean =
      warm(d.span.id) || all.find(_.span.id == d.span.parent).exists(underWarm)
    val derived = all.filterNot(underWarm)
    val roots = derived.filter(_.span.parent == 0)
    val iters = samples.map(_.iteration).distinct.size.max(1)
    def per(x: Double) = x / iters
    def named(names: Set[String]) = derived.filter(d => names(d.span.name))
    def sumInc(ds: Seq[Tracer.Derived])(f: Counters => Double) = per(ds.map(d => f(d.inclusive)).sum)
    val rootSeconds = roots.map(_.span.seconds).sum
    val num = extra.collect { case (k, v: Double) => k -> v; case (k, v: Long) => k -> v.toDouble }
    val terminate = derived.filter(d => d.span.name == "algo.terminate" &&
      roots.exists(r => r.span.id == d.span.parent && r.span.name == "optimize"))
    Map(
      "build_s" -> per(named(buildSpans).map(_.span.seconds).sum),
      "exec_s" -> per(named(execSpans).map(_.span.seconds).sum),
      "jobs" -> sumInc(roots)(_.jobs.toDouble),
      "stages" -> sumInc(roots)(_.stages.toDouble),
      "tasks" -> sumInc(roots)(_.tasks.toDouble),
      "driver_gap_s" -> per(roots.map(_.driverGapSeconds).sum),
      "task_s" -> sumInc(roots)(_.taskMs / 1e3),
      "task_cpu_s" -> sumInc(roots)(_.cpuNs / 1e9),
      "shuffle_bytes" -> sumInc(roots)(_.shuffleBytes.toDouble),
      "spill_bytes" -> sumInc(roots)(_.spillBytes.toDouble),
      "input_bytes" -> sumInc(roots)(_.inputBytes.toDouble),
      "output_bytes" -> sumInc(roots)(_.outputBytes.toDouble),
      "peak_exec_mem_mb" -> (roots.map(_.inclusive.peakExecMem).maxOption.getOrElse(0L) / 1048576.0),
      "retained_block_bytes" -> per(samples.map(_.retained.toDouble).sum),
      "unattributed_jobs" -> tracer.unattributedJobs.toDouble,
      "jvm.gc_s" -> per(gcS),
      "jvm.heap_peak_mb" -> heapPeakMb,
      "dq.jobs" -> sumInc(named(Set("dq")))(_.jobs.toDouble),
      "dq.input_bytes" -> sumInc(named(Set("dq")))(_.inputBytes.toDouble),
      "io.write.jobs" -> sumInc(named(Set("io.write")))(_.jobs.toDouble),
      "io.write.shuffle_bytes" -> sumInc(named(Set("io.write")))(_.shuffleBytes.toDouble),
      "io.write.output_bytes" -> sumInc(named(Set("io.write")))(_.outputBytes.toDouble),
      "io.write.files" -> num.getOrElse("io.write.files", 0.0),
      "io.write.touched_ratio" -> num.getOrElse("io.write.touched_ratio", 0.0),
      "maintain.output_bytes" -> sumInc(terminate)(_.outputBytes.toDouble),
      "write_amp" -> num.getOrElse("write_amp", 0.0),
    ) ++ aconSteps.map { step =>
      s"$step.share" -> (if (rootSeconds > 0) named(Set(step)).map(_.span.seconds).sum / rootSeconds
                         else 0.0)
    }
  }

  def spansJson(tracer: Tracer): Seq[ListMap[String, Any]] =
    Tracer.derive(tracer.allSpans).map { d =>
      val s = d.span
      ListMap("name" -> s.name, "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "self_s" -> d.selfSeconds, "driver_gap_s" -> d.driverGapSeconds,
        "self" -> s.self.toMap, "inclusive" -> d.inclusive.toMap)
    }
}
