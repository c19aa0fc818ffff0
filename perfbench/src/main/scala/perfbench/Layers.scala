package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Per-layer metrics of a traced run, each the mean over the timed passes
  * (peaks are maxima), and the trace file of spans and jobs. */
object Layers {
  private val MB = 1024.0 * 1024.0

  def metrics(t: Tracer, wl: Workload, r: Runner, timed: Seq[PassResult]): Map[String, Double] = {
    t.drain()
    val passes = timed.map(_.pass).toSet
    val n = timed.size.toDouble
    val aggs = timed.map(p => t.agg(p.pass))
    def mean(f: Tracer.Agg => Double) = aggs.map(f).sum / n
    def spanS(layer: String, name: String => Boolean) = t.spans.filter(s =>
      passes(s.pass) && s.layer == layer && name(s.name)).map(s => (s.endNs - s.startNs) / 1e9).sum / n
    val taskCpuS = mean(_.taskCpuNs / 1e9)
    val base = Map(
      "queries.build_s" -> spanS("queries", _ => true),
      "queries.build_jobs" -> mean(_.buildJobs.toDouble),
      "plan.plan_s" -> spanS("plan", _ => true),
      "plan.codegen_compiles" -> timed.map(_.codegenCompiles).sum / n,
      "plan.codegen_s" -> timed.map(_.codegenNs / 1e9).sum / n,
      "sched.jobs" -> mean(_.jobs.toDouble),
      "sched.stages" -> mean(_.stages.toDouble),
      "sched.tasks" -> mean(_.tasks.toDouble),
      "sched.listing_tasks" -> mean(_.listingTasks.toDouble),
      "sched.driver_cpu_s" -> (timed.map(_.cpuS).sum / n - taskCpuS),
      "exec.task_s" -> mean(_.taskNs / 1e9),
      "exec.task_cpu_s" -> taskCpuS,
      "exec.shuffle_write_mb" -> mean(_.shuffleBytes / MB),
      "exec.shuffle_records" -> mean(_.shuffleRecords.toDouble),
      "exec.spill_mb" -> mean(_.spillBytes / MB),
      "exec.input_mb" -> mean(_.inputBytes / MB),
      "exec.output_mb" -> mean(_.outputBytes / MB),
      "exec.gc_s" -> mean(_.gcMs / 1e3),
      "exec.peak_exec_mem_mb" -> aggs.map(_.peakExecMem / MB).max,
      "store.peak_cached_mb" -> t.peakCachedBytes / MB,
      "store.resident_after_mb" -> timed.map(_.residentBytes / MB).sum / n)
    val wiki = Seq("crawl_s", "write_html_s", "categorize_s", "distribution_s", "jdbc_s",
      "convert_s").map(k => s"wiki.$k" -> spanS("wiki", _ == k))
    val ops = wl match {
      case _: RegistryOps => wl.ops.map(o => s"op.$o" -> median(timed.map(_.opS(o))))
      case _ => Nil
    }
    base ++ wiki ++ ops
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One JSON object per line: every span, every job, and jobs and task
    * counts per engine source file of the launching action. */
  def writeTrace(t: Tracer, path: String): Unit = {
    val spans = t.spans.map(s => Json.obj("kind" -> "span", "pass" -> s.pass,
      "layer" -> s.layer, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
      "start_ms" -> s.startNs / 1e6, "dur_ms" -> (s.endNs - s.startNs) / 1e6).s)
    val jobs = t.jobs.map(j => Json.obj("kind" -> "job", "id" -> j.id, "pass" -> j.pass,
      "op" -> j.op, "span" -> j.span, "listing" -> j.listing, "file" -> j.file).s)
    val byFile = t.jobs.groupBy(_.file).toSeq.sortBy(-_._2.size).map { case (f, js) =>
      Json.obj("kind" -> "file", "file" -> f, "jobs" -> js.size).s }
    Files.write(Paths.get(path), (spans ++ jobs ++ byFile ++ threadCpu)
      .mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** CPU seconds of the whole run per JVM thread name (digits folded),
    * from /proc, so JIT compiler and GC threads are counted too. */
  private def threadCpu: Seq[String] = {
    val tick = 100.0 // USER_HZ
    val byName = mutable.Map.empty[String, Double]
    for (t <- Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)) {
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")), UTF_8)
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')')).replaceAll("[0-9]+", "#")
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        byName(name) = byName.getOrElse(name, 0.0) + (f(11).toLong + f(12).toLong) / tick
      } catch { case _: java.io.IOException => () } // thread ended meanwhile
    }
    byName.toSeq.sortBy(-_._2).map { case (n, c) =>
      Json.obj("kind" -> "thread_cpu", "thread" -> n, "cpu_s" -> c).s }
  }
}
