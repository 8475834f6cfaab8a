package kgbench

import org.apache.spark.SparkContext
import scala.collection.mutable

/** One timed call: `parent` is the span that was open when it began. */
final case class Span(id: String, parent: Option[String], name: String, iter: Int, startNs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around the benchmark's calls into the program, one tracer per
 * run. Each span sets its id (run, iteration, sequence number) as the
 * Spark job group, so the [[Probe]] attributes the jobs the call submits
 * to it; a job belongs to the innermost open span. Spans stay in memory
 * and are written as JSON lines at the end.
 */
final class Tracer(val probe: Probe, val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var iter = 0
  private var sc: SparkContext = _

  /** Listen to `ctx` for traced iteration `i`. */
  def attach(ctx: SparkContext, i: Int): Unit = {
    sc = ctx
    iter = i
    probe.context = ctx
    probe.fallbackGroup = s"$runId/$i/unattributed"
    ctx.addSparkListener(probe)
  }

  /** Wait for the iteration's events and stop listening. */
  def detach(): Unit = {
    probe.drain()
    if (!sc.isStopped) sc.removeSparkListener(probe)
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(s"$runId/$iter/${spans.size + open.size}", open.headOption.map(_.id), name, iter,
      System.nanoTime())
    open = s :: open
    sc.setJobGroup(s.id, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.id, p.name)
        case None => sc.clearJobGroup()
      }
      spans += s
    }
  }

  /** Counts of `s` and of every span opened inside it. */
  def inclusive(s: Span): Counts = {
    val c = probe.countsOf(s.id)
    spans.filter(_.parent.contains(s.id)).foreach(ch => c.add(inclusive(ch)))
    c
  }

  def named(name: String, i: Int): Seq[Span] = spans.filter(s => s.name == name && s.iter == i).toSeq

  /** One JSON object per span, with the counts attributed to it alone. */
  def jsonLines(t0Ns: Long): Seq[String] = spans.sortBy(_.startNs).map { s =>
    val c = probe.countsOf(s.id)
    val parent = s.parent.map(p => "\"" + p + "\"").getOrElse("null")
    f"""{"run":"$runId","id":"${s.id}","parent":$parent,"name":"${s.name}","iter":${s.iter},""" +
      f""""start_s":${(s.startNs - t0Ns) / 1e9}%.6f,"end_s":${(s.endNs - t0Ns) / 1e9}%.6f,""" +
      s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_run_ms":${c.taskRunMs},""" +
      s""""shuffle_write_bytes":${c.shuffleWriteBytes},"disk_spill_bytes":${c.diskSpillBytes},""" +
      s""""output_bytes":${c.outputBytes},"join_rows":${c.joinRows.values.sum}}"""
  }.toSeq
}
