package kgbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Every metric the benchmark prints, with its unit. */
object Catalog {
  val EndToEnd: Seq[(String, String)] = Seq("cpu_s" -> "s", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] =
    Seq("parse.files_per_s_1t" -> "files/s", "parse.scan_passes" -> "count", "parse.scan_cpu_share" -> "frac",
      "triples.s" -> "s", "triples.shuffle_mb" -> "MB",
      "closure.s" -> "s", "closure.jobs" -> "count") ++
    Workloads.Stages.map(st => s"checkpoint.$st.s" -> "s") ++
    Seq("checkpoint.jobs" -> "count", "checkpoint.write_mb" -> "MB",
      "ner.shuffle_mb" -> "MB", "ner.spill_mb" -> "MB") ++
    Workloads.GraphQueries.flatMap(q => Seq(s"graph.$q.s" -> "s", s"graph.$q.jobs" -> "count",
      s"graph.$q.shuffle_mb" -> "MB", s"graph.$q.storage_retained_mb" -> "MB")) ++
    Workloads.DedupQueries.flatMap(q => Seq(s"dedup.$q.s" -> "s", s"dedup.$q.shuffle_mb" -> "MB",
      s"dedup.$q.candidates_per_pair" -> "ratio")) ++
    Seq("engine.wall_s" -> "s", "engine.tasks" -> "count", "engine.core_busy_frac" -> "frac", "engine.gc_s" -> "s",
      "engine.spill_mb" -> "MB", "engine.tasks_failed" -> "count",
      "engine.stages_retried" -> "count", "engine.peak_storage_mb" -> "MB",
      "trace.overhead_frac" -> "frac")
}

/**
 * Runs one workload and prints its metrics; the last line of standard
 * output is the JSON result. Arguments: --workload extract|pipeline|
 * queries, --seed n, --seconds n, --trace 0|1, --size full|tiny,
 * --work dir (runtime files: inputs, outputs, traces).
 *
 * A run sets up once, cold: a fresh session, the inputs and one pass of
 * the body; setup_s is the CPU time of that, the JIT compiler's
 * included. It then times the body at least [[MinTimed]] times and
 * until --seconds have passed; cpu_s is the median CPU time of those
 * passes, less the JIT compiler's (see [[workCpu]]). Wall time and
 * files per second are printed beside it. CPU time is the gated measure
 * because on a shared host the time stolen from the virtual CPUs moves
 * wall time by half between runs and leaves CPU time alone. With
 * --trace 1 the run times three passes, untraced, traced, untraced: the
 * traced one gives the layer metrics, and the ratio of the CPU times
 * the tracing overhead.
 */
object Run {
  private var current: SparkSession = _
  private var tmpDir: File = _

  def warn(e: Throwable): Unit = {
    System.err.println(s"[kgbench] operation failed: $e")
    e.printStackTrace()
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()
  /** Timed passes per run, at least. */
  val MinTimed = 3

  /** CPU time of the JVM (every thread, user and system) less that of
    * the JIT compiler threads, in seconds. The compiler's share falls
    * pass by pass as the JVM warms up; it says nothing of the program. */
  def workCpu(): Double = Probe.cpuSeconds - Probe.jitCpuSeconds

  /** The live session, made anew when the last one was stopped. */
  def session(): SparkSession = {
    if (current == null || current.sparkContext.isStopped) {
      current = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("kgbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.maxPlanStringLength", "1048576")
        .config("spark.sql.maxMetadataStringLength", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", tmpDir.getPath)
        .config("spark.sql.warehouse.dir", new File(tmpDir, "warehouse").getPath)
        .config("spark.hadoop.hadoop.tmp.dir", tmpDir.getPath)
        .getOrCreate()
      current.sparkContext.setLogLevel("WARN")
    }
    current
  }

  private def stopSession(): Unit = if (current != null) { current.stop(); current = null }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try run(opts)
      catch { case e: Throwable => warn(e); 1 }
      finally stopSession()
    sys.exit(code)
  }

  def workload(name: String, work: File, seed: Long, tiny: Boolean): Workload = name match {
    case "extract" => new Extract(work, seed, if (tiny) 64 else 12000)
    case "pipeline" => new Pipeline(work, seed, if (tiny) 64 else 1000)
    case "queries" => new Queries(work, seed, if (tiny) 64 else 200)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def run(opts: Map[String, String]): Int = {
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val tiny = opts.getOrElse("size", "full") == "tiny"
    val work = new File(opts.getOrElse("work", "kgbench/work"))
    tmpDir = new File(work, "tmp")
    tmpDir.mkdirs()
    val w = workload(name, work, seed, tiny)
    val runId = s"$name-$seed-${System.currentTimeMillis()}"

    // cold set-up: everything in it counts, the JIT compiler included
    val (s0, sc0) = (System.nanoTime(), Probe.cpuSeconds)
    w.prepare(session())
    w.warmUp(session())
    val (setupWall, setupCpu) = ((System.nanoTime() - s0) / 1e9, Probe.cpuSeconds - sc0)
    System.err.println(f"[kgbench] setup: wall $setupWall%.3f s, cpu $setupCpu%.3f s")

    // (wall s, cpu s) of each timed body, untraced and traced
    val plain = mutable.ArrayBuffer.empty[(Double, Double)]
    val withTrace = mutable.ArrayBuffer.empty[(Double, Double)]
    val layerRuns = mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted = 0
    var failed = 0
    val tracer = new Tracer(new Probe, runId)
    val loopStart = System.nanoTime()
    var i = 0
    while (i < MinTimed || (!traced && (System.nanoTime() - loopStart) / 1e9 < seconds)) {
      val s = session()
      // the clock starts once Spark has handled the events of what ran before
      org.apache.spark.kgbenchaccess.Bus.drain(s.sparkContext)
      val tr = if (traced && i % 2 == 1) { tracer.attach(s.sparkContext, i); Some(tracer) } else None
      val gc0 = Probe.gcSeconds
      val (t0, c0, k0) = (System.nanoTime(), workCpu(), Probe.threadCpuSeconds)
      val check = Workloads.spanOf(tr, "iteration")(w.iterate(s, tr, i))
      val (wall, cpu, k1) = ((System.nanoTime() - t0) / 1e9, workCpu() - c0, Probe.threadCpuSeconds)
      val kinds = k1.map { case (k, v) => f"$k ${v - k0.getOrElse(k, 0.0)}%.2f" }.toSeq.sorted.mkString(", ")
      val gc = Probe.gcSeconds - gc0
      tr.foreach { t =>
        t.detach()
        layerRuns += w.layers(t, i, cpu) ++ engine(t, i, wall, gc)
      }
      val q0 = System.nanoTime()
      val ops = check()
      (if (tr.isDefined) withTrace else plain) += ((wall, cpu))
      System.err.println(f"[kgbench] iteration $i: wall $wall%.3f s, cpu $cpu%.3f s ($kinds), " +
        f"check ${(System.nanoTime() - q0) / 1e9}%.3f s")
      attempted += ops.attempted
      failed += ops.failed
      i += 1
    }

    def med(xs: Iterable[Double]) = Stats.median(xs.toSeq)
    val wall = med(plain.map(_._1))
    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        val values = Map("cpu_s" -> med(plain.map(_._2)), "setup_s" -> setupCpu)
        Catalog.EndToEnd.map { case (n, u) => (n, u, values(n)) }
      } else {
        w match {
          case c: CorpusWorkload => layerRuns += Map("parse.files_per_s_1t" -> c.parseRate())
          case _ =>
        }
        val overhead = med(withTrace.map(_._2)) / med(plain.map(_._2)) - 1
        Catalog.PerLayer.map { case (n, u) =>
          val xs = layerRuns.flatMap(_.get(n))
          (n, u, if (n == "trace.overhead_frac") overhead else if (xs.isEmpty) 0.0 else med(xs))
        }
      }

    if (traced) {
      val f = new File(work, s"trace/$runId.jsonl")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, tracer.jsonLines(loopStart).mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"[kgbench] spans: ${f.getPath}")
    }
    def list(xs: Iterable[Double]) = xs.map(x => f"$x%.3f").mkString(",")
    println(s"[kgbench] workload=$name seed=$seed cpus=$cpus iterations=$i " +
      f"setup_cpu=$setupCpu%.3f setup_wall=$setupWall%.3f " +
      s"cpu=${list(plain.map(_._2))} wall=${list(plain.map(_._1))}" +
      (if (traced) s" traced_cpu=${list(withTrace.map(_._2))} traced_wall=${list(withTrace.map(_._1))}" else ""))
    println(f"[kgbench] wall_s $wall%.6f s (median untraced body wall time)")
    println(f"[kgbench] files_per_s ${w.items / wall}%.6f files/s (input items per wall second)")
    w.report.foreach(l => println(s"[kgbench] check $l"))
    println(f"[kgbench] check ops_failed_frac ${failed.toDouble / math.max(attempted, 1)}%.4f ratio ($failed of $attempted)")
    metrics.foreach { case (n, u, v) => println(f"[kgbench] metric $n $v%.6f $u") }
    val json = metrics.map { case (n, u, v) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    0
  }

  /** A finite JSON number with all the digits the double carries. */
  private def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString

  /** Engine-wide counts of one traced iteration. */
  private def engine(t: Tracer, i: Int, wall: Double, gc: Double): Map[String, Double] = {
    val p = t.probe
    val c = p.countsOf(p.fallbackGroup)
    t.named("iteration", i).foreach(s => c.add(t.inclusive(s)))
    Map("engine.wall_s" -> wall,
      "engine.tasks" -> c.tasks.toDouble,
      "engine.core_busy_frac" -> c.taskRunMs / 1e3 / (wall * cpus),
      "engine.gc_s" -> gc,
      "engine.spill_mb" -> Workloads.mb(c.diskSpillBytes),
      "engine.tasks_failed" -> c.tasksFailed.toDouble,
      "engine.stages_retried" -> c.stagesRetried.toDouble,
      "engine.peak_storage_mb" -> p.takePeakMb())
  }
}
