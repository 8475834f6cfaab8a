package kgbench

import graft.SparkEntry
import graft.core.CodeFile
import graft.fixtures.CorpusGen
import graft.pipeline.{Checkpoints, Triples}
import java.io.File
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable

/** Operations an iteration attempted and how many of them failed. */
final case class Ops(attempted: Int, failed: Int)

/**
 * One workload: its inputs, its timed body and the checks of that
 * body's outputs. `iterate` runs the timed body and returns the check,
 * which the runner calls after the clock has stopped.
 */
trait Workload {
  /** Input items one iteration processes: corpus files or table rows. */
  def items: Long
  /** Build the inputs, or find them in the cache. */
  def prepare(spark: SparkSession): Unit
  /** One untimed pass of the body, to warm the JIT and the codegen cache. */
  def warmUp(spark: SparkSession): Unit
  def iterate(spark: SparkSession, tr: Option[Tracer], iter: Int): () => Ops
  /** Layer metrics of a traced iteration, read after the bus has
    * drained; `cpu` is the iteration's CPU time. */
  def layers(tr: Tracer, iter: Int, cpu: Double): Map[String, Double]
  /** Lines for the human-readable report (check results). */
  def report: Seq[String] = Nil
}

object Workloads {
  /** Run forced-distributed, from SparkEntry.distGraphQueries. */
  val GraphQueries: Seq[String] = Seq("q107_bfs_depth")
  val DedupQueries: Seq[String] =
    Seq("q105_jaccard_join_exact", "q129_containment_join")
  val Stages: Seq[String] = Seq("01_mentions", "02_aliases", "03_closure", "04_triples", "05_ner_corpus")

  def mb(bytes: Long): Double = bytes / 1e6

  def spanOf[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  /** Stages of the iteration that read the whole corpus (one record per
    * file), as (stages, their executor CPU seconds). */
  def corpusScans(tr: Tracer, iter: Int, nFiles: Long): (Int, Double) =
    tr.named("iteration", iter).headOption.map { s =>
      val scans = tr.inclusive(s).stageScans.filter(_._1 == nFiles)
      (scans.size, scans.map(_._2).sum / 1e9)
    }.getOrElse((0, 0.0))
}

/** Shared by extract and pipeline: a CorpusGen corpus and its planted triples. */
abstract class CorpusWorkload(work: File, seed: Long, val nFiles: Int) extends Workload {
  val Scale = 4
  var corpusDir: String = _
  private lazy val want = Checks.plantedTriples(nFiles, seed, Scale)
  private val pr = mutable.ArrayBuffer.empty[(Double, Double)]

  def items: Long = nFiles

  def prepare(spark: SparkSession): Unit = corpusDir = Inputs.corpus(spark, work, seed, nFiles, Scale)

  /** Precision and recall of written triples against the planted ones;
    * both must reach 0.95. */
  protected def triplesOk(spark: SparkSession, dir: String): Boolean = {
    val got = spark.read.parquet(dir).select("subj", "obj").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val (p, r) = Checks.precisionRecall(got, want)
    pr += ((p, r))
    p >= 0.95 && r >= 0.95
  }

  override def report: Seq[String] =
    if (pr.isEmpty) Nil
    else Seq(f"triple_precision ${pr.map(_._1).min}%.4f ratio (lowest of ${pr.size} checks)",
      f"triple_recall ${pr.map(_._2).min}%.4f ratio (lowest of ${pr.size} checks)")

  /** Single-thread parse + segment rate over a fixed sample of files. */
  def parseRate(): Double = {
    val sample = (0L until 2000L).map(i => CorpusGen.file(i, seed, Scale))
    def pass(): Double = {
      val t0 = System.nanoTime()
      var n = 0
      while (System.nanoTime() - t0 < 300000000L) {
        sample.foreach { f =>
          val p = graft.parse.CodeParser.parse(f, CorpusGen.dictionary)
          if (p.aliasTarget.isEmpty) graft.parse.Segmenter.sentencesWithMentions(p)
        }
        n += sample.size
      }
      n / ((System.nanoTime() - t0) / 1e9)
    }
    pass()
    Stats.median((1 to 3).map(_ => pass()))
  }
}

/** `Triples.mentionTriples` over the corpus, written as parquet. */
final class Extract(work: File, seed: Long, nFiles: Int) extends CorpusWorkload(work, seed, nFiles) {
  private val out = new File(work, "out/extract").getPath

  private def body(spark: SparkSession, dir: String, tr: Option[Tracer]): Unit = {
    import spark.implicits._
    Workloads.spanOf(tr, "triples") {
      Triples.mentionTriples(spark.read.parquet(dir).as[CodeFile], CorpusGen.dictionary)
        .write.mode("overwrite").parquet(out)
    }
  }

  def warmUp(spark: SparkSession): Unit = body(spark, corpusDir, None)

  def iterate(spark: SparkSession, tr: Option[Tracer], iter: Int): () => Ops = {
    val ok = try { body(spark, corpusDir, tr); true } catch { case e: Exception => Run.warn(e); false }
    () => Ops(1, if (ok && triplesOk(spark, out)) 0 else 1)
  }

  def layers(tr: Tracer, iter: Int, cpu: Double): Map[String, Double] =
    tr.named("triples", iter).headOption.map { s =>
      val c = tr.inclusive(s)
      val (scans, scanCpu) = Workloads.corpusScans(tr, iter, nFiles)
      Map("triples.s" -> s.seconds, "triples.shuffle_mb" -> Workloads.mb(c.shuffleWriteBytes),
        "parse.scan_passes" -> scans.toDouble, "parse.scan_cpu_share" -> scanCpu / cpu)
    }.getOrElse(Map.empty)
}

/**
 * The staged `graft.Main` run into a fresh output directory. `Main.main`
 * offers no place to open a span, so a traced iteration attributes its
 * work afterwards, from what the probe recorded of each SQL execution:
 *
 *  - an execution that writes `<out>/stages/<stage>` belongs to that
 *    stage, together with the executions `Checkpoints.runStage` started
 *    before it (the stage's own compute, such as the closure's jobs);
 *  - an execution whose innermost frame of the program is `Checkpoints`
 *    and that writes nothing (the snapshot's re-read and the manifest's
 *    row counts) belongs to the stage written last;
 *  - an execution outside `runStage` that writes `<out>/triples` is the
 *    partitioned triples output; the rest are Main's own row counts.
 *
 * A stage that ends up with no execution makes the traced run fail, so
 * a change to Main's layout cannot silently zero a metric.
 */
final class Pipeline(work: File, seed: Long, nFiles: Int) extends CorpusWorkload(work, seed, nFiles) {
  private val out = new File(work, "out/pipeline")

  /** `Main.main` stops the session when it ends. */
  private def body(corpus: String): Unit = {
    Inputs.delete(out)
    Console.withOut(System.err) {
      graft.Main.main(Array("--corpus", corpus, "--out", out.getPath,
        "--stages", "mentions,aliases,closure,ner,triples"))
    }
  }

  def warmUp(spark: SparkSession): Unit = body(corpusDir)

  def iterate(spark: SparkSession, tr: Option[Tracer], iter: Int): () => Ops = {
    val ok = try { body(corpusDir); true } catch { case e: Exception => Run.warn(e); false }
    () => {
      val s = Run.session()
      val cp = new Checkpoints(s, s"${out.getPath}/stages")
      def outputOk(stage: String): Boolean = stage match {
        case "05_ner_corpus" => s.read.parquet(s"${out.getPath}/stages/$stage")
          .filter(org.apache.spark.sql.functions.col("annotated").contains("<START:")).count() > 0
        case "04_triples" => triplesOk(s, s"${out.getPath}/triples")
        case _ => true
      }
      Ops(Workloads.Stages.size,
        Workloads.Stages.count(st => !ok || !cp.isCommitted(st) || !outputOk(st)))
    }
  }

  /** The path in the details of a write node of a formatted plan. */
  private val WriteTarget = """(?s)\) Execute InsertIntoHadoopFsRelationCommand\s*\n.*?Arguments: ([^,\s]+)""".r
  private val StageRead = """/stages/(\d\d_[a-z_]+)""".r

  private def stageIn(path: String): Option[String] = StageRead.findFirstMatchIn(path).map(_.group(1))

  /** The executions of one traced iteration, grouped by stage name, with
    * "triples_out" for the partitioned triples write. */
  private def attribute(xs: Seq[Execution]): Map[String, Seq[Execution]] = {
    val by = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Execution]]
    def add(k: String, x: Execution) = by.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += x
    val pending = mutable.ArrayBuffer.empty[Execution]
    var lastWritten = Option.empty[String]
    xs.foreach { x =>
      val target = WriteTarget.findFirstMatchIn(x.plan).map(_.group(1))
      val inStage = x.callSite.contains("graft.pipeline.Checkpoints.runStage")
      target.flatMap(stageIn) match {
        case Some(st) => (pending :+ x).foreach(add(st, _)); pending.clear(); lastWritten = Some(st)
        case None if inStage && x.programFrame.startsWith("graft.pipeline.Checkpoints") =>
          lastWritten.foreach(add(_, x))
        case None if inStage => pending += x
        case None if target.exists(_.endsWith("/triples")) => add("triples_out", x)
        case None =>
      }
    }
    by.map { case (k, v) => k -> v.toSeq }.toMap
  }

  def layers(tr: Tracer, iter: Int, cpu: Double): Map[String, Double] = {
    val group = tr.named("iteration", iter).headOption.map(_.id).getOrElse("")
    val by = attribute(tr.probe.executionsOf(group))
    val missing = Workloads.Stages.filterNot(by.contains)
    if (missing.nonEmpty) sys.error(s"no Spark work attributed to stage(s) ${missing.mkString(", ")}: " +
      "Main's stage layout no longer matches the attribution rules in kgbench.Pipeline")
    def total(xs: Seq[Execution]) = { val c = new Counts; xs.foreach(x => c.add(x.counts)); c }
    def seconds(xs: Seq[Execution]) = (xs.map(_.endMs).max - xs.map(_.startMs).min) / 1e3
    val m = mutable.Map.empty[String, Double]
    val staged = total(Workloads.Stages.flatMap(by))
    Workloads.Stages.foreach(st => m(s"checkpoint.$st.s") = seconds(by(st)))
    m("checkpoint.jobs") = staged.jobs.toDouble
    m("checkpoint.write_mb") = Workloads.mb(staged.outputBytes)
    // the closure: from its first job to the start of the snapshot write
    // of its result (the driver fast path finishes between the two)
    val closure = by("03_closure").filter(_.callSite.contains("graft.pipeline.Redirects"))
    val closureWrite = by("03_closure").find(x => WriteTarget.findFirstIn(x.plan).isDefined)
    m("closure.jobs") = total(closure).jobs.toDouble
    m("closure.s") = closureWrite.filter(_ => closure.nonEmpty)
      .map(w => (w.startMs - closure.map(_.startMs).min) / 1e3).getOrElse(0.0)
    val ner = total(by("05_ner_corpus"))
    m("ner.shuffle_mb") = Workloads.mb(ner.shuffleWriteBytes)
    m("ner.spill_mb") = Workloads.mb(ner.diskSpillBytes)
    // triples: the linking stage, its snapshot and the partitioned output
    val triples = by("04_triples") ++ by.getOrElse("triples_out", Nil)
    m("triples.s") = seconds(triples)
    m("triples.shuffle_mb") = Workloads.mb(total(triples).shuffleWriteBytes)
    val (scans, scanCpu) = Workloads.corpusScans(tr, iter, nFiles)
    m("parse.scan_passes") = scans.toDouble
    m("parse.scan_cpu_share") = scanCpu / cpu
    m.toMap
  }
}

/**
 * Graph loops and candidate joins over one seeded table set. The graph
 * queries run forced-distributed and are checked against the
 * driver-local twins that the default queries run at this size. Each
 * dedup result row is verified by the benchmark's own computation, and
 * each dedup query must return the planted pairs it finds by
 * construction.
 */
final class Queries(work: File, seed: Long, nDocs: Int) extends Workload {
  var dir: String = _
  private val all: Seq[(String, String)] =
    Workloads.GraphQueries.map("graph" -> _) ++ Workloads.DedupQueries.map("dedup" -> _)
  private def query(family: String, q: String) =
    if (family == "graph") SparkEntry.distGraphQueries(q) else SparkEntry.queries(q)

  /** Per iteration and query: rows returned, and storage the call left behind (MB). */
  private val resultRows = mutable.HashMap.empty[(Int, String), Long]
  private val retainedMb = mutable.HashMap.empty[(Int, String), Double]

  def items: Long = nDocs

  def prepare(spark: SparkSession): Unit = dir = Inputs.tableDir(spark, work, seed, nDocs)

  def warmUp(spark: SparkSession): Unit = all.foreach { case (f, q) => query(f, q)(spark, dir).collect() }

  def iterate(spark: SparkSession, tr: Option[Tracer], iter: Int): () => Ops = {
    val results = all.map { case (f, q) =>
      val before = tr.map(_.probe.storedMbNow())
      val t0 = System.nanoTime()
      val rows =
        try Some(Workloads.spanOf(tr, s"$f.$q")(query(f, q)(spark, dir).collect()))
        catch { case e: Exception => Run.warn(e); None }
      System.err.println(f"[kgbench] $f.$q ${(System.nanoTime() - t0) / 1e9}%.3f s")
      tr.zip(before).foreach { case (t, b) => retainedMb((iter, q)) = t.probe.storedMbNow() - b }
      rows.foreach(r => resultRows((iter, q)) = r.length.toLong)
      (f, q, rows)
    }
    () => Ops(all.size, results.count { case (f, q, r) =>
      val ok = r.exists(rows => if (f == "graph") twinOk(Run.session(), q, rows) else dedupOk(q, rows))
      if (!ok) System.err.println(s"[kgbench] check failed: $f.$q")
      !ok
    })
  }

  def layers(tr: Tracer, it: Int, cpu: Double): Map[String, Double] =
    all.flatMap { case (f, q) =>
      tr.named(s"$f.$q", it).headOption.toSeq.flatMap { s =>
        val c = tr.inclusive(s)
        val m =
          if (f == "graph") Seq("s" -> s.seconds, "jobs" -> c.jobs.toDouble,
            "shuffle_mb" -> Workloads.mb(c.shuffleWriteBytes),
            "storage_retained_mb" -> retainedMb.getOrElse((it, q), 0.0))
          else Seq("s" -> s.seconds, "shuffle_mb" -> Workloads.mb(c.shuffleWriteBytes),
            "candidates_per_pair" -> c.joinRows.values.maxOption.getOrElse(0L).toDouble /
              math.max(1L, resultRows.getOrElse((it, q), 0L)))
        m.map { case (k, v) => s"$f.$q.$k" -> v }
      }
    }.toMap

  private val twins = mutable.HashMap.empty[String, Array[Row]]

  private def twinOk(spark: SparkSession, q: String, rows: Array[Row]): Boolean =
    Checks.sameRows(rows, twins.getOrElseUpdate(q, SparkEntry.queries(q)(spark, dir).collect()))

  private lazy val t = Inputs.tables(seed, nDocs)
  private lazy val text: Map[Long, String] = t.docs.map(d => d.id -> d.text).toMap
  private lazy val toks = text.map { case (k, v) => k -> Checks.tokens(v) }
  private lazy val shing = text.map { case (k, v) => k -> Checks.shingles(v) }
  private def planted(kinds: String*) = t.planted.filter(p => kinds.contains(p.kind)).map(p => (p.a, p.b))

  private def ids(r: Row): (Long, Long) = (r.getLong(0), r.getLong(1))

  /** Whether `ok` holds for every row; reports the first row where it does not. */
  private def everyRow(q: String, rows: Array[Row])(ok: Row => Boolean): Boolean =
    rows.find(r => !ok(r)).forall { r => System.err.println(s"[kgbench] $q: bad row $r"); false }

  /** Whether every wanted pair was returned; reports the ones that were not. */
  private def covers(q: String, rows: Array[Row], want: Seq[(Long, Long)]): Boolean = {
    val missing = want.filterNot(rows.map(ids).toSet.contains)
    if (missing.nonEmpty) System.err.println(s"[kgbench] $q: planted pairs missing ${missing.mkString(" ")}")
    missing.isEmpty
  }

  private def dedupOk(q: String, rows: Array[Row]): Boolean = q match {
    case "q105_jaccard_join_exact" =>
      everyRow(q, rows) { r =>
        val (a, b) = ids(r)
        val j = Checks.jaccard(toks(a), toks(b))
        a < b && j >= 0.95 && math.abs(r.getDouble(2) - j) <= 1e-9
      } && covers(q, rows, planted("exact", "near").filter { case (a, b) =>
        Checks.jaccard(toks(a), toks(b)) >= 0.95 })
    case "q129_containment_join" =>
      everyRow(q, rows) { r =>
        val (a, b) = ids(r)
        val c = (shing(a) & shing(b)).size
        a != b && 5 * c >= 4 * shing(a).size &&
          math.abs(r.getDouble(2) - c.toDouble / shing(a).size) <= 1e-6
      } && covers(q, rows, planted("exact", "quote") ++ planted("exact").map(_.swap))
  }
}
