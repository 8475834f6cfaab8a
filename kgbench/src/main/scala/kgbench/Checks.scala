package kgbench

import graft.fixtures.CorpusGen
import graft.functions.TextFunctions
import org.apache.spark.sql.Row
import scala.collection.mutable

/**
 * References the outputs are checked against. Each is computed on the
 * driver from the generator's planted truth or by a plain algorithm of
 * the benchmark's own, never by the code path being measured.
 */
object Checks {

  /** The (subject, object) triples CorpusGen planted: every mention of
    * a non-alias file, its label resolved through the planted alias
    * graph (chains followed, cycles left unresolved). */
  def plantedTriples(nFiles: Int, seed: Long, scale: Int): Set[(String, String)] =
    CorpusGen.generate(nFiles, seed, scale).filter(_.aliasTarget.isEmpty).flatMap { g =>
      val subj = TextFunctions.nameToUri(s"${g.file.repo}/${g.file.path}", g.file.lang)
      g.mentions.map(m => (subj, TextFunctions.nameToUri(CorpusGen.resolveName(m.label), g.file.lang)))
    }.toSet

  def precisionRecall[T](got: Set[T], want: Set[T]): (Double, Double) = {
    val hit = got.count(want.contains).toDouble
    (if (got.isEmpty) 0.0 else hit / got.size, if (want.isEmpty) 0.0 else hit / want.size)
  }

  def tokens(text: String): Set[String] = text.split(" ").filter(_.nonEmpty).toSet

  /** Distinct word n-gram shingles; a text shorter than n is one shingle. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set(text) else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard[T](a: Set[T], b: Set[T]): Double = {
    val u = (a | b).size
    if (u == 0) 0.0 else (a & b).size.toDouble / u
  }

  /** Whether two results hold the same rows in any order, floating-point
    * cells equal to within 1e-6 (two summation orders of one sum differ
    * in the last bits). Rows are matched by their other cells. */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean = {
    def key(r: Row) = r.toSeq.map {
      case _: Double | _: Float => ""
      case v => String.valueOf(v)
    }.mkString("\u0001")
    def close(x: Any, y: Any) = (x, y) match {
      case (p: Double, q: Double) => math.abs(p - q) <= 1e-6 * math.max(1.0, math.abs(q))
      case (p: Float, q: Float) => math.abs(p - q) <= 1e-6 * math.max(1.0, math.abs(q))
      case _ => x == y
    }
    a.length == b.length && a.sortBy(key).zip(b.sortBy(key)).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall(i => close(x.get(i), y.get(i)))
    }
  }
}
