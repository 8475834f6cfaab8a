package kgbench

import graft.fixtures.CorpusGen
import graft.functions.TextFunctions
import java.io.File
import org.apache.spark.sql.SparkSession
import scala.util.Random

/**
 * Seeded inputs. The same seed and size give the same files. Each input
 * set is written once under `<work>/inputs/<key>`, where the key hashes
 * the seed, the size and a fingerprint of the generator's output, so a
 * changed generator never reuses a stale set.
 */
object Inputs {

  /** A document pair the generator planted on purpose. `kind` is exact
    * (same text), near (one word replaced) or quote (b is a's text plus
    * more words). */
  final case class Planted(kind: String, a: Long, b: Long)

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Tables(docs: Vector[Doc], planted: Vector[Planted])

  /** The word list of the engine's synthetic `documents` table. */
  val Vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  private val Langs = Vector("en", "en", "en", "zh", "de", "fr", "es")

  private def words(rnd: Random, n: Int): Vector[String] = Vector.fill(n)(Vocab(rnd.nextInt(Vocab.size)))

  /** Documents with planted duplicate pairs (about 1% of documents each
    * of exact, near and quote). */
  def tables(seed: Long, nDocs: Int): Tables = {
    val rnd = new Random(seed)
    val planted = Vector.newBuilder[Planted]
    val texts = new Array[String](nDocs)
    val docs = Vector.tabulate(nDocs) { i =>
      val r = rnd.nextDouble()
      val j = if (i >= 10) rnd.nextInt(i) else 0
      texts(i) =
        if (i >= 10 && r < 0.01) { planted += Planted("exact", j, i); texts(j) }
        else if (i >= 10 && r < 0.02) {
          val w = texts(j).split(" ")
          val at = rnd.nextInt(w.length)
          w(at) = Vocab.filterNot(_ == w(at))(rnd.nextInt(Vocab.size - 1))
          planted += Planted("near", j, i)
          w.mkString(" ")
        } else if (i >= 10 && r < 0.03) {
          planted += Planted("quote", j, i)
          texts(j) + " " + words(rnd, 8).mkString(" ")
        } else words(rnd, 10 + rnd.nextInt(51)).mkString(" ")
      Doc(i, texts(i), Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(8)}")
    }
    Tables(docs, planted.result())
  }

  /** Directory of a cached input set, building it with `write` (given a
    * scratch directory) when it is missing or fails `valid`. Keeps the
    * newest few sets. */
  def cached(work: File, kind: String, seed: Long, size: String, fingerprint: String)
      (write: String => Unit)(valid: String => Boolean): String = {
    val key = TextFunctions.sha256Hex(s"$kind|$seed|$size|$fingerprint").take(16)
    val root = new File(work, "inputs")
    val dir = new File(root, s"$kind-$key")
    if (!new File(dir, "_DONE").exists() || !valid(dir.getPath)) {
      val tmp = new File(root, s".tmp-$kind-$key")
      delete(tmp); delete(dir)
      write(tmp.getPath)
      java.nio.file.Files.createFile(new File(tmp, "_DONE").toPath)
      if (!tmp.renameTo(dir)) sys.error(s"cannot move $tmp to $dir")
    }
    dir.setLastModified(System.currentTimeMillis())
    Option(root.listFiles()).toSeq.flatten.filter(f => f.isDirectory && !f.getName.startsWith("."))
      .sortBy(-_.lastModified()).drop(6).foreach(delete)
    dir.getPath
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** The `code_files` corpus of CorpusGen, as parquet under `dir`. */
  def corpus(spark: SparkSession, work: File, seed: Long, nFiles: Int, scale: Int): String = {
    val fp = TextFunctions.sha256Hex((0L until 4L).map(i => CorpusGen.file(i, 42L, scale).content).mkString)
    cached(work, "corpus", seed, s"$nFiles-x$scale", fp) { dir =>
      import spark.implicits._
      spark.range(nFiles).map(i => CorpusGen.file(i, seed, scale))
        .repartition(4 * spark.sparkContext.defaultParallelism)
        .write.parquet(dir)
    }(dir => spark.read.parquet(dir).count() == nFiles)
  }

  /** `documents.parquet` in the shape the engine's table readers expect
    * (graft.core.Tables). */
  def tableDir(spark: SparkSession, work: File, seed: Long, nDocs: Int): String = {
    val fp = TextFunctions.sha256Hex(tables(7L, 64).toString)
    cached(work, "tables", seed, s"$nDocs", fp) { dir =>
      import spark.implicits._
      val t = tables(seed, nDocs)
      val parts = spark.sparkContext.defaultParallelism
      t.docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(parts).write.parquet(s"$dir/documents.parquet")
    }(dir => spark.read.parquet(s"$dir/documents.parquet").count() == nDocs)
  }
}
