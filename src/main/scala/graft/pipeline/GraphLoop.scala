package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.graftaccess.Storage
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/**
 * The scope every distributed graph loop of [[TopicGraph]] and
 * [[Redirects]] runs in. It owns the protocol those loops share, so an
 * op keeps only its round body, convergence action and cadence:
 *
 *  - EDGE CACHE: the edge relation is persisted and counted exactly;
 *    at or below the op's `localThreshold` its driver twin answers
 *    instead of the loop.
 *  - GRAPH PARALLELISM: ops whose rounds are shuffle-latency-bound run
 *    at spark.sql.shuffle.partitions = max(1, min(defaultParallelism,
 *    nEdges / 50000)), restored when the scope closes.
 *  - RELEASE: every persist and checkpoint a round makes is registered
 *    here and freed by [[release]] once superseded. A checkpoint is
 *    freed through its LogicalRDD's RDD: `Dataset.unpersist` does
 *    nothing for a localCheckpoint, whose blocks live at the RDD layer,
 *    not in the CacheManager. A registered lazy checkpoint whose
 *    lineage still reads a relation being freed is materialized first.
 *  - FINISH: the checkpoints the returned relation reads are
 *    materialized before the edge cache or any round is freed — the
 *    eager-final rule, so a lazy chain's rounds all stay lazy and its
 *    last one runs here while everything it reads is still cached.
 *    Those checkpoints are kept (the ContextCleaner frees them with the
 *    result); everything else is freed. A result that reads a
 *    registered persist is refused: the free would make it recompute.
 *
 * localCheckpoint blocks are executor-local, not fault-tolerant: long
 * cluster runs snapshot through [[Checkpoints.runStage]].
 */
final class GraphLoop private (op: String, val edges: DataFrame, val nEdges: Long,
    edgesCheckpointed: Boolean) {

  /** A registered relation: a checkpoint (its RDD) or a persist (its
    * cache, whose RDD exists once a plan over it has executed). */
  private final class Held(val df: DataFrame, rdd: RDD[_], cache: Storage.Cache) {
    def isCheckpoint: Boolean = rdd != null
    def unmaterialized: Boolean = isCheckpoint && !rdd.isCheckpointed
    def materialize(): Unit = Storage.materialize(rdd)
    def rddId: Option[Int] =
      if (isCheckpoint) Some(rdd.id)
      else Storage.cacheRdd(cache).map(_.id)
    def isCache(c: Storage.Cache): Boolean = cache eq c
    def free(): Unit = if (isCheckpoint) rdd.unpersist(blocking = false) else df.unpersist(false)
  }

  private val held = mutable.ArrayBuffer(if (edgesCheckpointed) checkpointed(edges) else persisted(edges))

  private def persisted(p: DataFrame): Held =
    new Held(p, null, Storage.cacheOf(p)
      .getOrElse(sys.error(s"GraphLoop($op): relation is not cached")))

  private def checkpointed(c: DataFrame): Held = new Held(c, Storage.checkpointRdd(c), null)

  /** Shuffle partitions the graph-parallel ops run their rounds at. */
  lazy val parallelism: Int = math.max(1, math.min(
    edges.sparkSession.sparkContext.defaultParallelism, (nEdges / 50000L).toInt))

  /** Persists a round's relation (MEMORY_AND_DISK) in this scope. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    held += persisted(p)
    p
  }

  /** localCheckpoints a round's relation in this scope. Lazy unless
    * `eager`: the round's own action, a later round or [[finish]]
    * materializes it. */
  def checkpoint(df: DataFrame, eager: Boolean = false): DataFrame = {
    val c = df.localCheckpoint(eager)
    held += checkpointed(c)
    c
  }

  /** Frees superseded relations now. Anything this scope did not
    * register (null, a projection of a registered relation) is ignored. */
  def release(dfs: DataFrame*): Unit = {
    val gone = held.filter(h => dfs.exists(_ eq h.df)).toSeq
    val ids = gone.flatMap(_.rddId).toSet
    held.reverseIterator
      .filter(h => h.unmaterialized && !gone.contains(h) && lineage(h.df).exists(ids))
      .foreach(_.materialize())
    held --= gone
    gone.foreach(_.free())
  }

  private def finish(result: DataFrame): Unit = {
    val unsettled = lineage(result)
    held.reverseIterator.filter(h => h.unmaterialized && h.rddId.exists(unsettled))
      .foreach(_.materialize())
    val reads = lineage(result)
    val caches = Storage.leaves(result)._2
    held.find(h => !h.isCheckpoint && (caches.exists(h.isCache) || h.rddId.exists(reads)))
      .foreach(_ => throw new IllegalStateException(s"GraphLoop($op): the result reads a " +
        "persisted loop relation, which closing the scope frees; checkpoint the result instead"))
    held.filterNot(_.rddId.exists(reads)).foreach(_.free())
    held.clear()
  }

  private def close(): Unit = { held.foreach(_.free()); held.clear() }

  /** Ids of the RDDs a relation's plan reads, through the lineage of
    * everything not yet checkpointed. */
  private def lineage(df: DataFrame): Set[Int] = {
    val seen = mutable.HashSet.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    val (rdds, caches) = Storage.leaves(df)
    rdds.foreach(walk)
    caches.flatMap(Storage.cacheRdd).foreach(walk)
    seen.toSet
  }
}

object GraphLoop {
  /**
   * Runs `body` in a scope over `edges`, which is persisted and counted
   * first — or, with `checkpointEdges`, eagerly localCheckpointed (the
   * ops whose rounds read the edge relation as a checkpoint, with the
   * partitions AQE coalesced it to; a cache keeps the planned count).
   * `twin` (the op's driver path) is tried when the count is at or below
   * `localThreshold`; a None falls through to the loop.
   * `graphParallelism` sets the loop's shuffle partitions (see the class
   * doc); `nonEmpty` refuses an empty edge relation. A DataFrame result
   * is finished (see the class doc); any other result frees the scope.
   */
  def apply[T](op: String, edges: DataFrame, localThreshold: Long = -1L,
      twin: DataFrame => Option[T] = (_: DataFrame) => None,
      graphParallelism: Boolean = false, nonEmpty: Boolean = false,
      checkpointEdges: Boolean = false)(body: GraphLoop => T): T = {
    val e = if (checkpointEdges) edges.localCheckpoint(eager = true)
      else edges.persist(StorageLevel.MEMORY_AND_DISK)
    val loop = new GraphLoop(op, e, e.count(), checkpointEdges)
    val conf = e.sparkSession.conf
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    try {
      require(!nonEmpty || loop.nEdges > 0, s"$op: empty edge relation")
      val out = Option.when(loop.nEdges <= localThreshold)(twin(e)).flatten.getOrElse {
        if (graphParallelism) conf.set("spark.sql.shuffle.partitions", loop.parallelism.toLong)
        body(loop)
      }
      out match {
        case d: Dataset[_] => loop.finish(d.toDF())
        case _ =>
      }
      out
    } finally {
      conf.set("spark.sql.shuffle.partitions", prevParts)
      loop.close()
    }
  }
}
