package org.apache.spark.sql.graftaccess

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation}

/** Engine internals [[graft.pipeline.GraphLoop]] needs, reachable only
  * from inside the `org.apache.spark.sql` package. */
object Storage {
  /** A persisted relation's cache, compared by reference. */
  type Cache = AnyRef

  /** What an eager localCheckpoint does: computes the partitions with no
    * stored block (none, if a job already computed them), cuts lineage. */
  def materialize(rdd: RDD[_]): Unit = rdd.doCheckpoint()

  def cacheOf(df: DataFrame): Option[Cache] = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
  }

  /** The RDD a cache stores its blocks in, once a plan reading the cache
    * has executed (asking earlier would plan it). */
  def cacheRdd(cache: Cache): Option[RDD[_]] = cache match {
    case b: CachedRDDBuilder if b.isCachedColumnBuffersLoaded => Some(b.cachedColumnBuffers)
    case _ => None
  }

  /** The checkpoint RDDs and the caches a relation's plan reads. */
  def leaves(df: DataFrame): (Seq[RDD[_]], Seq[Cache]) = {
    val plan = df.asInstanceOf[ClassicDataset[_]].queryExecution.withCachedData
    (plan.collect { case l: LogicalRDD => l.rdd },
      plan.collect { case m: InMemoryRelation => m.cacheBuilder })
  }

  def checkpointRdd(df: DataFrame): RDD[_] =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.logical.asInstanceOf[LogicalRDD].rdd
}
