package graft

import graft.pipeline.GraphLoop
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftaccess.{SessionStorage, Storage}
import org.scalatest.funsuite.AnyFunSuite

/** The graph-loop scope: its release and finish rules called directly,
  * and the storage every distributed graph op leaves behind in one
  * long-running session. */
class GraphLoopSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def rddOf(df: DataFrame): RDD[_] = Storage.checkpointRdd(df)

  /** Ids of every RDD a relation's plan reads: its checkpoint and cache
    * RDDs and their lineage (cut wherever a checkpoint is materialized). */
  private def reads(df: DataFrame): Set[Int] = {
    val seen = scala.collection.mutable.HashSet.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    val (rdds, caches) = Storage.leaves(df)
    rdds.foreach(walk)
    caches.flatMap(Storage.cacheRdd).foreach(walk)
    seen.toSet
  }

  private def chain(n: Int): DataFrame =
    (0L until n).map(i => (i, i + 1)).toDF("src", "dst")

  test("release materializes a lazy checkpoint that still reads the freed round") {
    val got = GraphLoop("spec", chain(50)) { loop =>
      val r1 = loop.checkpoint(loop.edges.select(col("src"), (col("dst") * 2).as("dst")))
      assert(r1.count() == 50) // r1 materialized by its own action
      val r2 = loop.checkpoint(r1.select(col("src"), (col("dst") + 1).as("dst")))
      assert(!rddOf(r2).isCheckpointed)
      loop.release(r1)
      // r2 was computed while r1's blocks still existed, then r1 freed
      assert(rddOf(r2).isCheckpointed, "r2 not materialized before r1 was freed")
      assert(!SessionStorage.storedRddIds().contains(rddOf(r1).id), "r1's blocks were not freed")
      r2
    }
    assert(got.as[(Long, Long)].collect().toSet == (0L until 50).map(i => (i, 2 * i + 3)).toSet)
  }

  test("finish materializes the result's lazy chain before freeing the edge cache") {
    var rounds = Seq.empty[DataFrame]
    val got = GraphLoop("spec", chain(40)) { loop =>
      var cur = loop.edges
      for (_ <- 1 to 3) {
        cur = loop.checkpoint(cur.select(col("src"), (col("dst") + 1).as("dst")))
        rounds :+= cur
      }
      assert(rounds.forall(r => !rddOf(r).isCheckpointed)) // nothing ran yet
      cur
    }
    // the last round ran before the edge cache went; the superseded
    // rounds are freed, the returned one is kept
    assert(rddOf(got).isCheckpointed)
    val stored = SessionStorage.storedRddIds()
    assert(stored.contains(rddOf(got).id))
    assert(rounds.init.forall(r => !stored.contains(rddOf(r).id)), "superseded rounds kept")
    assert(Storage.cacheOf(chain(40)).isEmpty, "edge cache kept")
    assert(got.as[(Long, Long)].collect().toSet == (0L until 40).map(i => (i, i + 4)).toSet)
  }

  test("a result that reads a persisted loop relation is refused with a clear message") {
    val ex = intercept[IllegalStateException] {
      GraphLoop("spec", chain(10)) { loop => loop.persist(loop.edges.filter(col("src") > 2)) }
    }
    assert(ex.getMessage.contains("GraphLoop(spec): the result reads a persisted loop relation"))
    // and the refused scope still freed what it held
    assert(Storage.cacheOf(chain(10)).isEmpty)
  }

  test("driver twin at or below the threshold; graph parallelism set inside and restored") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val viaTwin = GraphLoop("spec", chain(5), localThreshold = 5L,
        twin = _ => Some(spark.range(1).toDF()), graphParallelism = true) { _ => fail("loop ran") }
    assert(viaTwin.count() == 1)
    val fallThrough = GraphLoop("spec", chain(5), localThreshold = 5L,
        twin = _ => None, graphParallelism = true) { loop =>
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "1") // 5 edges / 50000
      assert(loop.nEdges == 5)
      loop.checkpoint(loop.edges, eager = true)
    }
    assert(fallThrough.count() == 5)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    intercept[IllegalArgumentException] {
      GraphLoop("spec", chain(0), nonEmpty = true)(_.edges)
    }
  }

  test("whole session: each distributed graph op leaves stored only what its result reads") {
    // All ten forced-distributed graph queries in ONE session, no
    // System.gc: after each returns, every RDD that gained stored blocks
    // during the call and was created by the graph operators must be
    // read by the returned plan. Relations the query builds as the op's
    // INPUT (the simhash candidate checkpoint of q64/q97/q98) are the
    // caller's, not the op's, and are not counted.
    val d = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$d/documents.parquet").exists())
    val sc = spark.sparkContext
    def byGraphOps(id: Int): Boolean = sc.getPersistentRDDs.get(id).exists { r =>
      val stack = SessionStorage.creationStack(r)
      Seq("TopicGraph", "Redirects", "GraphLoop").exists(o => stack.contains(s"graft.pipeline.$o"))
    }
    var kept = 0
    val strays = SparkEntry.distGraphQueries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val before = SessionStorage.storedRddIds()
      val result = fn(spark, d)
      val left = (SessionStorage.storedRddIds() -- before).filter(byGraphOps)
      kept += left.size
      assert(result.count() >= 0, name)
      Option(left -- reads(result)).filter(_.nonEmpty).map(s => s"$name: ${s.size}")
    }
    assert(strays.isEmpty, s"stored RDDs the result does not read: ${strays.mkString(", ")}")
    // the filter sees the ops' own storage: the results' checkpoints
    assert(kept >= SparkEntry.distGraphQueries.size, s"only $kept op-created RDDs seen")
  }
}
