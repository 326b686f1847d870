package graft

import java.nio.file.Files

import graft.sources.WarehouseTable
import graft.util.GraftCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle guards for eager `localCheckpoint` blocks (r16 verdict
  * item 6): `Dataset.unpersist()` on a checkpointed Dataset is a SILENT
  * NO-OP (the persist lives on the RDD, not in the CacheManager), so
  * without RDD-handle release every merge flush and every iterative-op
  * round leaked one MEMORY_AND_DISK generation until ContextCleaner GC
  * — unbounded-until-GC memory in a long-lived session, and the block
  * pollution that reddened r16's final suite run.
  *
  * Every assertion here is ORDER-INDEPENDENT on the shared
  * SparkContext: blocks are identified by a direct RDD handle, by an
  * RDD-id watermark taken just before the op under test (never a
  * global forall over `getPersistentRDDs`), or by a DELTA on the
  * monotonic [[GraftCache.checkpointsFreed]] counter (concurrent
  * suites can only increase it).
  */
class CheckpointLifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def sc = spark.sparkContext

  test("Dataset.unpersist on a localCheckpoint is a no-op; RDD-handle release frees (the premise)") {
    val df = (1 to 100).toDF("x").localCheckpoint(true)
    val rdd = df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(rdd.getStorageLevel.useMemory && rdd.getStorageLevel.useDisk,
      s"localCheckpoint should persist MEMORY_AND_DISK: ${rdd.getStorageLevel}")
    df.unpersist(blocking = true)
    assert(rdd.getStorageLevel != StorageLevel.NONE,
      "premise broken: Dataset.unpersist now frees checkpoint blocks — " +
        "the GraftCache release layer may be removable")
    val before = GraftCache.checkpointsFreed
    GraftCache.releaseCheckpointOf(df)
    assert(rdd.getStorageLevel == StorageLevel.NONE,
      s"RDD-handle release left level ${rdd.getStorageLevel}")
    assert(GraftCache.checkpointsFreed >= before + 1)
  }

  test("releaseCheckpointOf is a safe no-op on plain (non-checkpoint) plans") {
    val plain = (1 to 10).toDF("x").select($"x" * 2 as "y")
    GraftCache.releaseCheckpointOf(plain) // must not throw
    assert(plain.count() == 10)
  }

  private val destSchema = StructType(Seq(
    StructField("k1", LongType),
    StructField("f1", StringType)))

  private def staged(rows: Seq[(Long, Option[String], Long, Int)]): DataFrame = {
    val df = rows.toDF("k", "v", "i", "day")
    df.select(
      struct($"k".as("k1")).as("key"),
      when($"v".isNotNull, struct($"v".as("f1"))).as("value"),
      $"i",
      to_timestamp(format_string("2024-01-%02d 12:00:00", $"day")).as("partitionTime"),
      lit(0L).as("batchNumber"))
  }

  test("a completed merge flush leaves no persistent RDD of its own behind") {
    val root = Files.createTempDirectory("wh-ckpt-lifecycle").toString + "/tbl"
    val t = WarehouseTable.create(spark, root, Seq("k1"), destSchema)
    def ts(day: Int) = to_timestamp(lit(f"2024-01-$day%02d 12:00:00"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(1)))
    // RDD ids grow monotonically per context: a persistent RDD above
    // this watermark was created by the flushes below (the batch cache)
    val mark = sc.emptyRDD[Int].id
    def leftBehind = sc.getPersistentRDDs.keys.filter(_ > mark).toSeq.sorted
    // two flushes (update + tombstone) — each must free what it
    // persisted the moment it completes, not rely on a later flush or GC
    t.merge(staged(Seq((1L, Some("a2"), 1L, 1), (3L, Some("c"), 2L, 1))))
    assert(leftBehind.isEmpty, s"flush 1 left persistent RDDs: $leftBehind")
    t.merge(staged(Seq((2L, None, 3L, 1))))
    assert(leftBehind.isEmpty, s"flush 2 left persistent RDDs: $leftBehind")
    // and the flushes were correct (update applied, insert added, delete applied)
    val rows = t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "a2", 3L -> "c"))
  }

  test("pageRank frees each superseded iteration's checkpoint (counter delta)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")
    val before = GraftCache.checkpointsFreed
    val ranks = graft.operators.GraphOps.pageRank(edges, iterations = 5)
    assert(ranks.count() == 4)
    // iterations 2..5 each free the previous round's checkpoint
    assert(GraftCache.checkpointsFreed >= before + 4,
      s"expected >= 4 freed generations, delta = ${GraftCache.checkpointsFreed - before}")
  }

  test("clusterPairs frees superseded label generations and the edge checkpoint") {
    // a 5-node path forces multiple label-propagation rounds
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id1", "id2")
    val before = GraftCache.checkpointsFreed
    val clusters = graft.llm.DedupOps.clusterPairs(pairs)
    assert(clusters.select("cluster_id").distinct().count() == 1)
    // >= 2 rounds of label release + the edges checkpoint at exit
    assert(GraftCache.checkpointsFreed >= before + 3,
      s"expected >= 3 freed checkpoints, delta = ${GraftCache.checkpointsFreed - before}")
  }
}
