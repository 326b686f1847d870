package graft

import graft.sources.WarehouseTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Integration tests for the day-partitioned warehouse table and its
  * partition-pruned MERGE — the scale fix for the round-1 full-dest
  * rewrite (VERDICT "Scale-killers"). Mirrors the reference's
  * upsert/delete semantics with day-partition pruning
  * (`MergeQueries.java:176-243, 429-452`).
  */
class WarehouseTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("wh-test").toString + "/tbl"

  private val destSchema = StructType(Seq(
    StructField("k1", LongType),
    StructField("f1", StringType)))

  /** day-d timestamp for partition routing */
  private def ts(day: Int) = to_timestamp(lit(f"2024-01-$day%02d 12:00:00"))

  private def mkTable(root: String) =
    WarehouseTable.create(spark, root, Seq("k1"), destSchema)

  /** staged batch builder: (key, value-or-null, i, day) */
  private def staged(rows: Seq[(Long, Option[String], Long, Int)]): DataFrame = {
    val df = rows.toDF("k", "v", "i", "day")
    df.select(
      struct($"k".as("k1")).as("key"),
      when($"v".isNotNull, struct($"v".as("f1"))).as("value"),
      $"i",
      to_timestamp(format_string("2024-01-%02d 12:00:00", $"day")).as("partitionTime"),
      lit(0L).as("batchNumber"))
  }

  test("append routes rows to date(partitionTime) partitions") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((3L, "c")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    assert(t.listDays() == Seq("2024-01-01", "2024-01-02"))
    assert(t.read().count() == 3)
    assert(t.read().where($"_pday" === "2024-01-02").select($"k1").as[Long].collect().toSeq == Seq(3L))
  }

  test("append dedups on kafka coordinates when present (idempotent insert)") {
    val root = tmpRoot()
    val t = mkTable(root)
    val batch = Seq(
      ("t", 0, 100L, 1L, "a"), ("t", 0, 100L, 1L, "a-dup"), ("t", 0, 101L, 2L, "b"))
      .toDF("topic", "partition", "offset", "k1", "f1")
      .withColumn("partitionTime", ts(1))
    t.append(batch)
    assert(t.read().count() == 2)
  }

  test("readDays plans only the requested partitions' files") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    t.append(Seq((3L, "c")).toDF("k1", "f1").withColumn("partitionTime", ts(3)))
    val pruned = t.readDays(Seq("2024-01-02"))
    assert(pruned.inputFiles.nonEmpty)
    assert(pruned.inputFiles.forall(_.contains("_pday=2024-01-02")))
  }

  test("read().where(_pday) shows PartitionFilters in the physical plan") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    val plan = t.read().where($"_pday" === "2024-01-01")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no PartitionFilters in:\n$plan")
    assert(plan.contains("_pday"), s"partition col missing from filters:\n$plan")
  }

  test("zone maps: prune by range, self-heal after append and merge, null/string/gate cases") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((10L, "c")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    t.append(Seq((20L, null.asInstanceOf[String])).toDF("k1", "f1")
      .withColumn("partitionTime", ts(3)))
    // numeric pruning: [1,2] lives only in day 1
    assert(t.rangeCandidateDays("k1", 1L, 2L) == Seq("2024-01-01"))
    assert(t.readRange("k1", 1L, 2L).select($"k1").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
    // string column works; day 3's all-null f1 can never match a range
    assert(t.rangeCandidateDays("f1", "a", "b") == Seq("2024-01-01"))
    assert(t.rangeCandidateDays("f1", "a", "z") == Seq("2024-01-01", "2024-01-02"))
    // self-healing: append into day 1 moves its fingerprint — the next
    // probe must see the new max without any write-path hook
    t.append(Seq((99L, "zz")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    assert(t.rangeCandidateDays("k1", 50L, 100L) == Seq("2024-01-01"))
    assert(t.readRange("k1", 50L, 100L).select($"k1").as[Long].head() == 99L)
    // a merge rewrites day files in place — stale maps must not prune
    // against the pre-merge extremes
    t.merge(staged(Seq((10L, Some("c2"), 1L, 2))))
    // day 2's only value moved c → c2: a probe for the OLD value must
    // no longer see day 2 (day 1's [a, zz] still covers "c" — zone maps
    // are conservative), and the new value must
    assert(t.rangeCandidateDays("f1", "c", "c") == Seq("2024-01-01"))
    assert(t.rangeCandidateDays("f1", "c2", "c2").contains("2024-01-02"))
    // gates
    intercept[IllegalArgumentException](t.dayZoneMaps("nope"))
    // vacuum sweeps sidecars of days that disappeared (tombstone empties
    // day 3); live days' sidecars survive
    t.merge(staged(Seq((20L, None, 9L, 3))))
    assert(!t.listDays().contains("2024-01-03"))
    t.vacuum(retainVersions = 100)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_graft/zonemaps/k1/2024-01-03.props")),
      "orphan zone map not swept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_graft/zonemaps/k1/2024-01-01.props")),
      "live day's zone map must survive vacuum")
  }

  test("zone maps: NaN/Infinity double bounds never throw — unparseable " +
      "stats prove nothing and the day is conservatively kept") {
    val root = tmpRoot()
    val t = WarehouseTable.create(spark, root, Seq("k1"), StructType(Seq(
      StructField("k1", LongType), StructField("v", DoubleType))))
    // day 1: finite values; day 2: NaN and +Infinity poison the min/max
    t.append(Seq((1L, 1.5), (2L, 2.5)).toDF("k1", "v")
      .withColumn("partitionTime", ts(1)))
    t.append(Seq((3L, Double.NaN), (4L, Double.PositiveInfinity))
      .toDF("k1", "v").withColumn("partitionTime", ts(2)))
    // BigDecimal("NaN") / BigDecimal("Infinity") would throw — the prune
    // must survive and keep day 2 (can't prove disjointness), while day
    // 1's finite bounds still prune normally
    val days = t.rangeCandidateDays("v", 10.0, 20.0)
    assert(days == Seq("2024-01-02"), s"got $days")
    assert(t.rangeCandidateDays("v", 1.0, 2.0).contains("2024-01-01"))
    // the read stays correct: the row-level residual filters day 2 out
    assert(t.readRange("v", 10.0, 20.0).count() == 0L)
  }

  test("merge: upsert + insert land correctly; untouched partitions not rewritten") {
    val root = tmpRoot()
    val t = mkTable(root)
    // seed: day1 {k=1,a}, day2 {k=2,b}, day3 {k=3,c}
    t.append(Seq((1L, "a")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    t.append(Seq((3L, "c")).toDF("k1", "f1").withColumn("partitionTime", ts(3)))
    val day3File = t.readDays(Seq("2024-01-03")).inputFiles.toSeq.sorted

    // batch on day2: update k=2, insert k=10
    val days = t.merge(staged(Seq(
      (2L, Some("b2"), 1L, 2), (10L, Some("x"), 2L, 2))))
    // scan set = day2 only (k=2 bloom-hits day2 itself; k=10 nowhere)
    assert(days == Seq("2024-01-02"))

    val state = t.read().select($"k1", $"f1", $"_pday").as[(Long, String, String)]
      .collect().toSet
    assert(state == Set(
      (1L, "a", "2024-01-01"),
      (2L, "b2", "2024-01-02"),
      (10L, "x", "2024-01-02"),
      (3L, "c", "2024-01-03")))
    // day3 files untouched byte-for-byte (same file list)
    assert(t.readDays(Seq("2024-01-03")).inputFiles.toSeq.sorted == day3File)
  }

  test("shallowCloneTo: zero-copy clone reads equal, then diverges both ways safely") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((3L, "c")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    val cloneRoot = tmpRoot()
    val c = t.shallowCloneTo(cloneRoot)
    def state(x: WarehouseTable) = x.read().select($"k1", $"f1")
      .as[(Long, String)].collect().toSet
    assert(state(c) == state(t))
    // zero-copy on local fs: the clone's data file is a hardlink
    val aFile = java.nio.file.Paths.get(
      c.readDays(Seq("2024-01-01")).inputFiles.head.stripPrefix("file:"))
    val links = java.nio.file.Files.getAttribute(aFile, "unix:nlink")
      .asInstanceOf[Number].intValue
    assert(links >= 2, s"expected a hardlink, nlink=$links")
    // clone has a fresh lineage: exactly the baseline clone commit
    assert(c.history().map(_._2) == Seq("clone"))
    // write to the CLONE: source must not move
    c.merge(staged(Seq((2L, Some("b2"), 1L, 1), (9L, Some("z"), 2L, 1))))
    assert(state(c) == Set((1L, "a"), (2L, "b2"), (3L, "c"), (9L, "z")))
    assert(state(t) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // write to the SOURCE: clone must not move
    t.append(Seq((7L, "q")).toDF("k1", "f1").withColumn("partitionTime", ts(3)))
    assert(state(t) == Set((1L, "a"), (2L, "b"), (3L, "c"), (7L, "q")))
    assert(!state(c).contains((7L, "q")))
    // compacting the source rewrites its files; the clone keeps reading
    t.compactPartitions()
    assert(state(c) == Set((1L, "a"), (2L, "b2"), (3L, "c"), (9L, "z")))
    // destination-already-a-table is rejected
    intercept[IllegalArgumentException](t.shallowCloneTo(cloneRoot))
  }

  test("merge: update finds key in an older partition via bloom (no cross-day dup)") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "old")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    // batch day5 updates k=1 (which lives in day1)
    val days = t.merge(staged(Seq((1L, Some("new"), 1L, 5))))
    // scan set must include day1 (bloom hit); day2 may or may not be probed in
    assert(days.contains("2024-01-01"))
    assert(!days.contains("2024-01-02") || days == Seq("2024-01-01", "2024-01-02", "2024-01-05"))
    val state = t.read().select($"k1", $"f1", $"_pday").as[(Long, String, String)]
      .collect().toSet
    // row stays in its original partition (BigQuery UPDATE never moves rows)
    assert(state == Set((1L, "new", "2024-01-01"), (2L, "b", "2024-01-02")))
  }

  test("union bloom: key from the FIRST of two same-day appends still bloom-hits") {
    // pins the incremental bloom-union path: the second append merges its
    // batch bloom into day1's existing bloom instead of rebuilding — if
    // the union under-approximated (lost the first batch's keys), this
    // cross-day update would miss day1 and duplicate k=1
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "old")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((7L, "z")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    val days = t.merge(staged(Seq((1L, Some("new"), 1L, 5))))
    assert(days.contains("2024-01-01"))
    val state = t.read().select($"k1", $"f1", $"_pday").as[(Long, String, String)]
      .collect().toSet
    assert(state == Set((1L, "new", "2024-01-01"), (7L, "z", "2024-01-01")))
  }

  test("merge-path bloom union: superset survives deletes; rebuild cadence tightens stale bits") {
    val root = tmpRoot()
    val t = mkTable(root)
    // day1 holds k=1..3 in one file and k=4 in a second; day2 holds k=9
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((4L, "d")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((9L, "z")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    def day1Files(): Set[String] = t.readDays(Seq("2024-01-01")).inputFiles
      .map(_.split('/').last).toSet
    // v4: tombstone k=3 from a day-5 batch — union path (default
    // cadence): day1 is rewritten without k=3, but its bloom keeps
    // k=3 as a stale bit (the union never removes)
    t.merge(staged(Seq((3L, None, 1L, 5))))
    assert(t.read().select($"k1").as[Long].collect().toSet == Set(1L, 2L, 4L, 9L))
    // superset invariant: an update to k=1 still finds day1
    val days1 = t.merge(staged(Seq((1L, Some("a2"), 2L, 5))))
    assert(days1.contains("2024-01-01"))
    // stale bit observable: deleting the ALREADY-GONE k=3 still pulls
    // day1 into the scan set — over-approximation, never under
    val days2 = t.merge(staged(Seq((3L, None, 3L, 5))))
    assert(days2.contains("2024-01-01"))
    // exact-rebuild cadence: force rebuild-every-commit, touch day1,
    // and the same probe no longer scans day1 (stale k=3 bit gone)
    // — without rewriting the whole day: the file holding only k=4
    // carries forward under its own name
    sys.props("graft.bloomRebuildEvery") = "1"
    try {
      val k4File = t.read().where($"k1" === 4L).select(input_file_name())
        .head().getString(0).split('/').last
      val before = day1Files()
      assert(before.size == 2 && before.contains(k4File), s"day1 files: $before")
      t.merge(staged(Seq((1L, Some("a3"), 4L, 5))))
      val after = day1Files()
      assert(after.contains(k4File) && after.size == 2 && after != before,
        s"tightening flush rewrote unmatched files: $before -> $after")
      val days3 = t.merge(staged(Seq((3L, None, 5L, 5))))
      assert(!days3.contains("2024-01-01"),
        s"day1 bloom should have been rebuilt exact (no stale k=3): $days3")
    } finally sys.props -= "graft.bloomRebuildEvery"
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a3"), (2L, "b"), (4L, "d"), (9L, "z")))
  }

  test("appendBatch replay of a COMMITTED batch is a durable no-op") {
    val root = tmpRoot()
    val t = mkTable(root)
    val batch = Seq((1L, "a"), (2L, "b")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(1))
    t.appendBatch(batch, 42L)
    val v = t.currentVersion
    val rows = t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b")))
    // replay with the marker present: nothing happens
    t.appendBatch(batch, 42L)
    assert(t.currentVersion == v, "marker replay must not commit")
    // crash window: marker lost but the snapshot committed — the replay
    // must detect the batch in the CURRENT manifest, NOT re-land files
    // (re-landing would orphan snapshot v's manifest, which references
    // the original file names — the soak-found corruption)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_graft/batches/b42"), false)
    t.appendBatch(batch, 42L)
    assert(t.currentVersion == v, "manifest-check replay must not commit")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_graft/batches/b42")),
      "manifest-check replay must restore the marker")
    assert(t.readAsOf(v).select($"k1", $"f1").as[(Long, String)].collect().toSet == rows,
      "snapshot v must remain fully readable after the replay")
    assert(t.read().count() == 2, "no duplicated rows after replays")
    // a NEW batch still appends normally
    t.appendBatch(Seq((3L, "c")).toDF("k1", "f1").withColumn("partitionTime", ts(1)), 43L)
    assert(t.read().count() == 3)
  }

  test("appendBatch marker directory is bounded by the sliding window") {
    // one marker per micro-batch forever is unbounded metadata growth;
    // a batch 64 ids back can never replay (its checkpoint committed
    // long ago), so its marker is swept on the current commit
    val root = tmpRoot()
    val t = mkTable(root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(s"$root/_graft/batches/b36")
    fs.mkdirs(old.getParent)
    val os = fs.create(old); os.writeBytes("committed"); os.close()
    t.appendBatch(Seq((1L, "a")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(1)), 100L)
    assert(!fs.exists(old), "marker 64 ids back must be swept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_graft/batches/b100")),
      "the committed batch's own marker must exist")
  }

  test("insertNewOnly history-probe I/O is bloom-pruned to candidate days (measured file selection)") {
    // the doc's 100 TB claim, measured with the scan operator's own
    // selection metrics (files chosen AFTER pruning): a probe whose
    // keys live in ONE of 8 days must select ~1/8 of the table's file
    // bytes, and an all-fresh batch (no true bloom hit) selects at
    // most fp days. fpp=0.01 blooms can flag extra days — the bounds
    // leave room for a couple. Column pruning to the key columns is
    // pinned via the probe scan's captured read schema.
    val root = tmpRoot()
    val wideSchema = StructType(Seq(
      StructField("k1", LongType), StructField("payload", StringType)))
    val t = WarehouseTable.create(spark, root, Seq("k1"), wideSchema)
    // 8 days x 20k rows, ~192B incompressible payload per row
    val seed = spark.range(160000L).select(
      $"id".as("k1"),
      concat((0 until 6).map(i =>
        md5(concat($"id".cast("string"), lit(s":p$i")))): _*).as("payload"),
      to_timestamp(format_string("2024-01-%02d 12:00:00",
        ($"id" % 8 + 1).cast("int"))).as("partitionTime"))
    t.append(seed)

    val (_, mFull) = ScanMetrics.selectedByQueries(spark) {
      t.read().agg(sum(length($"payload"))).collect(); ()
    }
    // 50 keys that live in day 3 (id % 8 == 2) + 50 fresh keys: the
    // probe must scan day 3, drop the 50 dupes, append the 50 fresh
    val probeBatch = spark.range(50L)
      .select(($"id" * 8 + 2).as("k1"))
      .unionByName(spark.range(50L).select(($"id" + 1000000L).as("k1")))
      .select($"k1",
        concat((0 until 6).map(i =>
          md5(concat($"k1".cast("string"), lit(s":q$i")))): _*).as("payload"),
        to_timestamp(lit("2024-01-03 12:00:00")).as("partitionTime"))
    val before = t.read().count()
    val (_, mProbe) = ScanMetrics.selectedByQueries(spark) {
      t.insertNewOnly(probeBatch); ()
    }
    assert(t.read().count() == before + 50, "insert-if-absent semantics broke")
    info(f"history-probe selection: full ${mFull.fileBytes / 1024}%d KiB " +
      f"(${mFull.numFiles} files), probe ${mProbe.fileBytes / 1024}%d KiB " +
      f"(${mProbe.numFiles} files, ratio ${mProbe.fileBytes.toDouble / mFull.fileBytes}%.3f)")
    assert(mProbe.fileBytes > 0, "scan metrics captured nothing — vacuous")
    // 1 true day + room for ~2 fp days = 3/8; anything near 1.0 means
    // the bloom probe stopped pruning
    assert(mProbe.fileBytes < mFull.fileBytes * 3 / 8,
      f"history probe selected ${mProbe.fileBytes.toDouble / mFull.fileBytes}%.2fx " +
        "of a full scan — bloom day-pruning is not bounding probe I/O")
    // ...and the candidate-day scan itself is COLUMN-pruned to the key:
    // at 100 TB the payload is the table, so reading it would void the
    // day-pruning win
    assert(mProbe.readSchemas.exists(_ == Seq("k1")),
      s"no key-only scan in the probe — read schemas: ${mProbe.readSchemas}")

    // all-fresh batch: no true bloom hit — at most fp days selected
    val freshBatch = spark.range(10L)
      .select(($"id" + 2000000L).as("k1"),
        lit("x").as("payload"),
        to_timestamp(lit("2024-01-05 12:00:00")).as("partitionTime"))
    val (_, mFresh) = ScanMetrics.selectedByQueries(spark) {
      t.insertNewOnly(freshBatch); ()
    }
    info(f"all-fresh probe selection: ${mFresh.fileBytes / 1024}%d KiB " +
      f"(${mFresh.numFiles} files)")
    assert(mFresh.fileBytes < mFull.fileBytes * 2 / 8,
      "a no-hit batch selected more than fp-level data files")
  }

  test("readRange and merge dest scans are partition-pruned (measured file selection)") {
    // two more pruning claims, measured like the insertNewOnly probe:
    // (1) readRange enters ONLY the zone-map-candidate days into the
    // scan plan; a range matching nothing selects zero files;
    // (2) merge scans only batch-day + bloom-candidate dest partitions
    // — the s6 headline's core claim ("dest never fully scanned").
    val root = tmpRoot()
    val wideSchema = StructType(Seq(
      StructField("k1", LongType), StructField("v", LongType),
      StructField("payload", StringType)))
    val t = WarehouseTable.create(spark, root, Seq("k1"), wideSchema)
    // 8 days x 10k rows; v ranges are day-disjoint: day d+1 holds
    // [d*10000, d*10000+9999]
    val seed = spark.range(80000L).select(
      $"id".as("k1"),
      (($"id" % 8) * 10000 + expr("id div 8")).as("v"),
      concat((0 until 6).map(i =>
        md5(concat($"id".cast("string"), lit(s":p$i")))): _*).as("payload"),
      to_timestamp(format_string("2024-01-%02d 12:00:00",
        ($"id" % 8 + 1).cast("int"))).as("partitionTime"))
    t.append(seed)

    val (_, mFull) = ScanMetrics.selectedByQueries(spark) {
      t.read().agg(sum(length($"payload"))).collect(); ()
    }
    // first range read builds the v zone maps (one amortized all-days
    // v-column scan) — warm OUTSIDE the capture, measure the steady state
    t.readRange("v", 0L, 1L).count()
    // range inside day 4's v interval (v = 3*10000 + i)
    val (hit, mRange) = ScanMetrics.selectedByQueries(spark) {
      t.readRange("v", 30100L, 30200L).count()
    }
    assert(hit == 101L, s"range read returned $hit rows, expected 101")
    info(f"readRange selection: ${mRange.fileBytes / 1024}%d KiB of " +
      f"${mFull.fileBytes / 1024}%d KiB " +
      f"(ratio ${mRange.fileBytes.toDouble / mFull.fileBytes}%.3f)")
    // exactly one of 8 near-equal days; /6 absorbs parquet size jitter
    assert(mRange.fileBytes > 0 && mRange.fileBytes < mFull.fileBytes / 6,
      "zone maps did not prune the range read to its single candidate day")
    // a range between days' intervals... every interval is contiguous
    // per day here, so use one past the table's max
    val (miss, mMiss) = ScanMetrics.selectedByQueries(spark) {
      t.readRange("v", 900000L, 990000L).count()
    }
    assert(miss == 0L && mMiss.fileBytes == 0L,
      s"no-candidate range still selected ${mMiss.fileBytes} file bytes")

    // merge: staged batch touching ONLY day 3 keys (k1 % 8 == 2) —
    // dest scan must select day 3, not the table
    val batch = spark.range(100L).select(
      struct(($"id" * 8 + 2).as("k1")).as("key"),
      struct(($"id" + 5000000L).as("v"), lit("upd").as("payload")).as("value"),
      $"id".as("i"),
      to_timestamp(lit("2024-01-03 12:00:00")).as("partitionTime"),
      lit(0L).as("batchNumber"))
    val (_, mMerge) = ScanMetrics.selectedByQueries(spark) {
      t.merge(batch); ()
    }
    info(f"merge dest selection: ${mMerge.fileBytes / 1024}%d KiB of " +
      f"${mFull.fileBytes / 1024}%d KiB " +
      f"(ratio ${mMerge.fileBytes.toDouble / mFull.fileBytes}%.3f)")
    // 1 batch day + room for a couple of bloom fp days
    assert(mMerge.fileBytes < mFull.fileBytes * 3 / 8,
      f"merge selected ${mMerge.fileBytes.toDouble / mFull.fileBytes}%.2fx " +
        "of the dest — candidate-day pruning is not bounding the rewrite")
    assert(t.read().where($"v" === 5000000L).count() == 1L,
      "merge update did not land")
  }

  test("bulk-append bloom path (above the hash-collect byte gate) stays probe-correct") {
    // force the distributed-aggregation branch that big seed loads take:
    // the same cross-day update probe must still find the key, proving
    // the aggregate-built and driver-built blooms are interchangeable
    sys.props("graft.appendHashCollectMaxBytes") = "0"
    try {
      val root = tmpRoot()
      val t = mkTable(root)
      t.append(Seq((1L, "old"), (2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
      t.appendBatch(
        Seq((5L, "e")).toDF("k1", "f1").withColumn("partitionTime", ts(2)), 7L)
      val days = t.merge(staged(Seq((1L, Some("new"), 1L, 5), (5L, Some("e2"), 2L, 6))))
      assert(days.contains("2024-01-01") && days.contains("2024-01-02"))
      assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
        Set((1L, "new"), (2L, "b"), (5L, "e2")))
    } finally sys.props -= "graft.appendHashCollectMaxBytes"
  }

  test("broadcast merge plan and shuffle fallback produce identical state") {
    def state(df: DataFrame): Set[(Long, Option[String], String)] =
      df.select($"k1", $"f1", $"_pday".cast("string"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getString(1)), r.getString(2))).toSet
    val seed = Set((1L, Some("a"), "2024-01-01"), (2L, Some("b"), "2024-01-01"),
      (3L, Some("c"), "2024-01-01"))
    // the seed lands by append, or by a first merge into the freshly
    // created table (CURRENT=0, no manifest to carry forward from)
    def runMerge(maxRows: Long, seedByMerge: Boolean): Set[(Long, Option[String], String)] = {
      val root = tmpRoot()
      val t = mkTable(root)
      if (seedByMerge) {
        assert(t.currentVersion == 0L)
        t.merge(staged(Seq((1L, Some("a"), 1L, 1), (2L, Some("b"), 1L, 1),
          (3L, Some("c"), 1L, 1))), broadcastMaxRows = maxRows)
        assert(t.currentVersion == 1L && state(t.readAsOf(1L)) == seed)
      } else t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k1", "f1")
        .withColumn("partitionTime", ts(1)))
      // update k1, delete k2, insert k4; k5 tombstone-for-absent-key
      t.merge(staged(Seq(
        (1L, Some("a2"), 1L, 5), (2L, None, 2L, 5),
        (4L, Some("d"), 3L, 6), (5L, None, 4L, 6))), delete = true,
        broadcastMaxRows = maxRows)
      assert(state(t.readAsOf(t.currentVersion - 1)) == seed,
        "pre-merge snapshot no longer reads the seed")
      state(t.read())
    }
    val broadcastState = runMerge(maxRows = Long.MaxValue, seedByMerge = false)
    val shuffleState = runMerge(maxRows = 0L, seedByMerge = false) // full-outer plan
    assert(broadcastState == shuffleState, "merge plans diverged")
    assert(runMerge(Long.MaxValue, seedByMerge = true) == broadcastState,
      "first merge into a fresh table diverged")
    assert(runMerge(0L, seedByMerge = true) == broadcastState,
      "first whole-day merge into a fresh table diverged")
    assert(broadcastState == Set(
      (1L, Some("a2"), "2024-01-01"), (3L, Some("c"), "2024-01-01"),
      (4L, Some("d"), "2024-01-06")))
  }

  test("multi-field keys don't alias in the bloom probe (\\u0001 separator)") {
    // ("ab","c") vs ("a","bc") concatenate identically without a separator;
    // with  the batch key must NOT pull day1 into the scan set
    val root = tmpRoot()
    val schema2 = StructType(Seq(
      StructField("ka", StringType), StructField("kb", StringType),
      StructField("f1", StringType)))
    val t = WarehouseTable.create(spark, root, Seq("ka", "kb"), schema2)
    t.append(Seq(("ab", "c", "old")).toDF("ka", "kb", "f1")
      .withColumn("partitionTime", ts(1)))
    val batch = Seq(("a", "bc", "new", 1L)).toDF("a", "b", "v", "i").select(
      struct($"a".as("ka"), $"b".as("kb")).as("key"),
      struct($"v".as("f1")).as("value"),
      $"i", ts(5).as("partitionTime"), lit(0L).as("batchNumber"))
    val days = t.merge(batch)
    assert(days == Seq("2024-01-05"), s"aliasing pulled extra partitions: $days")
    assert(t.read().count() == 2) // distinct keys → insert, not update
  }

  test("merge: tombstone deletes; emptied partition disappears") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    t.merge(staged(Seq((1L, None, 1L, 3))))
    assert(t.read().select($"k1").as[Long].collect().toSeq == Seq(2L))
    assert(t.listDays() == Seq("2024-01-02"))
  }

  test("merge(delete = false): a tombstone's null-value insert joins its day's bloom") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    // with deletes off a tombstone for an absent key inserts a
    // null-value row into its slice day (the full-outer plan's behavior)
    t.merge(staged(Seq((7L, None, 1L, 3))), delete = false)
    // a later update of that key from another day must find day 3
    val days = t.merge(staged(Seq((7L, Some("x"), 2L, 5))), delete = false)
    assert(days.contains("2024-01-03"), s"day 3 not probed: $days")
    assert(t.read().select($"k1", $"f1", $"_pday").as[(Long, String, String)]
      .collect().toSet == Set((1L, "a", "2024-01-01"), (7L, "x", "2024-01-03")))
  }

  test("merge: last-write-wins within batch (A1) before the join") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.merge(staged(Seq(
      (1L, Some("v1"), 1L, 1), (1L, Some("v2"), 2L, 1), (1L, None, 3L, 1),
      (2L, Some("w1"), 1L, 1), (2L, None, 2L, 1), (2L, Some("w3"), 3L, 1))))
    val state = t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet
    // k=1 latest is tombstone → absent; k=2 latest is w3
    assert(state == Set((2L, "w3")))
  }

  test("merge equals unpruned MergeOps result on a multi-day table") {
    val root = tmpRoot()
    val t = mkTable(root)
    // seed 3 days × 10 keys
    (1 to 3).foreach { d =>
      t.append((0 until 10).map(i => (d * 100L + i, s"s$d$i")).toDF("k1", "f1")
        .withColumn("partitionTime", ts(d)))
    }
    val batch = staged(
      (0 until 10).map(i => (100L + i, if (i % 3 == 0) None else Some(s"u$i"), i.toLong, 5)) ++
        (0 until 5).map(i => (900L + i, Some(s"n$i"), 100L + i, 6)))
    val expect = graft.operators.MergeOps.upsertDelete(
      t.read().select($"k1", $"f1"), batch.select($"key", $"value", $"i"))
      .as[(Long, String)].collect().toSet
    t.merge(batch)
    val got = t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet
    assert(got == expect)
  }

  test("mergeDeleteOnly: fence + delete + plain insert, duplicates allowed") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    // batch day3: k=1 value then tombstone (fence keeps only the tombstone),
    // k=2 insert (already present → duplicate allowed), k=5 new insert
    t.mergeDeleteOnly(staged(Seq(
      (1L, Some("x"), 1L, 3), (1L, None, 2L, 3),
      (2L, Some("b2"), 3L, 3), (5L, Some("n"), 4L, 3))))
    val state = t.read().select($"k1", $"f1").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(!state.contains(1L))                  // deleted by surviving tombstone
    assert(state(2L) == Set("b", "b2"))          // duplicate rows allowed
    assert(state(5L) == Set("n"))
  }

  test("clustering: files within a partition cover disjoint key ranges") {
    val root = tmpRoot()
    val t = WarehouseTable.create(spark, root, Seq("k1"), destSchema,
      graft.sources.TableOptions(clusteringFields = Seq("k1")))
    val rows = spark.range(4000).select(
      (rand(7) * 100000).cast("long").as("k1"),
      lit("x").as("f1"), ts(1).as("partitionTime"))
    // tiny test data would AQE-coalesce to one range partition; force the
    // configured fan-out so there are multiple files to check
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try t.append(rows)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val files = t.read().inputFiles.toSeq
    assert(files.size >= 2, s"need multiple files to prove skipping, got $files")
    // per-file [min,max] of the clustering key must be pairwise disjoint
    // — that is exactly what parquet row-group stats skipping needs
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"k1"), max($"k1")).collect().head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
  }

  test("insertNewOnly: existing keys dropped, old partitions untouched, replay idempotent") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(1)))
    val day1Files = t.readDays(Seq("2024-01-01")).inputFiles.toSet
    val batch = Seq((2L, "b2"), (3L, "c")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(2))
    t.insertNewOnly(batch)
    val state = t.read().select($"k1", $"f1", $"_pday".cast("string"))
      .as[(Long, String, String)].collect().toSet
    // key 2 already exists → dropped (first write wins); key 3 inserts
    assert(state == Set((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
      (3L, "c", "2024-01-02")))
    // insert-only: day1's files were not rewritten
    assert(t.readDays(Seq("2024-01-01")).inputFiles.toSet == day1Files)
    // replay of the same batch converges (content-keyed idempotence)
    t.insertNewOnly(batch)
    assert(t.read().count() == 3)
  }

  test("ZOrder.interleaveBits and bucketOf golden values") {
    import graft.sources.ZOrder
    // 3 = 011b, 5 = 101b; interleave (bit i of col c -> z bit i*2+c):
    // z = 1<<0 | 1<<1 | 1<<2 | 0<<3 | 0<<4 | 1<<5 = 39
    val z = spark.range(1).select(
      ZOrder.interleaveBits(Seq(lit(3), lit(5)), bits = 3).as("z"))
      .as[Long].head()
    assert(z == 39L, s"interleave(3,5) = $z, want 39")
    val buckets = Seq((5.0, 0), (10.0, 1), (15.0, 1), (20.0, 2), (25.0, 2))
    buckets.foreach { case (v, want) =>
      val got = spark.range(1).select(
        ZOrder.bucketOf(lit(v), Seq(10.0, 20.0)).as("b")).as[Int].head()
      assert(got == want, s"bucketOf($v) = $got, want $want")
    }
    val nullBucket = spark.range(1).select(
      ZOrder.bucketOf(lit(null).cast("double"), Seq(10.0, 20.0)).as("b"))
      .as[Int].head()
    assert(nullBucket == 0, "null must land in bucket 0")
  }

  test("ZORDER layout: non-leading clustering field skips files; LINEAR cannot") {
    val schema2 = StructType(Seq(
      StructField("k1", LongType), StructField("k2", LongType),
      StructField("f1", StringType)))
    // 64x64 grid over (k1, k2), one day partition
    val grid = spark.range(4096).select(
      ($"id" / 64).cast("long").as("k1"),
      ($"id" % 64).cast("long").as("k2"),
      lit("x").as("f1"), ts(1).as("partitionTime"))
    def filesAndOverlap(layout: String): (Int, Int) = {
      val root = tmpRoot()
      val t = WarehouseTable.create(spark, root, Seq("k1"), schema2,
        graft.sources.TableOptions(clusteringFields = Seq("k1", "k2"),
          layout = layout))
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try t.append(grid)
      finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      val files = t.read().inputFiles.toSeq
      // files a `k2 BETWEEN 0 AND 7` scan cannot skip via min/max stats
      val overlapping = files.count { f =>
        val r = spark.read.parquet(f).agg(min($"k2"), max($"k2")).collect().head
        r.getLong(0) <= 7 && r.getLong(1) >= 0
      }
      (files.size, overlapping)
    }
    val (linFiles, linOverlap) = filesAndOverlap("LINEAR")
    val (zFiles, zOverlap) = filesAndOverlap("ZORDER")
    assert(linFiles >= 4 && zFiles >= 4, s"need several files: $linFiles / $zFiles")
    // linear layout sorts by (k1, k2): every file spans the k2 domain
    assert(linOverlap == linFiles, s"expected zero k2-skipping under LINEAR " +
      s"($linOverlap of $linFiles)")
    // z-order: only the files whose k2 hyper-rectangle touches [0,7] remain
    assert(zOverlap < zFiles,
      s"ZORDER skipped nothing on k2 ($zOverlap of $zFiles)")
    assert(zOverlap.toDouble / zFiles < 0.7,
      s"ZORDER skipping too weak: $zOverlap of $zFiles files overlap")
  }

  test("ZORDER survives open(); validation rejects 1-field and string-typed z-order") {
    val schema2 = StructType(Seq(
      StructField("k1", LongType), StructField("k2", LongType),
      StructField("f1", StringType)))
    val root = tmpRoot()
    WarehouseTable.create(spark, root, Seq("k1"), schema2,
      graft.sources.TableOptions(clusteringFields = Seq("k1", "k2"),
        layout = "ZORDER"))
    assert(WarehouseTable.open(spark, root).options.layout == "ZORDER")
    intercept[IllegalArgumentException](WarehouseTable.create(
      spark, tmpRoot(), Seq("k1"), schema2,
      graft.sources.TableOptions(clusteringFields = Seq("k1"), layout = "ZORDER")))
    intercept[IllegalArgumentException](WarehouseTable.create(
      spark, tmpRoot(), Seq("k1"), schema2,
      graft.sources.TableOptions(clusteringFields = Seq("k1", "f1"), layout = "ZORDER")))
    intercept[IllegalArgumentException](WarehouseTable.create(
      spark, tmpRoot(), Seq("k1"), schema2,
      graft.sources.TableOptions(layout = "HILBERT")))
  }

  test("TableOptions validation: >4 clustering fields, unknown fields, bad granularity") {
    intercept[IllegalArgumentException](WarehouseTable.create(spark, tmpRoot(),
      Seq("k1"), destSchema,
      graft.sources.TableOptions(clusteringFields = Seq("a", "b", "c", "d", "e"))))
    intercept[IllegalArgumentException](WarehouseTable.create(spark, tmpRoot(),
      Seq("k1"), destSchema, graft.sources.TableOptions(clusteringFields = Seq("nope"))))
    intercept[IllegalArgumentException](WarehouseTable.create(spark, tmpRoot(),
      Seq("k1"), destSchema, graft.sources.TableOptions(granularity = "WEEK")))
    intercept[IllegalArgumentException](WarehouseTable.create(spark, tmpRoot(),
      Seq("k1"), destSchema, graft.sources.TableOptions(partitionField = Some("nope"))))
    intercept[IllegalArgumentException](WarehouseTable.create(spark, tmpRoot(),
      Seq("k1"), destSchema, graft.sources.TableOptions(partitionExpirationMs = Some(-5L))))
  }

  test("column-based partitioning + MONTH granularity: field routes, update stays put") {
    val root = tmpRoot()
    val schemaT = StructType(Seq(
      StructField("k1", LongType), StructField("f1", StringType),
      StructField("ets", TimestampType)))
    val t = WarehouseTable.create(spark, root, Seq("k1"), schemaT,
      graft.sources.TableOptions(partitionField = Some("ets"), granularity = "MONTH"))
    // no partitionTime column at all — routing is by the record field
    t.append(Seq(
      (1L, "a", "2024-01-05 10:00:00"), (2L, "b", "2024-02-20 10:00:00"))
      .toDF("k1", "f1", "s").select($"k1", $"f1", to_timestamp($"s").as("ets")))
    assert(t.listDays() == Seq("2024-01", "2024-02"))
    // persisted options survive open()
    assert(WarehouseTable.open(spark, root).options.granularity == "MONTH")

    // merge: update k1=1 with a March ets → row STAYS in its 2024-01
    // partition (UPDATE never moves rows); insert k1=3 lands in March
    val staged = Seq(
      (1L, "a2", "2024-03-01 00:00:00", 10L),
      (3L, "c", "2024-03-02 00:00:00", 11L))
      .toDF("k", "v", "s", "i").select(
        struct($"k".as("k1")).as("key"),
        struct($"v".as("f1"), to_timestamp($"s").as("ets")).as("value"),
        $"i", lit(0L).as("batchNumber"))
    t.merge(staged)
    val state = t.read().select($"k1", $"f1", $"_pday").as[(Long, String, String)]
      .collect().toSet
    assert(state == Set(
      (1L, "a2", "2024-01"), (2L, "b", "2024-02"), (3L, "c", "2024-03")))
  }

  test("HOUR granularity slices partitions by hour") {
    val root = tmpRoot()
    val t = WarehouseTable.create(spark, root, Seq("k1"), destSchema,
      graft.sources.TableOptions(granularity = "HOUR"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k1", "f1")
      .withColumn("partitionTime",
        when($"k1" === 1, to_timestamp(lit("2024-01-01 05:30:00")))
          .otherwise(to_timestamp(lit("2024-01-01 06:10:00")))))
    assert(t.listDays() == Seq("2024-01-01-05", "2024-01-01-06"))
  }

  test("partition expiration drops old partitions and their blooms") {
    val root = tmpRoot()
    // seed WITHOUT a TTL (auto-expiry during append would instantly drop
    // the 2024 fixture days against the wall clock), then alter it on —
    // the BigQuery "update partition expiration on existing table" path
    val t0 = WarehouseTable.create(spark, root, Seq("k1"), destSchema)
    t0.append(Seq((1L, "old")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t0.append(Seq((2L, "new")).toDF("k1", "f1").withColumn("partitionTime", ts(10)))
    val t = t0.alterOptions(graft.sources.TableOptions(
      partitionExpirationMs = Some(86400000L))) // 1 day TTL
    val bloomOld = new org.apache.hadoop.fs.Path(s"$root/_graft/bloom2/2024-01-01.bloom")
    val fs = bloomOld.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(bloomOld))
    val asOf = java.time.Instant.parse("2024-01-11T00:00:00Z").toEpochMilli
    val dropped = t.expirePartitions(asOf)
    // day 01's slice ended 01-02, before the 01-10 cutoff; day 10 survives
    assert(dropped == Seq("2024-01-01"))
    assert(t.listDays() == Seq("2024-01-10"))
    assert(!fs.exists(bloomOld), "expired partition's bloom must be removed")
    assert(t.read().select($"f1").as[String].collect().toSeq == Seq("new"))
    // and write bookkeeping auto-expires against the wall clock: the
    // remaining 2024 partition is long past a 1-day TTL by now
    t.append(Seq((3L, "live")).toDF("k1", "f1")
      .withColumn("partitionTime", current_timestamp()))
    assert(!t.listDays().contains("2024-01-10"), "append bookkeeping must auto-expire")
    assert(t.read().select($"f1").as[String].collect().toSeq == Seq("live"))
  }

  test("time travel: snapshots capture appends, merges, and expirations") {
    val root = tmpRoot()
    val t = mkTable(root)
    assert(t.currentVersion == 0L)
    // v1: seed two days
    t.append(Seq((1L, "a1"), (2L, "b1")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    // v2: append a third row to day 2
    t.append(Seq((3L, "c1")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    // v3: merge updates k=1 and deletes k=2
    t.merge(staged(Seq((1L, Some("a2"), 10L, 1), (2L, None, 11L, 1))))
    assert(t.currentVersion == 3L)
    assert(t.history().map(h => h._1 -> h._2) ==
      Seq(3L -> "merge", 2L -> "append", 1L -> "append"))

    def state(df: DataFrame): Set[(Long, String)] =
      df.select($"k1", $"f1").as[(Long, String)].collect().toSet
    assert(state(t.readAsOf(1)) == Set((1L, "a1"), (2L, "b1")))
    assert(state(t.readAsOf(2)) == Set((1L, "a1"), (2L, "b1"), (3L, "c1")))
    assert(state(t.readAsOf(3)) == Set((1L, "a2"), (3L, "c1")))
    assert(state(t.read()) == state(t.readAsOf(3)))
    // partition column travels too
    assert(t.readAsOf(1).select($"_pday").distinct().as[String].collect().toSet ==
      Set("2024-01-01"))
    intercept[IllegalArgumentException](t.readAsOf(4))
    intercept[IllegalArgumentException](t.readAsOf(0))
  }

  test("time travel: expired partitions stay readable as-of, vacuum reclaims") {
    val root = tmpRoot()
    val t0 = mkTable(root)
    t0.append(Seq((1L, "old")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))  // v1
    t0.append(Seq((2L, "new")).toDF("k1", "f1").withColumn("partitionTime", ts(10))) // v2
    val t = t0.alterOptions(graft.sources.TableOptions(
      partitionExpirationMs = Some(86400000L)))
    val asOf = java.time.Instant.parse("2024-01-11T00:00:00Z").toEpochMilli
    assert(t.expirePartitions(asOf) == Seq("2024-01-01")) // v3 (logical delete)
    assert(t.listDays() == Seq("2024-01-10"))
    // the expired generation is archived: v2 still sees it
    assert(t.readAsOf(2).select($"f1").as[String].collect().toSet == Set("old", "new"))
    assert(t.readAsOf(3).select($"f1").as[String].collect().toSeq == Seq("new"))
    // vacuum to the last snapshot: archives + old manifests go away
    val removed = t.vacuum(retainVersions = 1)
    assert(removed == Seq(1L, 2L))
    intercept[IllegalStateException](t.readAsOf(2))
    assert(t.readAsOf(3).select($"f1").as[String].collect().toSeq == Seq("new"))
    assert(t.read().select($"f1").as[String].collect().toSeq == Seq("new"))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_graft/history/v3")),
      "vacuum must reclaim unreachable archived generations")
  }

  test("time travel: merge-archived generation readable after later append to same day") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "x1")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))   // v1
    t.merge(staged(Seq((1L, Some("x2"), 5L, 1))))                                   // v2 (archives v1 gen)
    t.append(Seq((9L, "z1")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))   // v3 (adds file in place)
    def vals(v: Long) = t.readAsOf(v).select($"f1").as[String].collect().toSet
    assert(vals(1) == Set("x1"))
    assert(vals(2) == Set("x2"))
    assert(vals(3) == Set("x2", "z1"))
  }

  test("readAsOfTime resolves to the newest snapshot at or before the instant") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1")).toDF("k1", "f1").withColumn("partitionTime", ts(1))) // v1
    t.append(Seq((2L, "b1")).toDF("k1", "f1").withColumn("partitionTime", ts(1))) // v2
    val commits = t.history().map(h => h._1 -> h._3).toMap
    def vals(ms: Long) = t.readAsOfTime(ms).select($"f1").as[String].collect().toSet
    assert(vals(commits(1L)) == Set("a1") || commits(1L) == commits(2L),
      "as-of v1's commit instant sees only the first append (unless same-ms commits)")
    assert(vals(commits(2L)) == Set("a1", "b1"))
    assert(vals(System.currentTimeMillis() + 1000000L) == Set("a1", "b1"))
    intercept[IllegalArgumentException](t.readAsOfTime(commits(1L) - 1000000L))
  }

  test("snapshotRetention auto-vacuums history during write bookkeeping") {
    val root = tmpRoot()
    val t = WarehouseTable.create(spark, root, Seq("k1"), destSchema,
      graft.sources.TableOptions(snapshotRetention = Some(2)))
    t.append(Seq((1L, "a1")).toDF("k1", "f1").withColumn("partitionTime", ts(1))) // v1
    t.merge(staged(Seq((1L, Some("a2"), 5L, 1))))                                 // v2
    t.merge(staged(Seq((1L, Some("a3"), 6L, 1))))                                 // v3
    assert(t.currentVersion == 3L)
    // only the newest 2 snapshots remain readable
    assert(t.history().map(_._1) == Seq(3L, 2L))
    intercept[IllegalArgumentException](t.readAsOf(0))
    intercept[IllegalStateException](t.readAsOf(1))
    assert(t.readAsOf(2).select($"f1").as[String].collect().toSeq == Seq("a2"))
    assert(t.readAsOf(3).select($"f1").as[String].collect().toSeq == Seq("a3"))
    // options round-trip through open()
    assert(WarehouseTable.open(spark, root).options.snapshotRetention == Some(2))
  }

  test("tableDiff: merge yields added/removed pairs, append adds, compaction diffs empty") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1"), (2L, "b1")).toDF("k1", "f1").withColumn("partitionTime", ts(1))) // v1
    t.merge(staged(Seq((1L, Some("a2"), 10L, 1), (2L, None, 11L, 1), (5L, Some("e1"), 12L, 2)))) // v2
    t.append(Seq((9L, "z1")).toDF("k1", "f1").withColumn("partitionTime", ts(3)))            // v3
    t.compactPartitions()                                                                     // v4
    def diff(a: Long, b: Long): Set[(String, Long, String)] =
      t.tableDiff(a, b).select($"change_type", $"k1", $"f1")
        .as[(String, Long, String)].collect().toSet
    // merge: k1 updated (removed+added), k2 deleted (removed), k5 inserted (added)
    assert(diff(1, 2) == Set(
      ("added", 1L, "a2"), ("removed", 1L, "a1"),
      ("removed", 2L, "b1"), ("added", 5L, "e1")))
    // append shows up as pure adds
    assert(diff(2, 3) == Set(("added", 9L, "z1")))
    // compaction rewrites files but no rows: empty diff
    assert(diff(3, 4).isEmpty)
    // and the spans compose
    assert(diff(1, 4) == Set(
      ("added", 1L, "a2"), ("removed", 1L, "a1"),
      ("removed", 2L, "b1"), ("added", 5L, "e1"), ("added", 9L, "z1")))
    assert(diff(2, 2).isEmpty)
    intercept[IllegalArgumentException](t.tableDiff(3, 1))
  }

  test("ViewMaintenance.applyDiff equals re-aggregation across merges") {
    import graft.operators.ViewMaintenance
    val root = tmpRoot()
    val t = WarehouseTable.create(spark, root, Seq("k1"),
      StructType(Seq(StructField("k1", LongType), StructField("f1", StringType),
        StructField("amt", DoubleType))))
    def rows(xs: (Long, String, Double)*) = xs.toDF("k1", "f1", "amt")
      .withColumn("partitionTime", ts(1))
    t.append(rows((1L, "a", 10.0), (2L, "a", 5.0), (3L, "b", 2.0)))       // v1
    // merge: update k1 (a→b, amount change), delete k2, insert k4 (c)
    val batch = Seq(
      (1L, Some(("b", 20.0)), 10L), (2L, None, 11L), (4L, Some(("c", 7.0)), 12L))
      .toDF("k", "v", "i")
      .select(struct($"k".as("k1")).as("key"),
        when($"v".isNotNull, struct($"v._1".as("f1"), $"v._2".as("amt"))).as("value"),
        $"i", ts(1).as("partitionTime"), lit(0L).as("batchNumber"))
    t.merge(batch)                                                        // v2
    val base = ViewMaintenance.aggregate(t.readAsOf(1), Seq("f1"), "amt")
    val maintained = ViewMaintenance.applyDiff(base,
      t.tableDiff(1, 2), Seq("f1"), "amt")
      .select($"f1", $"n", round($"total", 6).as("total"))
      .as[(String, Long, Double)].collect().toSet
    val direct = ViewMaintenance.aggregate(t.read(), Seq("f1"), "amt")
      .select($"f1", $"n", round($"total", 6).as("total"))
      .as[(String, Long, Double)].collect().toSet
    assert(maintained == direct)
    // group 'a' vanished (count hit zero), group 'c' appeared
    assert(maintained == Set(("b", 2L, 22.0), ("c", 1L, 7.0)))
  }

  test("refreshTopK: chained appends equal recompute; promotion and ties behave") {
    import graft.operators.ViewMaintenance
    def topk(df: org.apache.spark.sql.DataFrame) = ViewMaintenance
      .refreshTopK(df.limit(0), df, Seq("g"), "v", "id", k = 2)
    val a = Seq(("x", 1L, 10L), ("x", 2L, 30L), ("x", 3L, 20L),
      ("y", 4L, 5L)).toDF("g", "id", "v")
    val b = Seq(("x", 5L, 25L), ("y", 6L, 5L), ("z", 7L, 1L)).toDF("g", "id", "v")
    val view0 = topk(a)
    val refreshed = ViewMaintenance.refreshTopK(view0, b, Seq("g"), "v", "id", 2)
      .select($"g", $"id", $"v", $"rank")
      .as[(String, Long, Long, Int)].collect().toSet
    val direct = topk(a.unionByName(b))
      .select($"g", $"id", $"v", $"rank")
      .as[(String, Long, Long, Int)].collect().toSet
    assert(refreshed == direct)
    // appended 25 displaces 20 in x; tie at v=5 in y breaks on id asc;
    // a brand-new group appears from the batch alone
    assert(refreshed == Set(("x", 2L, 30L, 1), ("x", 5L, 25L, 2),
      ("y", 4L, 5L, 1), ("y", 6L, 5L, 2), ("z", 7L, 1L, 1)))
  }

  test("distinctSketches: union-of-strata estimate tracks exact at 60k cardinality") {
    import graft.operators.ViewMaintenance
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select(($"event_id" % 7).as("stratum"), $"event_id")
    // per-stratum sketches of a HIGH-cardinality value, rolled up to one
    // global estimate by sketch union — the path s20's oracle can't pin
    // (estimates stop being exact past the coupon bound)
    val sketches = ViewMaintenance.distinctSketches(ev, Seq("stratum"), "event_id")
    val est = ViewMaintenance.mergeDistinct(
        sketches.withColumn("g", lit(1)), Seq("g"))
      .select($"n_distinct").as[Long].head()
    val exact = ev.select($"event_id").distinct().count()
    val relErr = math.abs(est.toDouble - exact) / exact
    // default lgK=12 → ~1.6% relative standard error; 5% is generous
    assert(relErr < 0.05, s"estimate $est vs exact $exact (relErr $relErr)")
    // rollup-path independence: per-day → global must equal
    // per-day → per-month → global (register union is associative, so
    // the estimate can't depend on the rollup tree; note a DIRECT
    // sketch of the raw column differs legitimately — the HIP estimator
    // is insertion-order-dependent)
    val twoLevel = ViewMaintenance.mergeDistinct(
      ViewMaintenance.distinctSketches(
          ev.withColumn("month", $"stratum" % 3), Seq("month", "stratum"), "event_id")
        .groupBy($"month").agg(hll_union_agg($"sketch").as("sketch"))
        .withColumn("g", lit(1)),
      Seq("g")).select($"n_distinct").as[Long].head()
    assert(est == twoLevel, s"flat union $est != two-level union $twoLevel")
  }

  test("snapshot soak: 12 merge cycles stay consistent through a mid-stream vacuum") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "v0")).toDF("k1", "f1").withColumn("partitionTime", ts(1))) // v1
    for (i <- 1 to 12)
      t.merge(staged(Seq((1L, Some(s"v$i"), 100L + i, 1))))                       // v2..v13
    assert(t.currentVersion == 13L)
    // every retained snapshot reads the value its merge wrote
    for (v <- 2L to 13L)
      assert(t.readAsOf(v).select($"f1").as[String].head() == s"v${v - 1}",
        s"snapshot v$v")
    // diffs compose across arbitrary spans
    assert(t.tableDiff(2, 13).select($"change_type", $"f1")
      .as[(String, String)].collect().toSet == Set(("removed", "v1"), ("added", "v12")))
    val removed = t.vacuum(retainVersions = 4)
    assert(removed == (1L to 9L))
    intercept[IllegalStateException](t.readAsOf(9))
    for (v <- 10L to 13L)
      assert(t.readAsOf(v).select($"f1").as[String].head() == s"v${v - 1}")
    assert(t.read().select($"f1").as[String].head() == "v12")
  }

  test("model-based time travel: a random append/merge/DML/compact/evolve " +
      "sequence reads EVERY retained version exactly (mixed whole-day and " +
      "partial archives)") {
    val root = tmpRoot()
    val t = mkTable(root)
    val rnd = new scala.util.Random(20261215)
    // the model: expected (k1 -> f1) state after each committed version
    val expected = scala.collection.mutable.Map[Long, Map[Long, String]]()
    var state = Map.empty[Long, String]
    def record(): Unit = {
      // ops may commit >1 version (restore); record the final state at
      // the version the op left CURRENT at. An evolve before the first
      // data commit leaves CURRENT at 0 — nothing to time-travel to.
      if (t.currentVersion > 0L) expected(t.currentVersion) = state
      ()
    }
    def day(k: Long): Int = (k % 3 + 1).toInt
    // fields added by evolve ops, in commit order: the torn-schema
    // shape the 4-writer soak caught once lives exactly in an evolve
    // landing BETWEEN two merges — pinned here deterministically
    val evolvedNames = scala.collection.mutable.ArrayBuffer[String]()
    for (i <- 0 until 30) {
      rnd.nextInt(11) match {
        case 0 | 1 | 2 =>
          // append only FRESH keys (appends allow duplicates, which
          // would break the model's k1 -> f1 function); existing keys
          // route through merge so the op mix stays rich
          val k = rnd.nextInt(12).toLong
          val v = s"a$i"
          if (!state.contains(k)) {
            t.append(Seq((k, v)).toDF("k1", "f1")
              .withColumn("partitionTime", ts(day(k))))
          } else t.merge(staged(Seq((k, Some(v), 1000L + i, day(k)))))
          state += k -> v; record()
        case 3 | 4 | 5 =>
          val k = rnd.nextInt(12).toLong
          val v = s"m$i"
          t.merge(staged(Seq((k, Some(v), 1000L + i, day(k)))))
          state += k -> v; record()
        case 6 =>
          val k = rnd.nextInt(12).toLong
          t.merge(staged(Seq((k, None, 1000L + i, day(k))))) // tombstone
          state -= k; record()
        case 7 =>
          // predicate delete of a random existing key
          if (state.nonEmpty) {
            val k = state.keys.toSeq(rnd.nextInt(state.size))
            t.deleteWhere($"k1" === k)
            state -= k; record()
          }
        case 8 =>
          if (state.nonEmpty) {
            val k = state.keys.toSeq(rnd.nextInt(state.size))
            t.updateWhere($"k1" === k, Map("f1" -> lit(s"u$i")))
            state += k -> s"u$i"; record()
          }
        case 9 =>
          if (t.listDays().nonEmpty) {
            t.compactPartitions()
            record() // state unchanged; whole-day archives interleave
          }
        case 10 =>
          // schema evolution interleaved with the swap ops: a fresh
          // nullable field. Wrong (k1, f1) values at ANY version would
          // surface an evolve-vs-merge tear; the field itself must
          // appear in every subsequent read and stay all-NULL (no
          // write here carries it) — current-schema conformance, the
          // BigQuery ALTER TABLE ADD COLUMN semantics
          // (SchemaManager.java createOrUpdateTable union rules)
          val fname = s"ef$i"
          t.evolveSchema(StructType(t.schema.fields :+
            StructField(fname, StringType, nullable = true)))
          evolvedNames += fname
          record() // schema-only: state (and usually version) unchanged
      }
    }
    assert(evolvedNames.nonEmpty, "random walk never evolved — vacuous")
    assert(expected.size > 10, "model recorded too few versions — vacuous")
    // EVERY recorded version reads exactly its model state, resolving
    // per file across whatever mix of whole-day and file-granular archives
    // the random sequence produced
    expected.toSeq.sortBy(_._1).foreach { case (v, want) =>
      val df = t.readAsOf(v)
      val got = df.select($"k1", $"f1").as[(Long, String)]
        .collect().toMap
      assert(got == want, s"version $v read $got, model says $want")
      // every evolved field is served at every version (conformed to
      // the current persisted schema) and reads all-NULL
      val missing = evolvedNames.filterNot(df.columns.contains)
      assert(missing.isEmpty, s"version $v lacks evolved fields $missing")
      if (want.nonEmpty) {
        val aggCols = evolvedNames.toSeq.map(f => count(col(f)).as(f))
        val nonNulls = df.agg(aggCols.head, aggCols.tail: _*).head()
        evolvedNames.indices.foreach(j => assert(nonNulls.getLong(j) == 0L,
          s"version $v: evolved field ${evolvedNames(j)} has phantom values"))
      }
    }
    // and the diffs compose: applying tableDiff(v, v') to the model
    // state at v yields the state at v' for a sampled pair
    val vs = expected.keys.toSeq.sorted
    val (vFrom, vTo) = (vs(vs.size / 3), vs(2 * vs.size / 3))
    val diff = t.tableDiff(vFrom, vTo)
      .select($"change_type", $"k1", $"f1")
      .as[(String, Long, String)].collect()
    // removals first, then additions: an updated key appears as one
    // removed + one added row, in no particular order
    val afterRemove = diff.collect { case ("removed", k, _) => k }
      .foldLeft(expected(vFrom))(_ - _)
    val applied = diff.collect { case ("added", k, f) => k -> f }
      .foldLeft(afterRemove)(_ + _)
    assert(applied == expected(vTo),
      s"diff $vFrom->$vTo does not transport the model state")
  }

  test("time travel reads pre-evolution snapshots under the evolved schema") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1")).toDF("k1", "f1").withColumn("partitionTime", ts(1))) // v1
    // evolve: add f2, then write a row carrying it
    t.evolveSchema(StructType(Seq(
      StructField("k1", LongType), StructField("f1", StringType),
      StructField("f2", StringType))))
    t.append(Seq((2L, "b1", "x")).toDF("k1", "f1", "f2")
      .withColumn("partitionTime", ts(2)))                                        // v2
    // the old snapshot reads under the CURRENT schema: f2 present, NULL
    val v1 = t.readAsOf(1).select($"k1", $"f1", $"f2")
      .as[(Long, String, Option[String])].collect().toSet
    assert(v1 == Set((1L, "a1", None)))
    val v2 = t.readAsOf(2).select($"k1", $"f1", $"f2")
      .as[(Long, String, Option[String])].collect().toSet
    assert(v2 == Set((1L, "a1", None), (2L, "b1", Some("x"))))
  }

  test("cloneTo: snapshot clone is content-equal and independently mutable") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1"), (2L, "b1")).toDF("k1", "f1").withColumn("partitionTime", ts(1))) // v1
    t.merge(staged(Seq((1L, Some("a2"), 10L, 1))))                                            // v2
    val clone = t.cloneTo(tmpRoot() + "-clone", version = 1)
    def st(d: org.apache.spark.sql.DataFrame) =
      d.select($"k1", $"f1").as[(Long, String)].collect().toSet
    assert(st(clone.read()) == Set((1L, "a1"), (2L, "b1")))
    assert(clone.currentVersion == 1L)
    // clones diverge independently: mutate the clone, source unchanged
    clone.merge(staged(Seq((2L, None, 20L, 1))))
    assert(st(clone.read()) == Set((1L, "a1")))
    assert(st(t.read()) == Set((1L, "a2"), (2L, "b1")))
    // a head clone of the source carries its current state
    val head = t.cloneTo(tmpRoot() + "-head")
    assert(st(head.read()) == Set((1L, "a2"), (2L, "b1")))
    // refusing to clone onto a non-empty destination
    intercept[IllegalArgumentException](t.cloneTo(clone.root))
  }

  test("cloneToFast: byte-copy clone preserves content, layout and file " +
      "names; older-version clones rebuild blooms soundly") {
    val root = tmpRoot()
    val t = mkTable(root)
    def st(d: org.apache.spark.sql.DataFrame) =
      d.select($"k1", $"f1").as[(Long, String)].collect().toSet
    t.append(Seq((1L, "a1"), (2L, "b1")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(1)))
    t.merge(staged(Seq((1L, Some("a2"), 10L, 1), (3L, Some("c"), 11L, 2))))
    val v1 = t.currentVersion - 1
    // current-version clone: identical rows, identical FILE NAMES (a
    // byte copy, not a rewrite), blooms copied and working
    val c = t.cloneToFast(tmpRoot())
    assert(st(c.read()) == st(t.read()))
    assert(c.read().inputFiles.map(_.split('/').takeRight(2).mkString("/")).sorted
      .sameElements(t.read().inputFiles.map(_.split('/').takeRight(2).mkString("/")).sorted),
      "byte-copy clone must keep the source's exact file layout")
    c.insertNewOnly(Seq((1L, "dupe")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(1)))
    assert(c.read().count() == t.read().count(), "copied bloom missed a key")
    // clones are independent: mutating the clone leaves the source alone
    c.deleteWhere($"k1" === 2L)
    assert(st(t.read()).exists(_._1 == 2L))
    // OLDER-version clone: content as of v1, blooms rebuilt exactly
    // (key k1=3 didn't exist at v1; k1=1 held a1)
    val old = t.cloneToFast(tmpRoot(), v1)
    assert(st(old.read()) == Set((1L, "a1"), (2L, "b1")))
    old.insertNewOnly(Seq((1L, "dupe")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(1)))
    assert(old.read().count() == 2, "rebuilt bloom missed an as-of key")
    // refusing a non-empty destination
    intercept[IllegalArgumentException](t.cloneToFast(c.root))
  }

  test("restore: reverts live state as a new commit, history preserved") {
    val root = tmpRoot()
    val t = mkTable(root)
    def st(d: org.apache.spark.sql.DataFrame) =
      d.select($"k1", $"f1").as[(Long, String)].collect().toSet
    t.append(Seq((1L, "a1"), (2L, "b1")).toDF("k1", "f1").withColumn("partitionTime", ts(1))) // v1
    t.merge(staged(Seq((1L, Some("a2"), 10L, 1), (3L, Some("c"), 11L, 2))))                   // v2
    assert(st(t.read()) == Set((1L, "a2"), (2L, "b1"), (3L, "c")))

    val days = t.restore(1)                                                                   // v3
    assert(days == Seq("2024-01-01", "2024-01-02"))
    // live table equals v1: update reverted, day-2 partition gone
    assert(st(t.read()) == Set((1L, "a1"), (2L, "b1")))
    assert(t.listDays() == Seq("2024-01-01"))
    // history preserved: the pre-restore state is still time-travelable
    assert(t.history().map(h => (h._1, h._2)).take(1) == Seq((3L, "restore")))
    assert(st(t.readAsOf(2)) == Set((1L, "a2"), (2L, "b1"), (3L, "c")))
    // a restore can be restored away (back to the future)
    t.restore(2)                                                                              // v4
    assert(st(t.read()) == Set((1L, "a2"), (2L, "b1"), (3L, "c")))
    // merges keep working post-restore: blooms were refreshed
    t.merge(staged(Seq((1L, Some("a3"), 20L, 5))))
    assert(st(t.read()) == Set((1L, "a3"), (2L, "b1"), (3L, "c")))
    assert(t.read().where($"k1" === 1L).select($"_pday".cast("string"))
      .as[String].head() == "2024-01-01", "restored row left its partition")
    // DAY-pruned: restoring away that one-day merge rewrites ONLY the
    // changed day — the other days' files stay byte-identical
    val preRestore = t.currentVersion
    def dayFiles(d: String) = t.read().inputFiles
      .filter(_.contains(s"_pday=$d")).map(_.split('/').last).toSet
    val d2Before = dayFiles("2024-01-02")
    val d5Before = dayFiles("2024-01-05")
    val pruned = t.restore(preRestore - 1)
    assert(pruned == Seq("2024-01-01"),
      s"restore of a one-day change must rewrite one day: $pruned")
    assert(dayFiles("2024-01-02") == d2Before &&
      dayFiles("2024-01-05") == d5Before,
      "unchanged days' files moved under a pruned restore")
    assert(st(t.read()) == Set((1L, "a2"), (2L, "b1"), (3L, "c")))
    // restoring the current version is a no-op, not a full rewrite
    assert(t.restore(t.currentVersion).isEmpty)
  }

  test("compactPartitions collapses accumulated small files, content intact") {
    val root = tmpRoot()
    val t = mkTable(root)
    // 6 micro-batch appends → ≥6 files in the partition
    (0 until 6).foreach { b =>
      t.appendBatch(Seq((b.toLong, s"v$b")).toDF("k1", "f1")
        .withColumn("partitionTime", ts(1)), batchId = b.toLong)
    }
    val before = t.read().inputFiles.length
    assert(before >= 6, s"expected one file set per batch, got $before")
    val compacted = t.compactPartitions()
    assert(compacted == Seq("2024-01-01"))
    assert(t.read().inputFiles.length < before)
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      (0 until 6).map(b => (b.toLong, s"v$b")).toSet)
    // bloom still finds keys after the rewrite (merge updates in place)
    t.merge(staged(Seq((3L, Some("upd"), 99L, 5))))
    assert(t.read().where($"k1" === 3L).select($"f1").as[String].collect().toSeq
      == Seq("upd"))
  }

  test("compactFragmented rewrites only over-threshold days, healthy files untouched") {
    val root = tmpRoot()
    val t = mkTable(root)
    // day 1: 5 micro-batch appends (fragmented); day 2: one append (healthy)
    (0 until 5).foreach { b =>
      t.appendBatch(Seq((b.toLong, s"v$b")).toDF("k1", "f1")
        .withColumn("partitionTime", ts(1)), batchId = b.toLong)
    }
    t.append(Seq((100L, "day2")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def fileNames(day: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data/_pday=$day"))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .map(_.getPath.getName).toSet
    val day2Before = fileNames("2024-01-02")
    assert(t.compactFragmented(maxFilesPerDay = 3) == Seq("2024-01-01"))
    assert(fileNames("2024-01-01").size <= 3)
    assert(fileNames("2024-01-02") == day2Before,
      "healthy partition was rewritten")
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      ((0 until 5).map(b => (b.toLong, s"v$b")) :+ (100L -> "day2")).toSet)
    // second pass is a no-op: nothing fragmented anymore
    assert(t.compactFragmented(maxFilesPerDay = 3).isEmpty)
  }

  test("unknown-format bloom files fall back to scanning — never a false negative") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "old")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // simulate a stale/foreign-format index: overwrite day1's bloom with
    // bytes that deserialize fine as *something* but carry no GFB3 magic
    // (the failure mode ADVICE flagged: an old putString-format bloom
    // probed with xxhash64 longs silently answers "not here")
    val day1Bloom = new org.apache.hadoop.fs.Path(s"$root/_graft/bloom2/2024-01-01.bloom")
    val out = fs.create(day1Bloom, true)
    try {
      val stale = org.apache.spark.util.sketch.BloomFilter.create(100)
      stale.putString("1") // format-1 style content, no version header
      stale.writeTo(out)
    } finally out.close()
    // update k=1 (lives in day1): the unreadable bloom must pull day1
    // into the scan set, so the row updates in place instead of
    // duplicating into the batch day
    val days = t.merge(staged(Seq((1L, Some("new"), 1L, 5))))
    assert(days.contains("2024-01-01"), s"bad-format bloom dropped day1 from scan: $days")
    val state = t.read().select($"k1", $"f1", $"_pday").as[(Long, String, String)]
      .collect().toSet
    assert(state == Set((1L, "new", "2024-01-01"), (2L, "b", "2024-01-02")))
    // the refresh rewrote day1's bloom in the current format
    assert(WarehouseTable.readVersionedBloom(fs, day1Bloom).nonEmpty,
      "refresh must rewrite a current-format bloom")
  }

  test("partition routing is UTC-pinned regardless of session timezone") {
    val root = tmpRoot()
    val t = mkTable(root)
    // 2024-01-02T03:00Z — still 2024-01-01 in America/Los_Angeles; an
    // epoch-built timestamp is TZ-free, so only the rendering can differ
    val epoch = java.time.Instant.parse("2024-01-02T03:00:00Z").getEpochSecond
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      t.append(Seq((1L, "a")).toDF("k1", "f1")
        .withColumn("partitionTime", timestamp_seconds(lit(epoch))))
      t.merge(staged(Seq((2L, Some("b"), 1L, 2))))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    // both the append and the merge-insert routed to UTC days; a session-
    // TZ rendering would have produced 2024-01-01 for the append
    assert(t.listDays() == Seq("2024-01-02"))
  }

  test("unclustered writes are day-aligned: small partitions get one file") {
    val root = tmpRoot()
    val t = mkTable(root)
    // a 4-task shuffle plan spanning 3 days: written as-is this fans
    // out into tasks × days files; the rebalance keyed on _pday must
    // collapse each small day to a single file
    val df = spark.range(300)
      .select(($"id" % 100).as("k1"), lit("v").as("f1"),
        to_timestamp(format_string("2024-01-%02d 12:00:00",
          ($"id" % 3 + 1).cast("int"))).as("partitionTime"))
      .repartition(4, $"k1")
    t.append(df)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(t.listDays().size == 3)
    t.listDays().foreach { d =>
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data/_pday=$d"))
        .count(st => st.isFile && !st.getPath.getName.startsWith("_"))
      assert(files == 1, s"day $d written as $files files — write not day-aligned")
    }
  }

  test("HOUR slicing is pure epoch math across a session-TZ DST transition") {
    val root = tmpRoot()
    val t = WarehouseTable.create(spark, root, Seq("k1"), destSchema,
      graft.sources.TableOptions(granularity = "HOUR"))
    // America/Los_Angeles springs forward 02:00→03:00 local on
    // 2024-03-10 (= 10:00 UTC). Rows 30 min either side of the
    // transition must land in consecutive UTC hour slices; a
    // to_utc_timestamp+date_format round trip applies the session
    // offset at two different instants and can misroute rows here.
    val t1 = java.time.Instant.parse("2024-03-10T09:30:00Z").getEpochSecond
    val t2 = java.time.Instant.parse("2024-03-10T10:30:00Z").getEpochSecond
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      t.append(Seq((1L, "a"), (2L, "b")).toDF("k1", "f1")
        .withColumn("partitionTime",
          when($"k1" === 1, timestamp_seconds(lit(t1)))
            .otherwise(timestamp_seconds(lit(t2)))))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert(t.listDays() == Seq("2024-03-10-09", "2024-03-10-10"))
  }

  test("corrupt bloom body (valid magic) degrades to scan, never fails the merge") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "old")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val day1Bloom = new org.apache.hadoop.fs.Path(s"$root/_graft/bloom2/2024-01-01.bloom")
    // valid GFB3 header (magic + 8-byte stamp), then a body whose length
    // word claims a 2^30-word (8 GiB) bit array the 16 trailing bytes
    // cannot back — unguarded, BloomFilter.readFrom would try the
    // allocation or throw something other than IOException and fail
    // the whole merge job
    val out = fs.create(day1Bloom, true)
    try {
      val dos = new java.io.DataOutputStream(out)
      dos.write("GFB3".getBytes("UTF-8"))
      dos.writeLong(t.currentVersion) // commit-version stamp
      dos.writeInt(1)       // bloom format version
      dos.writeInt(3)       // numHashFunctions
      dos.writeInt(1 << 30) // corrupt word count
      dos.write(Array.fill(16)(0x5A.toByte))
    } finally out.close()
    assert(WarehouseTable.readVersionedBloom(fs, day1Bloom).isEmpty,
      "corrupt body must read as None")
    // the unreadable bloom pulls day1 into the scan set: update in place
    val days = t.merge(staged(Seq((1L, Some("new"), 1L, 5))))
    assert(days.contains("2024-01-01"), s"corrupt bloom dropped day1 from scan: $days")
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "new"), (2L, "b")))
  }

  test("alterOptions rejects layout changes once partitions exist") {
    val root = tmpRoot()
    val t = mkTable(root)
    // empty table: repartitioning is still allowed
    val tMonth = t.alterOptions(graft.sources.TableOptions(granularity = "MONTH"))
    tMonth.append(Seq((1L, "a")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    assert(tMonth.listDays() == Seq("2024-01"))
    // with data: granularity and partitionField changes must be rejected
    intercept[IllegalArgumentException](
      tMonth.alterOptions(graft.sources.TableOptions(granularity = "DAY")))
    intercept[IllegalArgumentException](
      tMonth.alterOptions(graft.sources.TableOptions(
        granularity = "MONTH", partitionField = Some("f1"))))
    // clustering and expiration remain alterable in place
    val altered = tMonth.alterOptions(graft.sources.TableOptions(
      granularity = "MONTH", clusteringFields = Seq("k1"),
      partitionExpirationMs = Some(java.time.Duration.ofDays(365 * 50).toMillis)))
    assert(altered.options.clusteringFields == Seq("k1"))
    // and the stored data still reads back
    assert(altered.read().count() == 1)
  }

  test("schema evolution persists through evolveSchema") {
    val root = tmpRoot()
    val t = mkTable(root)
    val evolved = t.evolveSchema(destSchema.add("f2", DoubleType))
    assert(evolved.fieldNames.toSeq == Seq("k1", "f1", "f2"))
    assert(t.schema.fieldNames.contains("f2"))
  }

  test("applyJoinDiff: delta-join equals rejoining the new states (incl. cross term)") {
    import graft.operators.ViewMaintenance
    def bag(df: DataFrame): Map[(Long, String, Double, Long), Long] =
      df.select($"k", $"jt", $"amt", $"cfg").as[(Long, String, Double, Long)]
        .collect().groupBy(identity).map { case (r, xs) => r -> xs.length.toLong }
    val aOld = Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "x", 30.0))
      .toDF("k", "jt", "amt")
    val bOld = Seq(("x", 100L), ("y", 200L)).toDF("jt", "cfg")
    // cycle: A updates k=1 (x→y) and deletes k=3; B updates cfg(x) —
    // k=1's row changes BOTH sides if it had stayed on x; the cross
    // term is exercised by k=3 (removed from A while B's x row swaps)
    val aDiff = Seq(
      ("removed", 1L, "x", 10.0), ("added", 1L, "y", 15.0),
      ("removed", 3L, "x", 30.0))
      .toDF("change_type", "k", "jt", "amt")
    val bDiff = Seq(("removed", "x", 100L), ("added", "x", 101L))
      .toDF("change_type", "jt", "cfg")
    val aNew = Seq((1L, "y", 15.0), (2L, "y", 20.0)).toDF("k", "jt", "amt")
    val bNew = Seq(("x", 101L), ("y", 200L)).toDF("jt", "cfg")
    val viewOld = aOld.join(bOld, "jt").select($"k", $"jt", $"amt", $"cfg")
    val maintained = ViewMaintenance.applyJoinDiff(
      viewOld, aDiff, bDiff, aOld, bOld, Seq("jt"))
    assert(bag(maintained) ==
      bag(aNew.join(bNew, "jt").select($"k", $"jt", $"amt", $"cfg")))
  }

  test("applyJoinDiff: random CDC cycles equal rejoining the new states") {
    import graft.operators.ViewMaintenance
    // deterministic randomized trials against the ground truth (join
    // the new states directly): duplicates, multi-row keys, empty
    // diffs, and vanishing/appearing join partners all fall out of the
    // generator — the bag compare catches any multiplicity drift
    val rnd = new scala.util.Random(42)
    def randA(): Seq[(Long, String, Double)] =
      Seq.fill(rnd.nextInt(12))(
        (rnd.nextInt(6).toLong, "j" + rnd.nextInt(4), rnd.nextInt(5).toDouble))
    def randB(): Seq[(String, Long)] =
      Seq.fill(rnd.nextInt(8))(("j" + rnd.nextInt(4), rnd.nextInt(3).toLong))
    def diffBags[R](oldS: Seq[R], newS: Seq[R]): Seq[(String, R)] = {
      val oc = oldS.groupBy(identity).view.mapValues(_.size)
      val nc = newS.groupBy(identity).view.mapValues(_.size)
      (oc.keySet ++ nc.keySet).toSeq.flatMap { r =>
        val d = nc.getOrElse(r, 0) - oc.getOrElse(r, 0)
        if (d > 0) Seq.fill(d)(("added", r))
        else Seq.fill(-d)(("removed", r))
      }
    }
    def bag(df: DataFrame): Map[(Long, String, Double, Long), Long] =
      df.select($"k", $"jt", $"amt", $"cfg").as[(Long, String, Double, Long)]
        .collect().groupBy(identity).map { case (r, xs) => r -> xs.length.toLong }
    for (trial <- 1 to 8) {
      val (aOldS, aNewS, bOldS, bNewS) = (randA(), randA(), randB(), randB())
      val aOld = aOldS.toDF("k", "jt", "amt")
      val bOld = bOldS.toDF("jt", "cfg")
      val aDiff = diffBags(aOldS, aNewS)
        .map { case (c, (k, jt, amt)) => (c, k, jt, amt) }
        .toDF("change_type", "k", "jt", "amt")
      val bDiff = diffBags(bOldS, bNewS)
        .map { case (c, (jt, cfg)) => (c, jt, cfg) }
        .toDF("change_type", "jt", "cfg")
      val viewOld = aOld.join(bOld, "jt").select($"k", $"jt", $"amt", $"cfg")
      val maintained = ViewMaintenance.applyJoinDiff(
        viewOld, aDiff, bDiff, aOld, bOld, Seq("jt"))
      val direct = aNewS.toDF("k", "jt", "amt")
        .join(bNewS.toDF("jt", "cfg"), "jt")
        .select($"k", $"jt", $"amt", $"cfg")
      assert(bag(maintained) == bag(direct),
        s"trial $trial: maintained view diverged from direct rejoin " +
          s"(aOld=$aOldS aNew=$aNewS bOld=$bOldS bNew=$bNewS)")
    }
  }

  test("refreshMinMax: touched groups recompute, untouched keep old rows, deleted drop") {
    import graft.operators.ViewMaintenance
    val oldT = Seq(("x", 1.0), ("x", 9.0), ("y", 5.0), ("z", 3.0))
      .toDF("g", "v")
    // cycle: x loses its max (9), y gains a new min (2), z is deleted
    // entirely, w appears; untouched group u exists only in the old agg
    // (proves untouched rows pass through verbatim, not recomputed)
    val newT = Seq(("x", 1.0), ("y", 5.0), ("y", 2.0), ("w", 7.0))
      .toDF("g", "v")
    val diff = Seq(
      ("removed", "x", 9.0), ("added", "y", 2.0),
      ("removed", "z", 3.0), ("added", "w", 7.0))
      .toDF("change_type", "g", "v")
    val oldAgg = oldT.groupBy($"g").agg(min($"v").as("vmin"), max($"v").as("vmax"))
      .union(Seq(("u", -1.0, -1.0)).toDF("g", "vmin", "vmax"))
    val got = ViewMaintenance.refreshMinMax(oldAgg, newT, diff, Seq("g"), "v")
      .as[(String, Double, Double)].collect().toSet
    assert(got == Set(("x", 1.0, 1.0), ("y", 2.0, 5.0), ("w", 7.0, 7.0),
      ("u", -1.0, -1.0)), s"refresh wrong: $got")
  }

  // ---- optimistic concurrency (version-claim commits) ----

  /** Simulate a concurrent writer that claimed `version` (its list file
    * exists) but whose CURRENT advance hasn't landed yet: header names
    * `op` + `days`, body carries the current manifest's entries.
    */
  /** Hadoop-FS write (keeps the local FS .crc sidecars consistent). */
  private def hfsWrite(path: String, s: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def hfsRead(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def plantCommit(root: String, version: Long, op: String,
      days: String): Unit = {
    val snap = s"$root/_graft/snapshots"
    val cur = hfsRead(s"$snap/CURRENT").trim.toLong
    val prevBody = hfsRead(s"$snap/v$cur.list")
      .linesIterator.drop(1).mkString("\n")
    hfsWrite(s"$snap/v$version.list", s"#$op\t0\t$days\n$prevBody\n")
  }

  test("concurrent append commit: loser re-sequences, nothing lost") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    plantCommit(root, 2L, "append", "2024-01-09")
    // our append loses the v2 claim, rebases on the winner's manifest,
    // and commits as v3
    t.append(Seq((9L, "z1")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    assert(t.currentVersion == 3L)
    assert(t.history().map(_._1) == Seq(3L, 2L, 1L))
    assert(t.readAsOf(3).select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a1"), (9L, "z1")))
    // the winner's manifest content survived into our commit
    assert(t.readAsOf(2).select($"k1").as[Long].collect().toSet == Set(1L))
  }

  test("overlapping concurrent commit aborts a merge BEFORE any data swap") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1"), (2L, "b1")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(1)))
    // winner appended to the very day our merge read: its rows are not
    // in our staged output, so auto-resolution would lose them
    plantCommit(root, 2L, "append", "2024-01-01")
    intercept[java.util.ConcurrentModificationException] {
      t.merge(staged(Seq((1L, Some("a2"), 10L, 1))))
    }
    // the claim is refused before the swap: live data untouched, no
    // version claimed past the winner
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a1"), (2L, "b1")))
    assert(!new java.io.File(s"$root/_graft/snapshots/v3.list").exists())
    // the winner finishes; the retried merge serializes cleanly after it
    hfsWrite(s"$root/_graft/snapshots/CURRENT", "2")
    t.merge(staged(Seq((1L, Some("a2"), 10L, 1))))
    assert(t.currentVersion == 3L)
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b1")))
  }

  test("merge re-sequences past a disjoint winner; archive follows the claimed version") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((2L, "b1")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    // winner claimed v3 on an unrelated day
    plantCommit(root, 3L, "append", "2024-01-09")
    // our merge (day 1) claims v4, swaps and archives under v4
    t.merge(staged(Seq((1L, Some("a2"), 10L, 1))))
    assert(t.currentVersion == 4L)
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b1")))
    // pre-merge day-1 generation is archived under the OWNED version, so
    // time travel to the pre-merge snapshot still reads the old value
    assert(t.readAsOf(2).select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a1"), (2L, "b1")))
  }

  test("stale crashed claim: history skips it, the next writer recovers and reclaims it") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    // a swap writer claimed v2 on a disjoint day and died mid-swap; its
    // ts=0 header is far past the stale-claim timeout
    hfsWrite(s"$root/_graft/snapshots/v2.list", "#pending:compact\t0\t2024-01-09\n")
    assert(t.history().map(_._1) == Seq(1L))
    // the next append detects the stale claim, rolls it back (nothing
    // was archived here), and RECLAIMS the freed version number
    t.append(Seq((2L, "b1")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    assert(t.currentVersion == 2L)
    assert(t.readAsOf(2).select($"k1").as[Long].collect().toSet == Set(1L, 2L))
    assert(t.history().map(_._1) == Seq(2L, 1L))
  }

  test("FRESH pending claim blocks commits: wait-then-conflict, then proceed once resolved") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    // a LIVE swap writer holds v2 (claimed just now — not stale, must
    // not be recovered from under it). Commits may NOT sequence past an
    // unfinalized claim — a lower version finalizing after a higher one
    // would build its manifest from a base missing the higher commit —
    // so even a DISJOINT append waits, then treats an unresolved claim
    // as a conflict.
    hfsWrite(s"$root/_graft/snapshots/v2.list",
      s"#pending:compact\t${System.currentTimeMillis()}\t2024-01-09\n")
    System.setProperty("graft.claimWaitMs", "300")
    try {
      intercept[java.util.ConcurrentModificationException] {
        t.append(Seq((2L, "b1")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
      }
      // the live writer's claim file is untouched by the waiter
      assert(hfsRead(s"$root/_graft/snapshots/v2.list").startsWith("#pending:compact"))
      // aborted append left no uncommitted files behind
      assert(t.read().select($"k1").as[Long].collect().toSet == Set(1L))
      // once the claim resolves (here: rolled back by its owner), the
      // retry claims the freed slot and commits
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/_graft/snapshots/v2.list"), false)
      t.append(Seq((2L, "b1")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
      assert(t.currentVersion == 2L)
      assert(t.readAsOf(2).select($"k1").as[Long].collect().toSet == Set(1L, 2L))
    } finally System.clearProperty("graft.claimWaitMs")
  }

  test("writer dies mid-swap: next writer rolls back the torn state and the table heals") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((2L, "b1")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    t.merge(staged(Seq((1L, Some("a2"), 10L, 1)))) // v3, archives day-1 gen
    assert(t.currentVersion == 3L)

    // ---- simulate a whole-day merge writer that claimed v4 touching
    // day 1 (an existing generation) and day 3 (brand new), journaled
    // and archived both days' live files, swapped the new generations
    // in, and died before finalizeCommit. The torn live content is
    // VALID parquet (a real crashed writer's staged output is fully
    // written before the claim) — only uncommitted.
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    hfsWrite(s"$root/_graft/snapshots/v4.list",
      "#pending:merge\t0\t2024-01-01,2024-01-03\n")
    // the swap's journal: every file live in its days before any move
    val day1Live = fs.listStatus(path(s"$root/data/_pday=2024-01-01"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq.sorted
    hfsWrite(s"$root/_graft/history/v4/_prelive",
      day1Live.map(n => s"2024-01-01\t$n").mkString("\n"))
    // day 1: archive the live files one by one under the crashed claim...
    fs.mkdirs(path(s"$root/_graft/history/v4/_pday=2024-01-01"))
    day1Live.foreach(n => fs.rename(path(s"$root/data/_pday=2024-01-01/$n"),
      path(s"$root/_graft/history/v4/_pday=2024-01-01/$n")))
    // ...and swap in a torn new generation
    def writeTorn(day: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tmpRoot() + "-torn"
      rows.toDF("k1", "f1").coalesce(1).write.parquet(tmp)
      val dest = path(s"$root/data/_pday=$day")
      fs.mkdirs(dest)
      fs.listStatus(path(tmp)).filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(f => fs.rename(f.getPath, new org.apache.hadoop.fs.Path(dest, f.getPath.getName)))
    }
    writeTorn("2024-01-01", Seq((1L, "torn-a3")))
    // day 3: no prior files — the swap creates an empty archive day dir
    fs.mkdirs(path(s"$root/_graft/history/v4/_pday=2024-01-03"))
    writeTorn("2024-01-03", Seq((9L, "torn-new")))

    // the torn table is still mechanically readable (valid parquet), it
    // just exposes uncommitted rows until recovery
    assert(t.read().count() >= 2)
    // history hides the crashed claim
    assert(t.history().map(_._1) == Seq(3L, 2L, 1L))

    // ---- a new writer merges day 2: the torn day 3 has no bloom, so
    // the merge's dest scan included it — its claim overlaps the stale
    // v4 claim. The collision ROLLS BACK the torn swap, then aborts the
    // merge (its staged output was computed from the torn reads).
    intercept[java.util.ConcurrentModificationException] {
      t.merge(staged(Seq((2L, Some("b2"), 20L, 2))))
    }
    // the table healed: day 1 back to the committed v3 value, day 3 gone
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b1")))
    // the retry recomputes against the healed state and reclaims v4
    t.merge(staged(Seq((2L, Some("b2"), 20L, 2))))
    assert(t.currentVersion == 4L)
    // rolled back: day 1 shows the committed v3 value, day 3 is gone,
    // day 2 shows the new merge
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b2")))
    // no orphaned archive generation: every history dir belongs to a
    // finalized swap commit (v3 = first merge, v4 = the healing merge)
    val histDirs = fs.listStatus(path(s"$root/_graft/history"))
      .map(_.getPath.getName).toSet
    assert(histDirs == Set("v3", "v4"), s"orphaned archives: $histDirs")
    // time travel across the crash still works...
    assert(t.readAsOf(3).select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b1")))
    assert(t.readAsOf(2).select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a1"), (2L, "b1")))
    // ...and restore of a pre-crash snapshot commits cleanly on top
    t.restore(2L)
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a1"), (2L, "b1")))
    // vacuum to the newest snapshot drops old archives and counts no
    // orphans from the crashed claim
    t.vacuum(retainVersions = 1)
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet ==
      Set((1L, "a1"), (2L, "b1")))
  }

  test("vacuum sweeps abandoned staging dirs, keeps a live writer's fresh one") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    // an abandoned merge staging dir from a long-dead writer...
    fs.mkdirs(path(s"$root/.merge-deadbeef/_pday=2024-01-05"))
    fs.setTimes(path(s"$root/.merge-deadbeef"), 1000L, -1)
    // ...and a live writer's staging created just now
    fs.mkdirs(path(s"$root/.compact-11111111"))
    t.vacuum(retainVersions = 1)
    assert(!fs.exists(path(s"$root/.merge-deadbeef")),
      "stale staging dir survived vacuum")
    assert(fs.exists(path(s"$root/.compact-11111111")),
      "fresh (live-writer) staging dir must not be swept")
    // live data untouched
    assert(t.read().count() == 1)
  }

  test("append overlapping a winning swap on the same day aborts") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "a1")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    // winner COMPACTED the very day we are appending to: our files may
    // have been archived by it, so auto-resequencing would be unsound
    plantCommit(root, 2L, "compact", "2024-01-01")
    intercept[java.util.ConcurrentModificationException] {
      t.append(Seq((2L, "b1")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    }
    // a disjoint-day append is still fine after the winner finishes
    hfsWrite(s"$root/_graft/snapshots/CURRENT", "2")
    t.append(Seq((3L, "c1")).toDF("k1", "f1").withColumn("partitionTime", ts(3)))
    assert(t.currentVersion == 3L)
  }

  test("intermediate staging paths are unique and dropped together") {
    val root = tmpRoot()
    val p1 = WarehouseTable.intermediatePath(root)
    val p2 = WarehouseTable.intermediatePath(root)
    assert(p1 != p2)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(p1))
    fs.mkdirs(new org.apache.hadoop.fs.Path(p2))
    WarehouseTable.dropIntermediates(spark, root)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p1)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p2)))
  }

  test("deleteWhere: SQL null semantics, emptied day drops, history intact, no-match no-op") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(Seq((1L, "keep"), (2L, "drop"), (3L, null.asInstanceOf[String]))
      .toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((4L, "drop")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    val preDelete = t.currentVersion
    val touched = t.deleteWhere($"f1" === "drop")
    assert(touched == Seq("2024-01-01", "2024-01-02"))
    // NULL-cond row survives (DELETE removes only where cond is TRUE)
    val rows = t.read().select($"k1", $"f1").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(rows == Map(1L -> "keep", 3L -> null), s"wrong survivors: $rows")
    // day 2 was deleted empty: dropped from the table, bloom gone
    assert(t.listDays() == Seq("2024-01-01"))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_graft/bloom2/2024-01-02.bloom")))
    // time travel still shows the pre-delete generation
    assert(t.readAsOf(preDelete).count() == 4)
    // a no-match delete commits nothing
    val v = t.currentVersion
    assert(t.deleteWhere($"f1" === "absent").isEmpty)
    assert(t.currentVersion == v)
    // surviving day's bloom stayed a superset: re-ingest of a surviving
    // key is still dropped
    t.insertNewOnly(Seq((1L, "keep")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(1)))
    assert(t.read().count() == 2)
  }

  test("updateWhere: old-row SET semantics, null-cond rows untouched, guarded assignments") {
    val root = tmpRoot()
    val wideSchema = StructType(Seq(
      StructField("k1", LongType),
      StructField("f1", StringType),
      StructField("f2", StringType)))
    val t = WarehouseTable.create(spark, root, Seq("k1"), wideSchema)
    t.append(Seq((1L, "a", "b"), (2L, "x", "y"), (3L, null, "z"))
      .toDF("k1", "f1", "f2").withColumn("partitionTime", ts(1)))
    t.append(Seq((4L, "other", "day")).toDF("k1", "f1", "f2")
      .withColumn("partitionTime", ts(2)))
    val preUpdate = t.currentVersion
    // SET f1 = f2, f2 = f1 — both read the OLD row: a swap, not a copy
    val touched = t.updateWhere($"k1" <= 2L,
      Map("f1" -> $"f2", "f2" -> $"f1"))
    assert(touched == Seq("2024-01-01"), s"day 2 must not rewrite: $touched")
    val rows = t.read().select($"k1", $"f1", $"f2").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(rows(1L) == (("b", "a")) && rows(2L) == (("y", "x")),
      s"assignments did not evaluate against the old row: $rows")
    assert(rows(3L) == ((null, "z")) && rows(4L) == (("other", "day")),
      s"unmatched rows changed: $rows")
    // NULL cond: rows where the predicate is NULL stay untouched
    t.updateWhere($"f1" === "b" && $"f2".isNotNull && lit(null).cast("boolean"),
      Map("f2" -> lit("never")))
    assert(t.read().where($"f2" === "never").count() == 0)
    // time travel shows the pre-update generation
    val old = t.readAsOf(preUpdate).select($"k1", $"f1").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(old(1L) == "a")
    // keys stay covered by the (exact) blooms after the rewrite
    t.insertNewOnly(Seq((1L, "p", "q")).toDF("k1", "f1", "f2")
      .withColumn("partitionTime", ts(1)))
    assert(t.read().count() == 4, "re-ingest after update duplicated a key")
    // guarded: keys, unknown fields, and the partition-routing field
    intercept[IllegalArgumentException](
      t.updateWhere($"k1" === 1L, Map("k1" -> lit(9L))))
    intercept[IllegalArgumentException](
      t.updateWhere($"k1" === 1L, Map("nope" -> lit("x"))))
  }

  test("file-granular DML: a one-key UPDATE/DELETE in a 10-file day rewrites " +
      "only the matched file; carried files never move; time travel exact") {
    val root = tmpRoot()
    val t = mkTable(root)
    // 10 separate appends → 10 files in one day, one key each
    (1 to 10).foreach(i => t.append(
      Seq((i.toLong, s"v$i")).toDF("k1", "f1").withColumn("partitionTime", ts(1))))
    val before = t.read().inputFiles.map(_.split('/').last).toSet
    assert(before.size == 10, s"expected 10 files, got ${before.size}")
    val preVer = t.currentVersion
    // write amplification: exactly ONE file replaced, nine carried
    t.updateWhere($"k1" === 7L, Map("f1" -> lit("upd")))
    val after = t.read().inputFiles.map(_.split('/').last).toSet
    assert((before -- after).size == 1,
      s"one-key update replaced ${(before -- after).size} files, expected 1")
    assert((before & after).size == 9, "carried files were rewritten")
    val rows = t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
    assert(rows(7L) == "upd" && rows(1L) == "v1" && rows.size == 10)
    // per-file time travel: the replaced file resolves to the version
    // archive, the nine carried files to the live dir — one as-of read
    val old = t.readAsOf(preVer).select($"k1", $"f1").as[(Long, String)]
      .collect().toMap
    assert(old(7L) == "v7" && old.size == 10, s"as-of read wrong: $old")
    // DELETE at the same granularity; the rewrite survivors stay exact
    val before2 = t.read().inputFiles.map(_.split('/').last).toSet
    t.deleteWhere($"k1" === 3L)
    assert((before2 -- t.read().inputFiles.map(_.split('/').last).toSet).size == 1)
    assert(t.read().count() == 9)
    // a delete that empties its file entirely: file drops, no rewrite in
    t.deleteWhere($"k1" === 5L)
    assert(t.read().count() == 8)
    // time travel across BOTH partial-archive generations still exact
    assert(t.readAsOf(preVer).count() == 10)
    // blooms after the update stayed exact: re-ingest of an updated key
    // is still dropped by insertNewOnly
    t.insertNewOnly(Seq((7L, "dupe")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(1)))
    assert(t.read().count() == 8, "bloom lost an updated key")
  }

  test("file-granular MERGE: a one-key flush into a 10-file day rewrites only " +
      "the matched file; tombstone-only hits still sweep their file") {
    val root = tmpRoot()
    val t = mkTable(root)
    (1 to 10).foreach(i => t.append(
      Seq((i.toLong, s"v$i")).toDF("k1", "f1").withColumn("partitionTime", ts(1))))
    val before = t.read().inputFiles.map(_.split('/').last).toSet
    assert(before.size == 10)
    // upsert ONE existing key + insert ONE new key
    t.merge(staged(Seq((7L, Some("m7"), 1L, 1), (99L, Some("m99"), 1L, 1))))
    val after = t.read().inputFiles.map(_.split('/').last).toSet
    assert((before -- after).size == 1,
      s"one-key merge replaced ${(before -- after).size} files, expected 1")
    assert((before & after).size == 9, "carried files were rewritten by merge")
    val rows = t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
    assert(rows(7L) == "m7" && rows(99L) == "m99" && rows(1L) == "v1" &&
      rows.size == 11, s"merge rows wrong: $rows")
    // a TOMBSTONE-only hit must still rewrite its file (the matched-file
    // join uses all batch keys, not just live rows)
    val before2 = t.read().inputFiles.map(_.split('/').last).toSet
    t.merge(staged(Seq((3L, None, 2L, 1))))
    val rows2 = t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
    assert(!rows2.contains(3L) && rows2.size == 10,
      s"tombstone-only merge failed to delete: $rows2")
    assert((before2 -- t.read().inputFiles.map(_.split('/').last).toSet).size == 1)
    // a pure-insert flush into a FRESH day adds files without touching
    // day 1 at all
    val before3 = t.read().inputFiles.map(_.split('/').last).toSet
    t.merge(staged(Seq((200L, Some("fresh"), 3L, 2))))
    val after3 = t.read().inputFiles.map(_.split('/').last).toSet
    assert((before3 -- after3).isEmpty, "pure insert must carry every file")
    assert(t.listDays() == Seq("2024-01-01", "2024-01-02"))
    // time travel across the file-granular merges still exact
    val hist = t.history().map(_._1).sorted
    assert(t.readAsOf(hist(hist.size - 4)).count() == 10) // pre-merge state
  }

  test("file-granular I/O, measured: full-row scans of a one-key merge and " +
      "update touch only the matched file; wide scans stay key-pruned") {
    val root = tmpRoot()
    val t = mkTable(root)
    // 8 files in one day, each with a fat payload so full-row reads are
    // distinguishable from key-column reads by file selection alone
    val fat = "x" * 4096
    (1 to 8).foreach(i => t.append(
      Seq((i.toLong, s"$fat-$i")).toDF("k1", "f1")
        .withColumn("partitionTime", ts(1))))
    def fullRowScans(m: ScanMetrics.ScanTotals): (Long, Int) = {
      // classify captured scans by required schema: the survivors /
      // rewrite legs need the value column (f1); the matched-file keys
      // scan must NOT (that it reads all files is fine — it reads only
      // the key column's pages)
      val idx = m.readSchemas.zipWithIndex
      (idx.count(_._1.contains("f1")).toLong, idx.size)
    }
    // ---- merge: one upserted key ----
    val (_, mMerge) = ScanMetrics.selectedByQueries(spark) {
      t.merge(staged(Seq((5L, Some("upd"), 1L, 1))))
    }
    // every captured scan that carries f1 must be over the matched file
    // set (1 file), never the whole day (8 files): assert per-scan via
    // the summed file count of f1-scans vs the keys-only scans
    val f1Files = mMerge.readSchemas.zip(fileCountsOf(mMerge))
      .filter(_._1.contains("f1")).map(_._2).sum
    assert(f1Files <= 1L,
      s"one-key merge full-row-scanned $f1Files files (expected <= 1): " +
        s"schemas=${mMerge.readSchemas}")
    assert(fullRowScans(mMerge)._2 > 0, "no scans captured — vacuous")
    // ---- updateWhere: one matched key ----
    val (_, mUpd) = ScanMetrics.selectedByQueries(spark) {
      t.updateWhere($"k1" === 2L, Map("f1" -> lit("u2")))
    }
    val f1FilesUpd = mUpd.readSchemas.zip(fileCountsOf(mUpd))
      .filter(_._1.contains("f1")).map(_._2).sum
    assert(f1FilesUpd <= 1L,
      s"one-key update full-row-scanned $f1FilesUpd files (expected <= 1): " +
        s"schemas=${mUpd.readSchemas}")
    // results stay exact
    val rows = t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
    assert(rows(5L) == "upd" && rows(2L) == "u2" && rows(1L) == s"$fat-1")
  }

  /** Per-scan file counts aligned with [[ScanMetrics.ScanTotals.readSchemas]]. */
  private def fileCountsOf(m: ScanMetrics.ScanTotals): Seq[Long] = m.numFilesPerScan

  test("compactSmall: consolidates only sub-threshold files, carries big " +
      "files untouched, keys stay bloom-covered, history intact") {
    val root = tmpRoot()
    val t = mkTable(root)
    // one BIG file (5000 distinct rows — incompressible enough to
    // dwarf the flush files) + 6 small flush files in day 1
    val big = spark.range(1000, 6000).select($"id".as("k1"),
      md5($"id".cast("string")).as("f1"))
    t.append(big.withColumn("partitionTime", ts(1)))
    (1 to 6).foreach(i => t.append(
      Seq((i.toLong, s"s$i")).toDF("k1", "f1").withColumn("partitionTime", ts(1))))
    val before = t.read().inputFiles.map(_.split('/').last).toSet
    assert(before.size == 7)
    val fsys = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val bigStatus = fsys.listStatus(new org.apache.hadoop.fs.Path(
      s"$root/data/_pday=2024-01-01")).filter(_.isFile).maxBy(_.getLen)
    val bigName = bigStatus.getPath.getName
    val preVer = t.currentVersion
    // threshold = the big file's exact size: `< smallBytes` keeps it
    val days = t.compactSmall(smallBytes = bigStatus.getLen)
    assert(days == Seq("2024-01-01"))
    val after = t.read().inputFiles.map(_.split('/').last).toSet
    assert(after.contains(bigName), "the big file must carry forward untouched")
    assert(after.size < before.size,
      s"small files did not consolidate: ${after.size} vs ${before.size}")
    assert((before -- after).size == 6, "exactly the 6 small files replace")
    // rows identical, time travel exact
    val rows = t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
    assert(rows.size == 5006 && rows(3L) == "s3")
    assert(t.readAsOf(preVer).count() == 5006)
    // blooms re-stamped current (keys unchanged): health staleness 0,
    // and a compacted key still dedups on re-ingest
    val h = t.describeHealth().collect().map(r => r.getString(0) -> r).toMap
    assert(h("2024-01-01").getLong(6) == 0L,
      "compactSmall must re-stamp the untouched-key blooms")
    t.insertNewOnly(Seq((3L, "dupe")).toDF("k1", "f1")
      .withColumn("partitionTime", ts(1)))
    assert(t.read().count() == 5006, "bloom lost a compacted key")
    // idempotent no-op when nothing is small enough
    assert(t.compactSmall(smallBytes = 10).isEmpty)
  }

  test("tableDiff is file-granular: an append-only span scans only the " +
      "appended files; an update span scans the replaced pair") {
    val root = tmpRoot()
    val t = mkTable(root)
    (1 to 6).foreach(i => t.append(
      Seq((i.toLong, s"v$i")).toDF("k1", "f1").withColumn("partitionTime", ts(1))))
    val v6 = t.currentVersion
    t.append(Seq((7L, "v7")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    val v7 = t.currentVersion
    // append-only span: ONE file differs between the manifests — the
    // diff must scan exactly it, not the day twice
    val (rows, m) = ScanMetrics.selectedByQueries(spark) {
      t.tableDiff(v6, v7).select($"change_type", $"k1").as[(String, Long)]
        .collect().toSet
    }
    assert(rows == Set(("added", 7L)))
    // the appended file appears once per exceptAll leg (2 legs); the
    // old day-granular diff scanned all 7 files of the day per leg (14)
    assert(m.numFiles <= 2,
      s"append-only diff scanned ${m.numFiles} file-selections, expected <= 2")
    // update span: one replaced + one replacement file
    t.updateWhere($"k1" === 3L, Map("f1" -> lit("u3")))
    val v8 = t.currentVersion
    val (rows2, m2) = ScanMetrics.selectedByQueries(spark) {
      t.tableDiff(v7, v8).select($"change_type", $"k1", $"f1")
        .as[(String, Long, String)].collect().toSet
    }
    assert(rows2 == Set(("removed", 3L, "v3"), ("added", 3L, "u3")))
    // replaced + replacement file, once per exceptAll leg (day-granular
    // would have been 2 legs x 7 files)
    assert(m2.numFiles <= 4,
      s"one-key update diff scanned ${m2.numFiles} file-selections, expected <= 4")
    // vacuumed endpoint must throw, never read as an empty side
    t.vacuum(retainVersions = 1)
    intercept[IllegalStateException](t.tableDiff(v6, v8))
  }

  test("describeHealth: per-day files/bytes/bloom/zonemap/fragmentation from metadata only") {
    val root = tmpRoot()
    val t = mkTable(root)
    // 3 appends into day 1 (fragmentation), 1 into day 2
    t.append(Seq((1L, "a")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((2L, "b")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((3L, "c")).toDF("k1", "f1").withColumn("partitionTime", ts(1)))
    t.append(Seq((10L, "x")).toDF("k1", "f1").withColumn("partitionTime", ts(2)))
    // zone maps for k1 exist once a range probe built them
    t.rangeCandidateDays("k1", 1L, 3L)

    // the health scan itself must run NO Spark jobs (metadata only)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val health =
      try t.describeHealth(maxFilesPerDay = 2)
      finally spark.sparkContext.removeSparkListener(listener)
    val byDay = health.collect().map(r => r.getString(0) -> r).toMap
    assert(byDay.keySet == Set("2024-01-01", "2024-01-02"))

    val d1 = byDay("2024-01-01")
    assert(d1.getLong(1) == 3L, "day 1 should hold 3 files")
    assert(d1.getLong(2) > 0L)
    assert(d1.getLong(3) == 3L, "manifest should reference all 3 files")
    assert(d1.getLong(4) == 0L, "no unmanifested files after clean commits")
    assert(d1.getString(5) == "ok")
    assert(d1.getLong(7) >= 1L, "k1 zone map should be counted")
    assert(d1.getBoolean(9), "3 files > maxFilesPerDay=2 must flag needs_compact")
    val d2 = byDay("2024-01-02")
    assert(d2.getLong(1) == 1L && !d2.getBoolean(9))
    assert(d1.getLong(10) == 4L, "4 committed snapshots")
    assert(d1.getLong(11) == 4L, "current version 4")
    assert(d1.getLong(12) == 3L,
      "all 3 tiny flush files must count as small_files (compactSmall feed)")

    // the maintenance decision the relation exists for: compact the
    // flagged day, and the next health read is clean and exact-bloomed
    import org.apache.spark.sql.functions.col
    val flagged = health.where(col("needs_compact")).select(col("day"))
      .collect().map(_.getString(0)).toSeq
    assert(flagged == Seq("2024-01-01"))
    t.compactFragmented(2)
    val after = t.describeHealth(maxFilesPerDay = 2).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(after("2024-01-01").getLong(1) <= 2L)
    assert(!after("2024-01-01").getBoolean(9))
    assert(after("2024-01-01").getString(5) == "ok")
    assert(after("2024-01-01").getLong(6) == 0L,
      "compact writes exact blooms — staleness must read 0")
    assert(after("2024-01-01").getLong(8) >= 1L,
      "the compacted-away generation should show as archived")

    // landed-but-uncommitted file surfaces in unmanifested_files
    val fsys = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stray = new org.apache.hadoop.fs.Path(
      s"$root/data/_pday=2024-01-02/stray-uncommitted.parquet")
    val out = fsys.create(stray, false)
    out.write("x".getBytes("UTF-8")); out.close()
    val h2 = t.describeHealth().collect().map(r => r.getString(0) -> r).toMap
    assert(h2("2024-01-02").getLong(4) == 1L,
      "stray landed file must surface as unmanifested")

    // SKEWED MTIME is NOT staleness: the stamp makes the count exact.
    // The old mtime-vs-commit-timestamp heuristic read a bloom whose
    // file mtime lags its day's commits as stale — but mtime skew
    // (clock drift, archival copies, rename-preserved times) says
    // nothing about content. Backdate the file 2h: still 0.
    val bloomFile = new org.apache.hadoop.fs.Path(
      s"$root/_graft/bloom2/2024-01-01.bloom")
    assert(fsys.exists(bloomFile))
    fsys.setTimes(bloomFile, System.currentTimeMillis() - 7200000L, -1)
    val h3 = t.describeHealth().collect().map(r => r.getString(0) -> r).toMap
    assert(h3("2024-01-01").getLong(6) == 0L,
      "mtime skew misclassified a stamped bloom as stale")

    // key-preserving UPDATE on a current bloom re-stamps: still 0
    t.updateWhere($"k1" === 1L, Map("f1" -> lit("a2")))
    val h4 = t.describeHealth().collect().map(r => r.getString(0) -> r).toMap
    assert(h4("2024-01-01").getLong(6) == 0L,
      "a key-preserving update over a current bloom must not read stale")
    // GENUINE staleness reads exactly: a DELETE leaves the day bloom a
    // superset on purpose (keys removed, bloom untouched) — one
    // touching commit above the stamp, exactly 1
    t.deleteWhere($"k1" === 2L)
    val h5 = t.describeHealth().collect().map(r => r.getString(0) -> r).toMap
    assert(h5("2024-01-01").getLong(6) == 1L,
      s"one post-stamp delete must read exactly 1, got ${h5("2024-01-01").getLong(6)}")
    // an UPDATE after the delete must NOT hide the delete's tightness
    // loss behind a fresh stamp: the count keeps growing until a heal
    t.updateWhere($"k1" === 1L, Map("f1" -> lit("a3")))
    val h6 = t.describeHealth().collect().map(r => r.getString(0) -> r).toMap
    assert(h6("2024-01-01").getLong(6) == 2L,
      "an update over a fallen-behind bloom hid the delete's staleness")
    // the heal the column drives: a compact writes an exact stamped
    // bloom and the count returns to 0
    t.compactPartitions(Seq("2024-01-01"))
    val h7 = t.describeHealth().collect().map(r => r.getString(0) -> r).toMap
    assert(h7("2024-01-01").getLong(6) == 0L, "compact must reset staleness")
  }

  test("randomized multi-writer soak: commit-protocol invariants hold under adversarial interleaving") {
    val root = tmpRoot()
    mkTable(root)
    val nThreads = 4
    val opsPer = 15
    // every (key, value) pair any writer ATTEMPTED to commit — recorded
    // BEFORE the op so the set over-approximates what can appear; a row
    // outside it in ANY version is corruption
    val attempted = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, String)]()
    // every schema field a writer SUCCESSFULLY evolved in — all must
    // survive to the final schema (evolve-vs-evolve lost updates and
    // evolve-vs-swap tears both surface here)
    val evolvedFields = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val aborted = new java.util.concurrent.atomic.AtomicInteger
    val committedOps = new java.util.concurrent.atomic.AtomicInteger
    val unexpected = new java.util.concurrent.CopyOnWriteArrayList[String]()
    // appends and merges of a key always target ITS day, so merges
    // upsert in place (cross-day moves are a different operator's job)
    def dayOf(key: Long): Int = 1 + (key % 3).toInt
    def hasFileNotFound(e: Throwable): Boolean = {
      var c = e; var depth = 0
      while (c != null && depth < 10) {
        if (c.isInstanceOf[java.io.FileNotFoundException] ||
          String.valueOf(c.getMessage).contains("FILE_NOT_EXIST")) return true
        c = c.getCause; depth += 1
      }
      false
    }
    val threads = (0 until nThreads).map { tid =>
      new Thread(() => {
        val rnd = new scala.util.Random(1000 + tid)
        val t = WarehouseTable.open(spark, root)
        (0 until opsPer).foreach { op =>
          val key = tid * 100000L + op
          try {
            rnd.nextInt(19) match {
              case 0 | 1 | 2 | 3 | 4 =>
                val v = s"a$tid-$op"
                attempted.add(key -> v)
                t.append(Seq((key, v)).toDF("k1", "f1")
                  .withColumn("partitionTime", ts(dayOf(key))))
                committedOps.incrementAndGet()
              case 10 =>
                // exactly-once streaming flush, sometimes REPLAYED: the
                // second call must converge to the same files, never
                // duplicate the key (b<batchId>- replay cleanup)
                val v = s"b$tid-$op"
                attempted.add(key -> v)
                val batch = Seq((key, v)).toDF("k1", "f1")
                  .withColumn("partitionTime", ts(dayOf(key)))
                val batchId = tid * 100000L + op
                t.appendBatch(batch, batchId)
                if (rnd.nextBoolean()) t.appendBatch(batch, batchId)
                committedOps.incrementAndGet()
              case 11 =>
                // content-addressed ingest (disjoint key namespace per
                // thread — cross-WRITER content dedup is a pipeline
                // contract, not a table one): re-ingesting one of this
                // thread's own keys must be dropped, never duplicated
                val ik = tid * 100000L + 50000L + rnd.nextInt(op + 1)
                val v = s"i$tid-$op"
                attempted.add(ik -> v)
                t.insertNewOnly(Seq((ik, v)).toDF("k1", "f1")
                  .withColumn("partitionTime", ts(dayOf(ik))))
                committedOps.incrementAndGet()
              case 5 | 6 =>
                // upsert an earlier key of THIS thread (or insert fresh)
                val mk = tid * 100000L + rnd.nextInt(op + 1)
                val v = s"m$tid-$op"
                attempted.add(mk -> v)
                t.merge(staged(Seq((mk, Some(v), 100L + op, dayOf(mk)))))
                committedOps.incrementAndGet()
              case 7 =>
                t.compactFragmented(2)
                committedOps.incrementAndGet()
              case 8 =>
                val h = t.history().map(_._1)
                if (h.size >= 2) { t.restore(h(1)); committedOps.incrementAndGet() }
              case 9 =>
                t.vacuum(retainVersions = 5)
                committedOps.incrementAndGet()
              case 12 =>
                // concurrent schema evolution (round-11 op-mix addition):
                // a new nullable field mid-soak, racing appends, swaps
                // and OTHER evolutions — any conflict must be the typed
                // abort, and a SUCCESSFUL evolve must never be lost
                val fname = s"ef_${tid}_$op"
                val evolved = t.evolveSchema(StructType(
                  t.schema.fields :+ StructField(fname, LongType, nullable = true)))
                assert(evolved.fieldNames.contains(fname))
                evolvedFields.add(fname)
                committedOps.incrementAndGet()
              case 13 =>
                // health read racing live writers: a swap may archive a
                // day mid-report — the report tolerates it (day simply
                // absent this snapshot); it must never crash or block
                val h = t.describeHealth().collect()
                assert(h.forall(_.getLong(1) >= 0L))
                committedOps.incrementAndGet()
              case 14 =>
                // predicate delete of one of THIS thread's earlier keys:
                // a swap op racing everything else; deletion only
                // removes rows, so the subset/uniqueness invariants
                // below still pin it
                val dk = tid * 100000L + rnd.nextInt(op + 1)
                t.deleteWhere($"k1" === dk)
                committedOps.incrementAndGet()
              case 15 =>
                // predicate update of one of THIS thread's earlier keys
                // (value recorded as attempted BEFORE the op so the
                // subset invariant keeps holding)
                val uk = tid * 100000L + rnd.nextInt(op + 1)
                val nv = s"u$tid-$op"
                attempted.add(uk -> nv)
                t.updateWhere($"k1" === uk, Map("f1" -> lit(nv)))
                committedOps.incrementAndGet()
              case 16 =>
                // byte-copy clone racing appends/swaps/vacuum (round-13
                // arm): either it lands a CONSISTENT standalone table —
                // unique keys, every row something a writer attempted —
                // or it aborts typed when a swap/vacuum moves a
                // resolved file mid-copy. Never a torn half-table.
                val destRoot = root + s"-clone-$tid-$op"
                val c = t.cloneToFast(destRoot)
                val rows = c.read().select($"k1", $"f1")
                  .as[(Long, String)].collect()
                assert(rows.map(_._1).distinct.length == rows.length,
                  s"clone has duplicate keys: ${rows.toSeq}")
                val bad = rows.filterNot(r => attempted.contains(r))
                assert(bad.isEmpty, s"clone invented rows: ${bad.toSeq}")
                new org.apache.hadoop.fs.Path(destRoot)
                  .getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .delete(new org.apache.hadoop.fs.Path(destRoot), true)
                committedOps.incrementAndGet()
              case 18 =>
                // standard-tools reader racing every writer: a
                // format("graft") load (current, or a random retained
                // versionAsOf) resolved mid-churn must either read a
                // CONSISTENT snapshot — unique keys, rows ⊆ attempted —
                // or abort typed (CME / vacuumed), never a torn read or
                // a spurious corruption error (round-13 resolution fix)
                val reader = spark.read.format("graft")
                val df = t.history().filter(!_._2.startsWith("pending:"))
                  .map(_._1) match {
                  case hs if hs.nonEmpty && rnd.nextBoolean() =>
                    reader.option("versionAsOf",
                      hs(rnd.nextInt(hs.size)).toString).load(root)
                  case _ => reader.load(root)
                }
                val rows = df.selectExpr("k1", "f1")
                  .as[(Long, String)].collect()
                assert(rows.map(_._1).distinct.length == rows.length,
                  s"connector read has duplicate keys: ${rows.toSeq}")
                val bad = rows.filterNot(r => attempted.contains(r))
                assert(bad.isEmpty, s"connector read invented rows: ${bad.toSeq}")
                committedOps.incrementAndGet()
              case 17 =>
                // CDC diff spanning whatever versions survive — racing
                // compactions (file membership churn without row
                // churn), swaps and vacuum. Tags must be well-formed;
                // vacuumed-under-read aborts are the typed retryable
                // outcome handled below.
                val hs = t.history()
                  .filter(!_._2.startsWith("pending:")).map(_._1)
                if (hs.size >= 2) {
                  val to = hs(rnd.nextInt(hs.size - 1))
                  val from = hs.filter(_ < to)(rnd.nextInt(hs.count(_ < to)))
                  val d = t.tableDiff(from, to)
                    .select($"change_type", $"k1").collect()
                  assert(d.forall(r =>
                    Set("added", "removed").contains(r.getString(0))),
                    s"malformed diff tags: ${d.toSeq}")
                  committedOps.incrementAndGet()
                }
            }
          } catch {
            // overlap aborts and vacuumed-away restore targets are the
            // protocol WORKING as designed under contention
            case _: java.util.ConcurrentModificationException =>
              aborted.incrementAndGet()
            case _: IllegalArgumentException =>
              aborted.incrementAndGet()
            // the restore/read target was vacuumed under the op — the
            // documented retryable outcome (readAsOf's TOCTOU recheck
            // distinguishes this from genuine corruption, which still
            // fails the soak)
            case e: IllegalStateException
                if String.valueOf(e.getMessage).contains("has been vacuumed")
                  || String.valueOf(e.getMessage)
                    .contains("vacuumed concurrently") =>
              aborted.incrementAndGet()
            // stale read plan: a concurrent swap MOVED this op's listed
            // files into the version archive mid-read — a retryable
            // abort by the documented contract (swapFilesGranular doc);
            // nothing committed, data intact in the archive
            case e: org.apache.spark.SparkException
                if String.valueOf(e.getMessage).contains("FAILED_READ")
                  || hasFileNotFound(e) =>
              aborted.incrementAndGet()
            // a metadata read (manifest/bloom/zone-map/archive listing)
            // racing a concurrent vacuum's delete: retryable by the
            // same contract — nothing committed, re-run reads current
            // state. Genuine corruption still fails: it surfaces as the
            // invariant checks below, not as an IOException.
            case _: java.io.IOException =>
              aborted.incrementAndGet()
            case e: Throwable =>
              unexpected.add(s"t$tid op$op: ${e.getClass.getName} ${e.getMessage}")
          }
        }
      })
    }
    // 5th actor (round-12): a MAINTENANCE loop that drives compaction,
    // bloom healing and vacuum FROM the health relation — the decision
    // loop README documents, now exercised under adversarial
    // concurrency. Health verdicts must never destroy data a writer
    // holds: every op it issues goes through the same claim protocol,
    // so a day a writer is mid-swap on aborts retryably here, and the
    // full-version invariants below pin that nothing was lost.
    val writersDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintCompact = new java.util.concurrent.atomic.AtomicInteger(0)
    val maintHeal = new java.util.concurrent.atomic.AtomicInteger(0)
    val maintVacuum = new java.util.concurrent.atomic.AtomicInteger(0)
    val maintenance = new Thread(() => {
      val t = WarehouseTable.open(spark, root)
      var tick = 0
      while (!writersDone.get()) {
        tick += 1
        try {
          val health = t.describeHealth(maxFilesPerDay = 3).collect()
          val fragmented = health.filter(_.getBoolean(9))
          val smallTail = health.filter(_.getLong(12) >= 3L)
          if (fragmented.nonEmpty || smallTail.nonEmpty) {
            // alternate the two compaction shapes: whole-day rewrite
            // (count pressure) and bin-packing small-file consolidation
            // (the small_files column's verdict)
            val acted =
              if (tick % 2 == 0) t.compactSmall(smallBytes = 1 << 20).nonEmpty
              else t.compactFragmented(3).nonEmpty
            if (acted) { maintCompact.incrementAndGet(); () }
          }
          val staleBlooms = health.filter(r =>
            r.getString(5) != "ok" || r.getLong(6) > 0L).map(_.getString(0))
          if (staleBlooms.nonEmpty) {
            t.compactPartitions(staleBlooms.toSeq)
            maintHeal.incrementAndGet(); ()
          }
          if (health.exists(_.getLong(8) > 3L)) {
            t.vacuum(retainVersions = 5)
            maintVacuum.incrementAndGet(); ()
          }
        } catch {
          case _: java.util.ConcurrentModificationException => ()
          case _: IllegalArgumentException => ()
          case e: IllegalStateException
              if String.valueOf(e.getMessage).contains("vacuumed") => ()
          case e: org.apache.spark.SparkException
              if String.valueOf(e.getMessage).contains("FAILED_READ")
                || hasFileNotFound(e) => ()
          case _: java.io.IOException => ()
          case e: Throwable =>
            unexpected.add(s"maintenance: ${e.getClass.getName} ${e.getMessage}")
        }
        Thread.sleep(15)
      }
    })
    threads.foreach(_.start())
    maintenance.start()
    threads.foreach(_.join(300000))
    writersDone.set(true)
    maintenance.join(120000)
    assert(unexpected.isEmpty, s"unexpected failures: $unexpected")
    assert(committedOps.get() > nThreads, "soak committed almost nothing — vacuous")
    assert(maintCompact.get() + maintHeal.get() + maintVacuum.get() > 0,
      "the health-driven maintenance actor never acted — vacuous")
    info(s"soak: ${committedOps.get()} committed, ${aborted.get()} aborted cleanly, " +
      s"maintenance: ${maintCompact.get()} compactions, ${maintHeal.get()} " +
      s"bloom heals, ${maintVacuum.get()} vacuums")

    val t = WarehouseTable.open(spark, root)
    // every SUCCESSFUL evolution survives: the lease-serialized
    // read-union-write can never lose a field to a concurrent evolve
    // or be torn by a racing swap
    val evolvedSet = {
      val it = evolvedFields.iterator(); val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next(); b.result()
    }
    val lostFields = evolvedSet -- t.schema.fieldNames.toSet
    assert(lostFields.isEmpty, s"evolved fields lost: $lostFields")
    assert(DataType.fromJson(t.schema.json) == t.schema, "schema file torn")
    // 1. history is strictly monotone and duplicate-free
    val h = t.history().map(_._1)
    assert(h == h.sorted.reverse && h.distinct == h, s"history not monotone: $h")
    // 2. EVERY surviving version is fully readable; its keys are
    //    unique; every row is something a writer actually attempted
    val attemptedSet = { // scala view of the concurrent set
      val it = attempted.iterator(); val b = Set.newBuilder[(Long, String)]
      while (it.hasNext) b += it.next(); b.result()
    }
    h.foreach { v =>
      val rows = t.readAsOf(v).select($"k1", $"f1")
        .as[(Long, String)].collect()
      assert(rows.map(_._1).distinct.length == rows.length,
        s"v$v has duplicate keys")
      val alien = rows.filterNot(attemptedSet)
      assert(alien.isEmpty, s"v$v contains rows nobody wrote: ${alien.take(3).toSeq}")
    }
    // 3. read() is exactly the current version's snapshot
    val cur = t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet
    val asOf = t.readAsOf(t.currentVersion).select($"k1", $"f1")
      .as[(Long, String)].collect().toSet
    assert(cur == asOf, "read() diverged from readAsOf(currentVersion)")
    // 4. a final vacuum leaves every RETAINED manifest's files on disk
    t.vacuum(retainVersions = 3)
    WarehouseTable.open(spark, root).history().map(_._1).foreach { v =>
      t.readAsOf(v).select($"k1").as[Long].collect() // throws on orphan
    }
  }
}
