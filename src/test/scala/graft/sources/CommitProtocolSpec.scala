package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Commit-protocol hardening from the round-10 advisor findings, tested
  * from inside the package so the protocol primitives (claimCommit,
  * commitSnapshot, manifestBatches) can be driven into the exact race
  * windows:
  *
  *  1. a claim landing on a VACUUMED committed slot (retention shorter
  *     than an op's read/stage window) must abort, never publish a
  *     manifest below CURRENT;
  *  2. exactly-once batch replay detection must survive a merge/compact
  *     rewriting the batch's files (manifest batch tags, not file-name
  *     prefixes) and a fresh-checkpoint restart reusing small batchIds
  *     (streamId namespacing);
  *  3. concurrent schema evolutions must both land (lease lock), never
  *     a torn last-write-wins schema;
  *  4. vacuum must reconcile landed-but-uncommitted files in live
  *     partition dirs (crash between staged move and commit).
  */
class CommitProtocolSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("proto-test").toString + "/tbl"

  private val destSchema = StructType(Seq(
    StructField("k1", LongType),
    StructField("f1", StringType)))

  private def ts(day: Int) = to_timestamp(lit(f"2024-01-$day%02d 12:00:00"))

  private def mkTable(root: String) =
    WarehouseTable.create(spark, root, Seq("k1"), destSchema)

  private def fs(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def path(p: String) = new org.apache.hadoop.fs.Path(p)

  private def batch(rows: Seq[(Long, String)], day: Int = 1): DataFrame =
    rows.toDF("k1", "f1").withColumn("partitionTime", ts(day))

  // ---- 1. vacuumed committed slot ----

  test("claimCommit on a vacuumed committed slot aborts and releases the slot") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a")))
    t.append(batch(Seq(2L -> "b")))
    t.append(batch(Seq(3L -> "c")))
    assert(t.currentVersion == 3L)
    // retention vacuumed v2's manifest during a straggler's read window
    fs(root).delete(path(s"$root/_graft/snapshots/v2.list"), false)
    // the straggler read at base 1 and now claims 2 — a spent version
    val e = intercept[java.util.ConcurrentModificationException] {
      t.claimCommit("merge", Seq("2024-01-01"), 2L)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // the probe-written manifest must not linger as a fake commit
    assert(!fs(root).exists(path(s"$root/_graft/snapshots/v2.list")),
      "aborted claim left a manifest on the vacuumed slot")
    assert(t.currentVersion == 3L)
    assert(t.read().count() == 3)
  }

  test("commitSnapshot below CURRENT aborts instead of publishing an invisible version") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a")))
    t.append(batch(Seq(2L -> "b")))
    t.append(batch(Seq(3L -> "c")))
    fs(root).delete(path(s"$root/_graft/snapshots/v2.list"), false)
    intercept[java.util.ConcurrentModificationException] {
      t.commitSnapshot("append", Map("2024-01-01" -> Seq("phantom.parquet")), 2L)
    }
    assert(!fs(root).exists(path(s"$root/_graft/snapshots/v2.list")))
    assert(t.currentVersion == 3L)
    // the chain is intact: current read unaffected
    assert(t.read().count() == 3)
  }

  // ---- 2. durable exactly-once batch tags ----

  test("batch replay after a merge rewrote its files is still a no-op (manifest tags)") {
    val root = tmpRoot()
    val t = mkTable(root)
    val b = batch(Seq(10L -> "x", 11L -> "y"))
    t.appendBatch(b, batchId = 7L)
    assert(t.read().count() == 2)
    // crash window: the marker never landed
    fs(root).delete(path(s"$root/_graft/batches/b7"), false)
    // a merge rewrites day 1 — the b7- file names are gone
    t.merge(Seq((10L, Some("x2"), 5L, 1))
      .toDF("k", "v", "i", "day").select(
        struct($"k".as("k1")).as("key"),
        when($"v".isNotNull, struct($"v".as("f1"))).as("value"),
        $"i",
        to_timestamp(format_string("2024-01-%02d 12:00:00", $"day")).as("partitionTime"),
        lit(0L).as("batchNumber")))
    val manifest = t.read().inputFiles.mkString("\n")
    assert(!manifest.contains("b7-"), "merge should have rewritten b7- files")
    // the tag survives in the manifest header, carried by the merge
    assert(t.manifestBatches(t.currentVersion)
      .exists(_.startsWith("default:7:")))
    // replay: must converge, not duplicate
    t.appendBatch(b, batchId = 7L)
    val rows = t.read().select($"k1", $"f1").as[(Long, String)].collect().toSet
    assert(rows == Set(10L -> "x2", 11L -> "y"),
      s"replayed batch after rewrite duplicated or clobbered rows: $rows")
  }

  test("a fresh checkpoint reusing small batchIds is namespaced — new data still lands") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.appendBatch(batch(Seq(1L -> "a")), batchId = 0L, streamId = "ckptA")
    assert(t.read().count() == 1)
    // restart with a NEW checkpoint: batchId 0 again, different data
    t.appendBatch(batch(Seq(2L -> "b")), batchId = 0L, streamId = "ckptB")
    assert(t.read().count() == 2,
      "fresh-checkpoint batch 0 was silently no-op'd by the old run's marker")
    // replay within each namespace still converges
    t.appendBatch(batch(Seq(2L -> "b")), batchId = 0L, streamId = "ckptB")
    assert(t.read().count() == 2)
  }

  test("batch tags are window-pruned per stream — the manifest header stays O(streams)") {
    val root = tmpRoot()
    val t = mkTable(root)
    (0L until 70L).foreach { id =>
      t.appendBatch(batch(Seq((1000L + id) -> s"v$id")), batchId = id)
    }
    val tags = t.manifestBatches(t.currentVersion)
    assert(tags.nonEmpty)
    val ids = tags.map(_.split(":")(1).toLong)
    assert(ids.max == 69L)
    assert(ids.min > 69L - 64L - 1L,
      s"tags older than the replay window survived pruning: ${ids.min}")
    assert(tags.size <= 65, s"manifest batch header grew unbounded: ${tags.size}")
  }

  test("a dead checkpoint lineage's tags and markers age out of the table") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.appendBatch(batch(Seq(1L -> "a")), batchId = 0L, streamId = "deadCkpt")
    assert(t.manifestBatches(t.currentVersion).exists(_.startsWith("deadCkpt:")))
    // a week passes: the dead lineage's last commit is beyond retention
    sys.props("graft.batchTagRetentionMs") = "50"
    try {
      Thread.sleep(100)
      t.appendBatch(batch(Seq(2L -> "b")), batchId = 0L, streamId = "liveCkpt")
      val tags = t.manifestBatches(t.currentVersion)
      assert(!tags.exists(_.startsWith("deadCkpt:")),
        s"dead stream's tags still carried: $tags")
      assert(tags.exists(_.startsWith("liveCkpt:")))
      // both batches' DATA is intact — only the exactly-once metadata ages
      assert(t.read().count() == 2)
      // markers: the dead lineage's marker file ages out via vacuum
      val markers = path(s"$root/_graft/batches")
      assert(fs(root).listStatus(markers).exists(
        _.getPath.getName.startsWith("deadCkpt-")))
      Thread.sleep(100)
      t.vacuum(retainVersions = 10)
      assert(!fs(root).listStatus(markers).exists(
          _.getPath.getName.startsWith("deadCkpt-")),
        "dead lineage's marker survived vacuum past retention")
    } finally { sys.props.remove("graft.batchTagRetentionMs"); () }
  }

  // ---- 3. concurrent schema evolution ----

  test("concurrent evolutions both land: the schema file only ever grows") {
    val root = tmpRoot()
    mkTable(root)
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val threads = (0 until 4).map { tid =>
      new Thread(() => {
        try {
          val t = WarehouseTable.open(spark, root)
          (0 until 3).foreach { i =>
            t.evolveSchema(StructType(destSchema.fields :+
              StructField(s"ef_${tid}_$i", LongType, nullable = true)))
          }
        } catch { case e: Throwable => errs.add(e); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"evolution failed: ${errs.toArray.toSeq.take(2)}")
    val fields = WarehouseTable.open(spark, root).schema.fieldNames.toSet
    val expected = (for (tid <- 0 until 4; i <- 0 until 3)
      yield s"ef_${tid}_$i").toSet
    val lost = expected -- fields
    assert(lost.isEmpty, s"lost-update dropped evolved fields: $lost")
    // the lock file never lingers
    assert(!fs(root).exists(path(s"$root/_graft/schema.lock")))
  }

  test("a crashed evolver's stale lock is broken, not waited on forever") {
    val root = tmpRoot()
    val t = mkTable(root)
    // a lock from a holder that died 2 minutes ago
    val lock = s"$root/_graft/schema.lock"
    val out = fs(root).create(path(lock), false)
    out.write((System.currentTimeMillis() - 120000L).toString.getBytes("UTF-8"))
    out.close()
    val evolved = t.evolveSchema(StructType(destSchema.fields :+
      StructField("late_field", StringType, nullable = true)))
    assert(evolved.fieldNames.contains("late_field"))
    assert(!fs(root).exists(path(lock)))
  }

  // ---- 4. vacuum reconciles landed-but-uncommitted live files ----

  test("vacuum sweeps an uncommitted live-dir file; fresh and committed files survive") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a")))
    val dayDir = s"$root/data/_pday=2024-01-01"
    assert(fs(root).exists(path(dayDir)), s"expected live day dir at $dayDir")
    // a crashed writer's landed-but-never-committed file, old enough
    // that no live writer can be mid-commit on it
    val orphan = s"$dayDir/orphan-uncommitted.parquet"
    val o = fs(root).create(path(orphan), false)
    o.write("not really parquet".getBytes("UTF-8")); o.close()
    fs(root).setTimes(path(orphan), System.currentTimeMillis() - 3600000L, -1)
    // and a FRESH uncommitted file (a live writer mid-commit): kept
    val fresh = s"$dayDir/fresh-midcommit.parquet"
    val f = fs(root).create(path(fresh), false)
    f.write("mid commit".getBytes("UTF-8")); f.close()
    t.vacuum(retainVersions = 5)
    assert(!fs(root).exists(path(orphan)),
      "aged uncommitted live file survived vacuum — phantom rows for read()")
    assert(fs(root).exists(path(fresh)),
      "fresh (possibly mid-commit) file must not be swept")
    // committed data intact (drop the fake mid-commit file before the
    // listing-based read — it is not real parquet)
    fs(root).delete(path(fresh), false)
    assert(t.read().select($"k1").as[Long].collect().toSeq == Seq(1L))
  }

  // ---- row gate for the driver bloom fold ----

  test("bloom fold gate: rows and bytes must BOTH pass; skinny-key overflow goes distributed") {
    assert(WarehouseTable.useDriverBloomFold(1024L, 100L))
    // skinny-key batch: tiny bytes, huge rows → distributed
    assert(!WarehouseTable.useDriverBloomFold(1024L,
      WarehouseTable.appendHashCollectMaxRows + 1L))
    // fat rows: big bytes → distributed even at low row count
    assert(!WarehouseTable.useDriverBloomFold(
      WarehouseTable.appendHashCollectMaxBytes + 1L, 10L))
    // rows unknown-over sentinel (footer reads stopped at the byte gate)
    assert(!WarehouseTable.useDriverBloomFold(1024L, -1L))
    // and end-to-end: under a 2-row gate a 10-row append takes the
    // distributed branch yet produces working blooms (identical sizing)
    sys.props("graft.appendHashCollectMaxRows") = "2"
    try {
      val root = tmpRoot()
      val t = mkTable(root)
      t.append(batch((1L to 10L).map(i => i -> s"v$i")))
      // bloom soundness probe: insertNewOnly consults the day blooms to
      // find candidate days — a bloom that MISSED its own keys would
      // skip the history probe and duplicate every row
      t.insertNewOnly(batch((1L to 10L).map(i => i -> s"v$i")))
      assert(t.read().count() == 10,
        "distributed-branch bloom missed its own keys: re-ingest duplicated rows")
    } finally { sys.props.remove("graft.appendHashCollectMaxRows"); () }
  }

  // ---- 5. file-granular DML crash injection ----

  test("DML crash between file-granular swap and finalize: committed readers " +
      "abort (never a mix), recovery restores the generation, replay converges") {
    val root = tmpRoot()
    val t = mkTable(root)
    (1 to 4).foreach(i => t.append(batch(Seq(i.toLong -> s"v$i"))))
    val cur = t.currentVersion
    val day = "2024-01-01"
    // the one file holding k1=2 (each append wrote its own file)
    val fname = t.read().where($"k1" === 2L)
      .select(input_file_name()).head().getString(0).split('/').last
    val liveNamesBefore = fs(root)
      .listStatus(path(s"$root/data/_pday=$day")).map(_.getPath.getName).toSet
    // stage the rewrite (k1=2 updated), claim, swap — then CRASH before
    // finalizeCommit: the exact window the file-granular `_prelive`
    // journal exists for
    val staging = s"$root/.merge-crash1"
    Seq((2L, "upd")).toDF("k1", "f1").withColumn("_pday", lit(day))
      .write.partitionBy("_pday").parquet(staging)
    val v = t.claimCommit("update-where", Seq(day), cur + 1)
    t.swapFilesGranular(Some(staging), Map(day -> Seq(fname)), v)
    assert(t.currentVersion == cur, "crashed swap must not advance CURRENT")
    // committed reader: the manifest's replaced file is in the archive,
    // so the stale-read guard aborts retryably — never a mixed read
    intercept[java.util.ConcurrentModificationException] {
      t.readCommitted(Seq(day)).count()
    }
    // a PINNED old snapshot still reads exactly, resolving per file
    // across the partial archive (replaced file) and live (carried)
    assert(t.readAsOf(cur - 1).count() == 3,
      "as-of read during a torn partial swap lost rows")
    // age the claim and collide with it: recovery rolls the day back
    val claimPath = java.nio.file.Paths.get(
      s"$root/_graft/snapshots/v$v.list")
    val aged = new String(java.nio.file.Files.readAllBytes(claimPath), "UTF-8")
      .replaceFirst("\\t\\d+\\t",
        "\t" + (System.currentTimeMillis() - 20L * 60 * 1000) + "\t")
    java.nio.file.Files.write(claimPath, aged.getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException] {
      t.claimCommit("compact", Seq(day), v)
    }
    // rolled back file-by-file: the exact pre-claim file set is live
    val liveNamesAfter = fs(root)
      .listStatus(path(s"$root/data/_pday=$day")).map(_.getPath.getName).toSet
    assert(liveNamesAfter == liveNamesBefore,
      s"rollback did not restore the generation: $liveNamesAfter vs $liveNamesBefore")
    assert(t.currentVersion == cur && !fs(root).exists(
      path(s"$root/_graft/snapshots/v$v.list")))
    val rows = t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "v1", 2L -> "v2", 3L -> "v3", 4L -> "v4"),
      s"rollback corrupted rows: $rows")
    // replay of the op converges to the intended result
    t.updateWhere($"k1" === 2L, Map("f1" -> lit("upd")))
    val after = t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "v1", 2L -> "upd", 3L -> "v3", 4L -> "v4"))
    assert(t.readAsOf(cur).select($"k1", $"f1").as[(Long, String)]
      .collect().toMap.apply(2L) == "v2", "pre-replay snapshot lost")
  }

  test("file-granular swap crash after its journal, before the first rename: " +
      "recovery leaves the live day intact") {
    val root = tmpRoot()
    val t = mkTable(root)
    (1 to 3).foreach(i => t.append(batch(Seq(i.toLong -> s"v$i"))))
    val cur = t.currentVersion
    val day = "2024-01-01"
    val liveNamesBefore = fs(root)
      .listStatus(path(s"$root/data/_pday=$day")).map(_.getPath.getName).toSet
    // claim, journal, create the day's archive dir — then CRASH before
    // any file moves: an archive day dir with nothing in it, which a
    // whole-day rollback would read as "the day had no generation"
    val v = t.claimCommit("update-where", Seq(day), cur + 1)
    t.journalLiveFiles(Seq(day), v)
    fs(root).mkdirs(path(s"$root/_graft/history/v$v/_pday=$day"))
    // age the claim and collide with it: recovery runs
    val claimPath = java.nio.file.Paths.get(
      s"$root/_graft/snapshots/v$v.list")
    val aged = new String(java.nio.file.Files.readAllBytes(claimPath), "UTF-8")
      .replaceFirst("\\t\\d+\\t",
        "\t" + (System.currentTimeMillis() - 20L * 60 * 1000) + "\t")
    java.nio.file.Files.write(claimPath, aged.getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException] {
      t.claimCommit("compact", Seq(day), v)
    }
    val liveNamesAfter = fs(root)
      .listStatus(path(s"$root/data/_pday=$day")).map(_.getPath.getName).toSet
    assert(liveNamesAfter == liveNamesBefore,
      s"recovery changed the intact live day: $liveNamesAfter vs $liveNamesBefore")
    assert(t.currentVersion == cur && !fs(root).exists(
      path(s"$root/_graft/snapshots/v$v.list")) &&
      !fs(root).exists(path(s"$root/_graft/history/v$v")))
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap ==
      Map(1L -> "v1", 2L -> "v2", 3L -> "v3"))
  }

  test("landing markers: a live writer's landed-but-uncommitted files are " +
      "never swept, however old their rename-preserved mtimes read") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a")))
    t.append(batch(Seq(2L -> "b")))
    val day = "2024-01-01"
    // the advisor scenario: a writer whose staging write happened long
    // ago (rename preserves mtime!) has landed its files and is still
    // mid-protocol (bloom build / commit walk) — its landing marker is
    // young even though the files read ancient
    val landed = path(s"$root/data/_pday=$day/part-inflight-writer.parquet")
    val out = fs(root).create(landed, false)
    out.write("landing in progress".getBytes("UTF-8")); out.close()
    val ancient = System.currentTimeMillis() - 4 * WarehouseTable.staleClaimTimeoutMs
    fs(root).setTimes(landed, ancient, ancient)
    // young landing marker covering the day (what writeStagedInto
    // creates before its first rename)
    val marker = path(s"$root/_graft/landings/inflight-writer")
    val mo = fs(root).create(marker, false)
    mo.write(day.getBytes("UTF-8")); mo.close()
    t.vacuum(retainVersions = 5)
    assert(fs(root).exists(landed),
      "vacuum swept a landing-marker-protected file — committed-data " +
        "loss when its writer later publishes the manifest")
    // writer finishes (releases the marker): the file is fair game on
    // the normal aged-unmanifested sweep
    fs(root).delete(marker, false)
    t.vacuum(retainVersions = 5)
    assert(!fs(root).exists(landed),
      "released + aged unmanifested file must be swept")
    // a CRASHED writer's marker ages out on the landing retention and
    // takes its files with it (both sides of the protection bounded)
    val landed2 = path(s"$root/data/_pday=$day/part-crashed-writer.parquet")
    val o2 = fs(root).create(landed2, false)
    o2.write("crashed".getBytes("UTF-8")); o2.close()
    fs(root).setTimes(landed2, ancient, ancient)
    val marker2 = path(s"$root/_graft/landings/crashed-writer")
    val m2 = fs(root).create(marker2, false)
    m2.write(day.getBytes("UTF-8")); m2.close()
    val pastRetention =
      System.currentTimeMillis() - 2 * WarehouseTable.landingRetentionMs
    fs(root).setTimes(marker2, pastRetention, pastRetention)
    t.vacuum(retainVersions = 5)
    assert(!fs(root).exists(marker2), "aged landing marker must be dropped")
    assert(!fs(root).exists(landed2),
      "a crashed writer's files must age out with its marker")
    assert(t.read().count() == 2, "committed rows were touched")
  }

  test("DML crash after staging (before any claim): the orphan staging dir " +
      "is swept by vacuum once aged") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a")))
    t.append(batch(Seq(2L -> "b")))
    val orphan = s"$root/.merge-dmlcrash"
    fs(root).mkdirs(path(s"$orphan/_pday=2024-01-01"))
    val old = System.currentTimeMillis() - 2 * WarehouseTable.staleClaimTimeoutMs
    fs(root).setTimes(path(orphan), old, old)
    t.vacuum(retainVersions = 5)
    assert(!fs(root).exists(path(orphan)),
      "aged DML staging dir survived vacuum")
    assert(t.read().count() == 2)
  }

  // ---- 6. one on-disk format: snapshot-versioned tables only ----

  test("open rejects a table directory with no snapshots/CURRENT and names the path") {
    val root = tmpRoot()
    mkTable(root).append(batch(Seq(1L -> "a", 2L -> "b")))
    // data, schema, keys and options are all present; only the
    // snapshot pointer is missing — a directory written before
    // snapshot versioning
    fs(root).delete(path(s"$root/_graft/snapshots"), true)
    assert(fs(root).exists(path(s"$root/_graft/schema.json")))
    assert(fs(root).listStatus(path(s"$root/data/_pday=2024-01-01")).nonEmpty)
    val e = intercept[IllegalStateException](WarehouseTable.open(spark, root))
    assert(e.getMessage.contains(root) &&
      e.getMessage.contains("_graft/snapshots/CURRENT"), e.getMessage)
    // create's existing-table branch applies the same check
    intercept[IllegalStateException](mkTable(root))
  }

  // ---- 6b. round-13: restore / cloneToFast crash windows ----

  test("restore crash between whole-day swap and finalize: recovery restores " +
      "the pre-restore generation exactly; replay converges") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a", 2L -> "b")))                // v1
    t.append(batch(Seq(3L -> "c")))                           // v2
    t.updateWhere($"k1" === 2L, Map("f1" -> lit("b2")))       // v3
    val cur = t.currentVersion
    val day = "2024-01-01"
    val liveBefore = fs(root)
      .listStatus(path(s"$root/data/_pday=$day")).map(_.getPath.getName).toSet
    // simulate restore(1)'s swap window: stage the as-of rows, claim,
    // swap the whole day (every live file replaced, the restore path) —
    // CRASH before finalizeCommit
    val staging = s"$root/.restore-crash"
    Seq((1L, "a"), (2L, "b")).toDF("k1", "f1").withColumn("_pday", lit(day))
      .write.partitionBy("_pday").parquet(staging)
    val v = t.claimCommit("restore", Seq(day), cur + 1)
    t.swapFilesGranular(Some(staging), Map(day -> liveBefore.toSeq.sorted), v)
    assert(t.currentVersion == cur, "crashed restore advanced CURRENT")
    // committed read aborts retryably mid-tear, as for every swap op
    intercept[java.util.ConcurrentModificationException] {
      t.readCommitted(Seq(day)).count()
    }
    // age + collide: recovery rolls back the whole-day generation
    val claimPath = java.nio.file.Paths.get(s"$root/_graft/snapshots/v$v.list")
    val aged = new String(java.nio.file.Files.readAllBytes(claimPath), "UTF-8")
      .replaceFirst("\\t\\d+\\t",
        "\t" + (System.currentTimeMillis() - 20L * 60 * 1000) + "\t")
    java.nio.file.Files.write(claimPath, aged.getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException] {
      t.claimCommit("compact", Seq(day), v)
    }
    val liveAfter = fs(root)
      .listStatus(path(s"$root/data/_pday=$day")).map(_.getPath.getName).toSet
    assert(liveAfter == liveBefore,
      s"restore rollback not exact: $liveAfter vs $liveBefore")
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // replay converges to the intended restore
    t.restore(1)
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b"))
    assert(t.readAsOf(cur).select($"k1", $"f1").as[(Long, String)]
      .collect().toMap.apply(2L) == "b2", "pre-restore snapshot lost")
  }

  test("day-scoped overwrite crash between slice swap and finalize: " +
      "rollback is exact, untouched days keep serving, replay converges") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a", 2L -> "b"), day = 1))       // v1
    t.append(batch(Seq(3L -> "c"), day = 2))                  // v2
    val cur = t.currentVersion
    val day = "2024-01-01"
    val liveBefore = fs(root)
      .listStatus(path(s"$root/data/_pday=$day")).map(_.getPath.getName).toSet
    // simulate overwriteDays' window: stage the replacement slice,
    // claim ONLY that day, swap the whole day — CRASH before
    // finalizeCommit
    val staging = s"$root/.overwrite-crash"
    Seq((10L, "x")).toDF("k1", "f1").withColumn("_pday", lit(day))
      .write.partitionBy("_pday").parquet(staging)
    val v = t.claimCommit("overwrite", Seq(day), cur + 1)
    t.swapFilesGranular(Some(staging), Map(day -> liveBefore.toSeq.sorted), v)
    assert(t.currentVersion == cur, "crashed backfill advanced CURRENT")
    // the UNTOUCHED day keeps serving committed reads mid-tear
    assert(t.readCommitted(Seq("2024-01-02")).count() == 1)
    // the torn day aborts retryably, as for every swap op
    intercept[java.util.ConcurrentModificationException] {
      t.readCommitted(Seq(day)).count()
    }
    // age + collide: recovery rolls the slice back exactly
    val claimPath = java.nio.file.Paths.get(s"$root/_graft/snapshots/v$v.list")
    val aged = new String(java.nio.file.Files.readAllBytes(claimPath), "UTF-8")
      .replaceFirst("\\t\\d+\\t",
        "\t" + (System.currentTimeMillis() - 20L * 60 * 1000) + "\t")
    java.nio.file.Files.write(claimPath, aged.getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException] {
      t.claimCommit("compact", Seq(day), v)
    }
    val liveAfter = fs(root)
      .listStatus(path(s"$root/data/_pday=$day")).map(_.getPath.getName).toSet
    assert(liveAfter == liveBefore,
      s"backfill rollback not exact: $liveAfter vs $liveBefore")
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // replay converges: the retried backfill replaces exactly the slice
    t.overwriteDays(
      Seq((10L, "x")).toDF("k1", "f1").withColumn("partitionTime", ts(1)),
      days = Seq(day))
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
      == Map(10L -> "x", 3L -> "c"))
    assert(t.readAsOf(cur).count() == 3, "pre-backfill snapshot lost")
  }

  test("truncate crash between its swap and finalize: recovery restores " +
      "every day's files and rows exactly") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a", 2L -> "b"), day = 1))       // v1
    t.append(batch(Seq(3L -> "c"), day = 2))                  // v2
    val cur = t.currentVersion
    val days = Seq("2024-01-01", "2024-01-02")
    def liveNames(d: String) =
      fs(root).listStatus(path(s"$root/data/_pday=$d")).map(_.getPath.getName).toSet
    val liveBefore = days.map(d => d -> liveNames(d)).toMap
    // simulate truncate()'s window: claim every day, swap every live
    // file out with nothing staged — CRASH before finalizeCommit
    val v = t.claimCommit("truncate", days, cur + 1)
    t.swapFilesGranular(None, liveBefore.map { case (d, n) => d -> n.toSeq.sorted }, v)
    assert(t.currentVersion == cur, "crashed truncate advanced CURRENT")
    assert(t.listDays().isEmpty, "the swap left a live day behind")
    // age + collide: recovery moves every archived file back
    val claimPath = java.nio.file.Paths.get(s"$root/_graft/snapshots/v$v.list")
    val aged = new String(java.nio.file.Files.readAllBytes(claimPath), "UTF-8")
      .replaceFirst("\\t\\d+\\t",
        "\t" + (System.currentTimeMillis() - 20L * 60 * 1000) + "\t")
    java.nio.file.Files.write(claimPath, aged.getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException] {
      t.claimCommit("compact", Seq(days.head), v)
    }
    assert(days.map(d => d -> liveNames(d)).toMap == liveBefore,
      "truncate rollback did not restore every day's files")
    assert(t.currentVersion == cur && !fs(root).exists(
      path(s"$root/_graft/snapshots/v$v.list")) &&
      !fs(root).exists(path(s"$root/_graft/history/v$v")))
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // replay converges: the retried truncate empties the table, and the
    // pre-truncate snapshot still reads exactly
    assert(t.truncate() == days)
    assert(t.read().count() == 0 && t.listDays().isEmpty)
    assert(t.readAsOf(cur).select($"k1", $"f1").as[(Long, String)]
      .collect().toMap == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("recovery refuses an archive with day dirs but no swap journal and " +
      "names the version") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a")))
    val cur = t.currentVersion
    val day = "2024-01-01"
    // a crashed claim whose archive holds a day dir but no _prelive
    val v = t.claimCommit("compact", Seq(day), cur + 1)
    fs(root).mkdirs(path(s"$root/_graft/history/v$v/_pday=$day"))
    val claimPath = java.nio.file.Paths.get(s"$root/_graft/snapshots/v$v.list")
    val aged = new String(java.nio.file.Files.readAllBytes(claimPath), "UTF-8")
      .replaceFirst("\\t\\d+\\t",
        "\t" + (System.currentTimeMillis() - 20L * 60 * 1000) + "\t")
    java.nio.file.Files.write(claimPath, aged.getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      t.claimCommit("compact", Seq(day), v)
    }
    assert(e.getMessage.contains(s"v$v ") && e.getMessage.contains("_prelive"),
      e.getMessage)
    // nothing was rolled back on a guess: the live day is untouched
    assert(t.read().select($"k1").as[Long].collect().toSeq == Seq(1L))
  }

  test("compactPartitions swaps a day out whole: a landed-but-uncommitted " +
      "file leaves the live day, committed rows and the pre-compaction " +
      "snapshot read exactly") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a")))                           // v1
    t.append(batch(Seq(2L -> "b")))                           // v2
    val cur = t.currentVersion
    val day = "2024-01-01"
    // a concurrent writer's landed file that never committed (no
    // landing marker): live, but in no manifest
    val junk = s"$root/.junk-landing"
    Seq((99L, "junk")).toDF("k1", "f1").coalesce(1).write.parquet(junk)
    val junkFile = fs(root).listStatus(path(junk))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs(root).rename(junkFile, path(s"$root/data/_pday=$day/${junkFile.getName}"))
    assert(t.read().count() == 3, "premise: the listing read sees the landing")
    assert(t.compactPartitions(Seq(day)) == Seq(day))
    val live = fs(root).listStatus(path(s"$root/data/_pday=$day"))
      .map(_.getPath.getName).toSet
    assert(!live.contains(junkFile.getName),
      "the whole-day swap left the uncommitted file live")
    assert(fs(root).exists(path(
      s"$root/_graft/history/v${cur + 1}/_pday=$day/${junkFile.getName}")),
      "the uncommitted file was not archived with the replaced day")
    assert(t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b"))
    assert(t.readAsOf(cur).select($"k1", $"f1").as[(Long, String)]
      .collect().toMap == Map(1L -> "a", 2L -> "b"))
  }

  test("cloneToFast crash mid-copy: the torn destination reads as EMPTY " +
      "committed state, sweeps clean, and a fresh clone converges") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a", 2L -> "b")))
    t.append(batch(Seq(3L -> "c"), day = 2))
    val destRoot = tmpRoot()
    // simulate the copy phase dying before the dest commit: dest table
    // created, SOME data files byte-copied, no snapshot
    val dest = WarehouseTable.create(spark, destRoot, Seq("k1"), destSchema)
    val srcDay = fs(root).listStatus(path(s"$root/data/_pday=2024-01-01"))
      .filter(_.isFile).head.getPath
    fs(root).mkdirs(path(s"$destRoot/data/_pday=2024-01-01"))
    org.apache.hadoop.fs.FileUtil.copy(fs(root), srcDay,
      fs(destRoot), path(s"$destRoot/data/_pday=2024-01-01/${srcDay.getName}"),
      false, spark.sparkContext.hadoopConfiguration)
    // CURRENT=0: the torn copy is invisible to committed readers
    assert(dest.currentVersion == 0L)
    assert(dest.readCommitted(Seq("2024-01-01")).count() == 0L,
      "torn clone data visible through committed read")
    assert(dest.connectorFileGroups(None).isEmpty,
      "torn clone data visible through the connector")
    // the same dest root cannot be silently half-reused
    intercept[IllegalArgumentException] { t.cloneToFast(destRoot) }
    // recovery: sweep the torn dest and re-clone fresh
    fs(destRoot).delete(path(destRoot), true)
    val c = t.cloneToFast(destRoot)
    assert(c.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(c.currentVersion == 1L)
  }

  // ---- 6c. round-13: bloom lease ----

  test("bloom lease: a crashed holder's stale lease is broken; a LIVE " +
      "holder forces the conservative drop, never an unserialised write") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a")))
    val leasePath = path(s"$root/_graft/bloom2/.lease")
    val bloom = path(s"$root/_graft/bloom2/2024-01-01.bloom")
    assert(fs(root).exists(bloom) && !fs(root).exists(leasePath),
      "append must write its bloom and release the lease")
    // 1. stale lease (dead writer): broken, the append's bloom merge
    // proceeds, the lease is released again
    val stale = (System.currentTimeMillis() - 10L * 60 * 1000).toString + ":dead"
    val o = fs(root).create(leasePath); o.write(stale.getBytes("UTF-8")); o.close()
    t.append(batch(Seq(2L -> "b")))
    assert(fs(root).exists(bloom), "bloom lost after breaking a stale lease")
    assert(!fs(root).exists(leasePath), "broken lease not released")
    assert(t.read().count() == 2)
    // 2. live lease (fresh timestamp, another writer mid-section):
    // with a tiny wait budget the appender must NOT write the shared
    // bloom unserialised — it drops the day's bloom (conservative:
    // missing = always-candidate) and the append itself still commits
    val live = System.currentTimeMillis().toString + ":alive"
    val o2 = fs(root).create(leasePath); o2.write(live.getBytes("UTF-8")); o2.close()
    System.setProperty("graft.bloomLeaseWaitMs", "300")
    try {
      t.append(batch(Seq(3L -> "c")))
      assert(t.read().count() == 3, "append data must not depend on the bloom lease")
      assert(!fs(root).exists(bloom),
        "lease-timeout append must drop the day bloom, not write past the holder")
      assert(fs(root).exists(leasePath), "the live holder's lease must survive")
    } finally {
      System.clearProperty("graft.bloomLeaseWaitMs")
      fs(root).delete(leasePath, false)
    }
    // 3. healing: the missing bloom reads as always-candidate until an
    // exact pass (compact) rebuilds it under the freed lease
    t.compactPartitions(Seq("2024-01-01"))
    assert(fs(root).exists(bloom), "compaction did not heal the dropped bloom")
    // merge still lands exactly (bloom coverage conservative throughout)
    t.merge(Seq((2L, Some("b2"), 9L, 1)).toDF("k", "v", "i", "day").select(
      struct($"k".as("k1")).as("key"), struct($"v".as("f1")).as("value"),
      $"i".as("i"), to_timestamp(lit("2024-01-01 13:00:00")).as("partitionTime")))
    val rows = t.read().select($"k1", $"f1").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  // ---- 7. round-12 advisor: off-chain stale slot must be POSITIVELY
  //      confirmed vacuumed before deletion ----

  test("commitSnapshot on an off-chain slot with no predating successor is " +
      "INDETERMINATE — the manifest is kept, never deleted as a zombie") {
    val root = tmpRoot()
    val t = mkTable(root)
    t.append(batch(Seq(1L -> "a")))
    t.append(batch(Seq(2L -> "b")))
    t.append(batch(Seq(3L -> "c")))
    // simulate the third history's observable state: slot 2 free, but
    // every retained successor in (2, CURRENT] commits AFTER the
    // straggler's manifest write (a successor could have rebased on it
    // and a later swap rewritten the files) — re-date v3 to the future
    fs(root).delete(path(s"$root/_graft/snapshots/v2.list"), false)
    val v3 = java.nio.file.Paths.get(s"$root/_graft/snapshots/v3.list")
    val future = new String(java.nio.file.Files.readAllBytes(v3), "UTF-8")
      .replaceFirst("\\t\\d+\\t",
        "\t" + (System.currentTimeMillis() + 60L * 60 * 1000) + "\t")
    java.nio.file.Files.write(v3, future.getBytes("UTF-8"))
    intercept[WarehouseTable.CommitIndeterminateException] {
      t.commitSnapshot("append", Map("2024-01-01" -> Seq("maybe.parquet")), 2L)
    }
    // the possibly-published manifest must survive for the operator
    assert(fs(root).exists(path(s"$root/_graft/snapshots/v2.list")),
      "indeterminate off-chain manifest was deleted")
    assert(t.currentVersion == 3L)
  }
}
