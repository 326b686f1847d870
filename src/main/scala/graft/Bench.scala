package graft

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line for the driver's BENCH_r{N}.json.
  *
  * Failure is never silent: a query that throws records `-1` in the
  * queries map plus its message in `errors`, and is excluded from the
  * total — a broken query can't masquerade as a fast one.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val byName = SparkEntry.queries

    // Timed action: a NOOP WRITE, not count(). count() lets Catalyst
    // prune plan parts that don't affect cardinality — outer-join
    // elimination in particular turned t24's probe-side joins (and,
    // once its train-side relations stopped being EAGERLY checkpointed,
    // the whole LM build) into dead code, timing a fraction of the real
    // work. A noop write materializes every output column: the time is
    // the full query, the same thing a user pays. Methodology change in
    // round 15 — earlier rounds' per-query figures were count()-based
    // and read LOW for join-attach-shaped queries (recorded in the
    // "action" field so cross-round comparisons can adjust).
    def timed(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def loadavg(): String = graft.util.LoadGate.loadavg()

    // LOAD GATE (round-16, after the r15 artifact was captured at
    // loadavg 10.2 and contradicted the round's quiet-machine claims):
    // each measurement TIER waits until the 1-min loadavg drops below
    // a threshold before its timed arms start, so an externally-loaded
    // machine can never silently become the artifact of record. A tier
    // that times out still runs, but is flagged in `load_gate.timeouts`,
    // making the artifact self-invalidating rather than silently wrong.
    // The gate itself is `graft.util.LoadGate` (r17: factored out so
    // `ExponentSweep` runs under the identical gate instead of billing
    // itself clean without one — the r16 SWEEP100X loadavg-9.88 gap).
    val loadGateThreshold = graft.util.LoadGate.threshold
    var loadGateWaits = 0
    val loadGateTimeouts = scala.collection.mutable.ArrayBuffer.empty[String]
    def awaitQuiet(tier: String): Unit = {
      val o = graft.util.LoadGate.awaitQuiet(tier)
      if (o.waited) loadGateWaits += 1
      if (o.timedOut) loadGateTimeouts += tier
    }

    // Inter-query isolation: queries that cache/localCheckpoint release
    // their own references, but the BLOCKS only die when the RDD object
    // is GC'd (ContextCleaner), and shuffle files likewise. Across 17
    // back-to-back queries in one JVM that lag accumulates into storage
    // evictions and disk pressure that bleed into later queries' times —
    // so explicitly drop every persisted RDD and nudge the cleaner
    // between timed queries (outside the timers).
    //
    // NOTE the expected WARNs: unpersisting a locally-checkpointed RDD
    // logs "cannot be recomputed after unpersisting" per block. That is
    // benign HERE — every query's results are fully materialized
    // (collected/counted) before the reset, so nothing downstream will
    // ever recompute those RDDs. It is a log-noise artifact of the
    // isolation sweep, not data loss.
    def resetSession(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
      // r17: DRAIN, don't just request. unpersist/clearCache release
      // REFERENCES, but the blocks (and every broadcast any query built
      // — ~150 of them by the 100× tier) die only when ContextCleaner
      // processes the GC'd references, which is asynchronous. Across a
      // ~17-minute bench the backlog squeezed the 8 GB local-mode heap
      // enough that the LAST tier's queries ran ~3× slower in the bench
      // JVM than the same code in a fresh one (t24 at 100×: 51 s in-
      // bench vs 17 s standalone, equal bytes, zero spill — pure GC
      // pressure). Poll the public status tracker until storage memory
      // is actually released (bounded wait), re-nudging GC each round.
      val deadline = System.nanoTime() + 3000000000L // 3 s cap
      var usedMb = Long.MaxValue
      while (usedMb > 64L && System.nanoTime() < deadline) {
        Thread.sleep(100L)
        usedMb = spark.sparkContext.statusTracker.getExecutorInfos
          .map(i => i.usedOnHeapStorageMemory() + i.usedOffHeapStorageMemory())
          .sum / (1024L * 1024L)
        if (usedMb > 64L) System.gc()
      }
    }

    // Warm EVERY headline's plan on the smallest SF so per-query times
    // measure the plan, not first-use codegen/classloading.
    SparkEntry.headlines.foreach { n =>
      try timed(byName(n)(spark, "/root/testdata/sf0.001"))
      catch { case e: Throwable =>
        System.err.println(s"[bench-warm] $n failed: ${e.getMessage}") }
    }
    resetSession()
    awaitQuiet("1x")
    val loadavg1x = loadavg()

    // min-of-N per query: two rounds of single-run timings produced
    // phantom regressions from shared-VM load (r07 "36.8 s" s6, r09's
    // uniform "+20%" that an idle re-run showed was +4% noise). The min
    // of 3 isolated runs estimates the load-free cost; the spread
    // (max-min) tells the reader how noisy the machine was, so a
    // cross-round delta can be adjudicated as code vs machine.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val results: Seq[(String, Either[String, (Double, Double)])] =
      SparkEntry.headlines.map { name =>
        val times = (1 to reps).flatMap { _ =>
          val t0 = System.nanoTime()
          val t = try {
            timed(byName(name)(spark, sfDir))
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case _: Throwable => None }
          resetSession()
          t
        }
        if (times.isEmpty) {
          val msg = try { timed(byName(name)(spark, sfDir)); "unknown" }
            catch { case e: Throwable =>
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200) }
          resetSession()
          name -> Left(msg)
        } else name -> Right((times.min, times.max - times.min))
      }

    // Reference throughput-parity probe (the one performance figure the
    // reference publishes): 1 M upsert/delete records through the
    // streaming merge pipeline in 10 flushes, survivor-verified inside.
    // One rep (it is a 1 M-row end-to-end run, not a plan microbench);
    // reported as its own JSON field, NOT folded into the headline
    // total, so cross-round totals stay comparable.
    // min-of-2 by default: the r13→r14 "−21% throughput regression"
    // was a single-rep figure on a machine whose whole bench ran ~25%
    // slow; a quiet-machine best-of-3 re-run recovered to ~52k rec/s
    // with no write-path code in the delta (the r14 catalog/DML layers
    // are not on MergePipeline's flush path). One rep cannot separate
    // plan changes from load.
    val probeReps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    def probe(n: Long): Either[String, (Double, Long)] = {
      val runs = (1 to probeReps).flatMap { _ =>
        try {
          val wh = Files.createTempDirectory("bench-stream-wh").toString
          val ck = Files.createTempDirectory("bench-stream-ckpt").toString
          val r = graft.streaming.ThroughputProbe.run(spark, wh, ck, n)
          resetSession()
          Some(r)
        } catch { case _: Throwable => resetSession(); None }
      }
      if (runs.nonEmpty) Right(runs.minBy(_._1))
      else
        // diagnostic retry after every rep failed — mirror the rep
        // loop's isolation: resetSession() regardless of outcome, so
        // the path taken after failures doesn't skip the inter-query
        // hygiene the surrounding code insists on
        try {
          val wh = Files.createTempDirectory("bench-stream-wh").toString
          val ck = Files.createTempDirectory("bench-stream-ckpt").toString
          Right(graft.streaming.ThroughputProbe.run(spark, wh, ck, n))
        } catch { case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        } finally resetSession()
    }
    awaitQuiet("stream_probe")
    val streamProbe: Either[String, (Double, Long)] = probe(1000000L)

    // Streaming-SOURCE drain probe: 1 M rows / 10 commits replayed
    // through readStream.format("graft") under Trigger.AvailableNow
    // with a 2-version cap — the read-side twin of the merge probe.
    val sourceDrain: Either[String, (Double, Long, Int)] =
      try {
        val wh = Files.createTempDirectory("bench-srcdrain-wh").toString + "/tbl"
        val ck = Files.createTempDirectory("bench-srcdrain-ck").toString
        val r = graft.streaming.SourceDrainProbe.run(spark, wh, ck, 1000000L)
        resetSession()
        Right(r)
      } catch { case e: Throwable =>
        resetSession()
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }

    // 10 M-record tier: the same probe at 10× the reference's own
    // topology — survivor set (2.5 M rows, exact i%4==1 values)
    // asserted inside run(). Default ON since r17 (the r16 verdict's
    // "best scaling witness the streaming path has" lived only in
    // SURVEY prose — a committed bench arm ends the one-run-claim
    // problem); SPARK_GRAFT_PROBE_10M=0 skips. Its own gate + its own
    // JSON field, never folded into the headline total.
    val streamProbe10m: Option[Either[String, (Double, Long)]] =
      if (sys.env.get("SPARK_GRAFT_PROBE_10M").contains("0")) None
      else {
        awaitQuiet("stream_probe_10m")
        Some(probe(10000000L))
      }

    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }

    // `queries` carries the per-query MIN (the load-free estimate the
    // driver's schema expects); `spread` carries max-min across the
    // reps so a judge can separate machine noise from plan changes.
    val qs = results.map {
      case (k, Right((mn, _))) => s""""${esc(k)}":$mn"""
      case (k, Left(_)) => s""""${esc(k)}":-1"""
    }.mkString("{", ",", "}")
    val spreads = results.collect { case (k, Right((_, sp))) =>
      s""""${esc(k)}":${math.rint(sp * 1000) / 1000}""" }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(m)) =>
      s""""${esc(k)}":"${esc(m)}"""" }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right((mn, _))) => mn }.sum
    val nFailed = results.count(_._2.isLeft)
    def probeJsonOf(res: Either[String, (Double, Long)], n: Long): String =
      res match {
        case Right((wall, survivors)) =>
          val rps = math.rint(n / wall)
          s"""{"sec":${math.rint(wall * 1000) / 1000},"rec_per_s":$rps,""" +
            s""""records":$n,"flushes":10,"survivors":$survivors,""" +
            s""""reps":$probeReps,"agg":"min",""" +
            s""""reference_budget_sec":600}"""
        case Left(m) => s"""{"error":"${esc(m)}"}"""
      }
    val probeJson = probeJsonOf(streamProbe, 1000000L)
    val probe10mJson = streamProbe10m
      .map(r => s""""stream_merge_10m":${probeJsonOf(r, 10000000L)},""")
      .getOrElse("")
    val sourceDrainJson = sourceDrain match {
      case Right((wall, rows, batches)) =>
        s""""stream_source_drain_1m":{"sec":${math.rint(wall * 1000) / 1000},""" +
          s""""rec_per_s":${math.rint(rows / wall)},"records":$rows,""" +
          s""""batches":$batches},"""
      case Left(m) =>
        s""""stream_source_drain_1m":{"error":"${esc(m)}"},"""
    }

    // Full-headline 10× sweep (default ON; SPARK_GRAFT_SCALE10X=0
    // skips): run every headline against the synthetic sf1-equivalent
    // corpus (Scale10x.materialize — in-copy structure preserved,
    // cross-copy interaction suppressed; cached across runs by its
    // done-marker) and record sec + the scaling exponent
    // e = ln(t10/t1)/ln(10) per headline (e <= ~1 is linear-or-better;
    // job-launch-bound sub-second headlines read low/noisy by nature).
    // Reported as its own section — the headline total stays the plain
    // sfDir figure, so cross-round totals remain comparable.
    // times of the 10× sweep, kept for the 100× tier's per-decade
    // exponent (e = ln(t100/t10)/ln 10 — the second decade)
    var t10ByName: Map[String, Double] = Map.empty
    val scale10xJson: String =
      if (sys.env.get("SPARK_GRAFT_SCALE10X").contains("0")) ""
      else {
        // default dir is keyed by the source corpus so a cached
        // materialization is never reused across scale factors
        val dir = sys.env.getOrElse("SPARK_GRAFT_SCALE10X_DIR",
          s"/tmp/graft_scale10x_${Paths.get(sfDir).getFileName}")
        try {
          graft.tools.Scale10x.materialize(spark, sfDir, dir)
          resetSession()
          val t1 = results.collect { case (k, Right((mn, _))) => k -> mn }.toMap
          // index-backed serving headlines (e12) build their persisted
          // index on first use (marker-cached): one untimed pass so the
          // timed figure below measures SERVING — the same thing the 1×
          // min-of-reps converges to after rep 1 absorbs the build
          val indexBacked = Set("e19_ivf_serve")
          indexBacked.intersect(SparkEntry.headlines.toSet).foreach { name =>
            try { timed(byName(name)(spark, dir)); () }
            catch { case _: Throwable => () }
            resetSession()
          }
          awaitQuiet("10x")
          val loadavg10x = loadavg()
          // min-of-2: a single rep made the r14 "+22% across the board"
          // unattributable (machine load vs plan change)
          val reps10 = sys.env.getOrElse("SPARK_GRAFT_SCALE10X_REPS", "2").toInt
          val t10 = SparkEntry.headlines.map { name =>
            val times = (1 to reps10).flatMap { _ =>
              val t0 = System.nanoTime()
              val r = try {
                timed(byName(name)(spark, dir))
                Some((System.nanoTime() - t0) / 1e9)
              } catch { case _: Throwable => None }
              resetSession()
              r
            }
            val r =
              if (times.nonEmpty) Right(times.min)
              else Left(try { timed(byName(name)(spark, dir)); "unknown" }
                catch { case e: Throwable =>
                  Option(e.getMessage).getOrElse(e.getClass.getName).take(200) })
            resetSession()
            name -> r
          }
          val secs = t10.map {
            case (k, Right(s)) => s""""${esc(k)}":${math.rint(s * 1000) / 1000}"""
            case (k, Left(_)) => s""""${esc(k)}":-1"""
          }.mkString("{", ",", "}")
          val exps = t10.collect { case (k, Right(s)) if t1.contains(k) && t1(k) > 0 =>
            val e = math.log(s / t1(k)) / math.log(10.0)
            s""""${esc(k)}":${math.rint(e * 100) / 100}"""
          }.mkString("{", ",", "}")
          val scaleErrs = t10.collect { case (k, Left(m)) =>
            s""""${esc(k)}":"${esc(m)}"""" }.mkString("{", ",", "}")
          val total10 = t10.collect { case (_, Right(s)) => s }.sum
          t10ByName = t10.collect { case (k, Right(s)) => k -> s }.toMap
          s""""scale10x":{"dir":"${esc(dir)}","copies":10,""" +
            s""""reps":$reps10,"agg":"min","loadavg":"${esc(loadavg10x)}",""" +
            s""""total_sec":${math.rint(total10 * 1000) / 1000},""" +
            s""""queries":$secs,"exponent":$exps,"errors":$scaleErrs},"""
        } catch { case e: Throwable =>
          s""""scale10x":{"error":"${esc(Option(e.getMessage)
            .getOrElse(e.getClass.getName).take(200))}"},"""
        }
      }

    // FORKED TIER ARMS (r18, verdict item 2): the 100× spot tier and
    // the soak run in a FRESH JVM each (TierArms scaladoc: soak
    // merge_sec 67.7 s at the end of a full in-process bench vs 22.8 s
    // in a fresh JVM on identical code — accumulated codegen caches /
    // metaspace / allocator state the resetSession drain cannot
    // return; JMH forks for the same reason). A child that fails or
    // overruns its deadline is killed and its tier records an error;
    // `tier_fork` lists the arms run.
    var tierForkUsed = List.empty[String]
    def forkArm(tier: String, mainClass: String, args: Seq[String],
        timeoutMs: Long): String = {
      tierForkUsed ::= mainClass.split('.').last
      graft.tools.TierArms.runArm(tier,
        graft.tools.TierArms.armCommand(mainClass, args, cpus), timeoutMs)
    }

    // 100× SPOT tier (default ON; SPARK_GRAFT_SCALE100X=0 skips): one
    // decade is not enough to see a super-linear knee, so the steepest
    // headlines (TierArms.Scale100xSpot) re-run once at 100× and report
    // the SECOND-decade exponent e = ln(t100/t10)/ln 10 next to the
    // first. The corpus is materialized once per machine (done-marker)
    // with collision-free per-copy transforms (Scale10x doc).
    val scale100xJson: String =
      if (sys.env.get("SPARK_GRAFT_SCALE100X").contains("0") ||
          sys.env.get("SPARK_GRAFT_SCALE10X").contains("0")) ""
      else {
        val dir100 = sys.env.getOrElse("SPARK_GRAFT_SCALE100X_DIR",
          s"/tmp/graft_scale100x_${Paths.get(sfDir).getFileName}")
        try {
          graft.tools.Scale10x.materialize(spark, sfDir, dir100, copies = 100)
          resetSession()
          // min-of-2: the r14 single-rep tier produced a phantom 3.2×
          // t24 "regression" that a quiet-machine re-run did not
          // reproduce — one rep at this tier is unactionable. Each spot
          // query additionally gets one UNTIMED warm pass (TierArms
          // doc) so `spread` measures plan noise, not page-cache state.
          val reps100 =
            sys.env.getOrElse("SPARK_GRAFT_SCALE100X_REPS", "2").toInt
          awaitQuiet("100x")
          forkArm("scale100x", "graft.tools.Scale100xArm",
            Seq(dir100, reps100.toString) ++ graft.tools.TierArms.Scale100xSpot
              .flatMap(n => t10ByName.get(n).map(s => s"$n=$s")),
            timeoutMs = 45L * 60 * 1000)
        } catch { case e: Throwable =>
          s""""scale100x":{"error":"${esc(Option(e.getMessage)
            .getOrElse(e.getClass.getName).take(200))}"},"""
        }
      }

    // 100× WRITE-side soak (default ON; SPARK_GRAFT_SOAK100X=0 skips,
    // and it's skipped whenever the 100× corpus wasn't materialized):
    // full append → over-gate bulk merge → compact → time-travel →
    // vacuum → reader lifecycle at 10 M rows with exact survivor
    // accounting and the peak DRIVER heap sampled throughout — the
    // driver-memory / manifest-size cliff witness the query bench
    // can't provide (Soak100x doc).
    val soak100xJson: String =
      if (sys.env.get("SPARK_GRAFT_SOAK100X").contains("0") ||
          sys.env.get("SPARK_GRAFT_SCALE100X").contains("0") ||
          sys.env.get("SPARK_GRAFT_SCALE10X").contains("0")) ""
      else {
        val dir100 = sys.env.getOrElse("SPARK_GRAFT_SCALE100X_DIR",
          s"/tmp/graft_scale100x_${Paths.get(sfDir).getFileName}")
        try {
          graft.tools.Scale10x.materialize(spark, sfDir, dir100, copies = 100)
          awaitQuiet("soak100x")
          forkArm("soak100x", "graft.tools.SoakArm", Seq(dir100),
            timeoutMs = 30L * 60 * 1000)
        } catch { case e: Throwable =>
          s""""soak100x":{"error":"${esc(Option(e.getMessage)
            .getOrElse(e.getClass.getName).take(200))}"},"""
        }
      }

    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""spread":$spreads,"reps":$reps,"agg":"min",""" +
        s""""action":"noop_write",""" +
        s""""action_note":"r15+: timed action is a noop-sink write """ +
        s"""(full output materialization); earlier rounds used count(), """ +
        s"""which let outer-join elimination prune join-attach queries """ +
        s"""(t24 read ~3x low at 100x) — cross-round per-query deltas """ +
        s"""vs r14 and earlier include this methodology shift",""" +
        s""""scaling_note":"1x-tier per-query times are job-launch-""" +
        s"""bound (0.2-2 s) and cannot witness core scaling (every """ +
        s"""8-vs-32 ratio ~1 is physics, not an ignored cpu count — """ +
        s"""master/shuffle.partitions DO honor SPARK_GRAFT_CPUS); """ +
        s"""compare the scale10x/scale100x/soak blocks across cpu """ +
        s"""arms instead. Heap now scales with the thread count """ +
        s"""(build.sbt defaultDriverMem) so those tiers measure the """ +
        s"""plan, not the allocator. r18: each 100x spot query gets """ +
        s"""ONE untimed warm pass before its timed reps (the 1x-tier """ +
        s"""warm protocol) — the min estimator is unchanged (min-of-N """ +
        s"""already absorbed the cold rep) but spread now measures """ +
        s"""plan noise, not page-cache state — and the scale100x/soak """ +
        s"""arms run in a FRESH JVM each (tier_fork; JMH-style fork """ +
        s"""hygiene: a ~25-min in-process bench accumulates codegen/""" +
        s"""metaspace/allocator state the inter-query drain cannot """ +
        s"""return — soak merge 67.7s in-bench vs 22.8s fresh-JVM on """ +
        s"""identical code; a fork that fails or overruns its """ +
        s"""deadline is killed and its tier records an error)",""" +
        s""""tier_fork":[${tierForkUsed.reverse
          .map(t => s""""${esc(t)}"""").mkString(",")}],""" +
        s""""loadavg_1x":"${esc(loadavg1x)}",""" +
        s""""load_gate":{"threshold":$loadGateThreshold,""" +
        s""""waits":$loadGateWaits,"timeouts":[${loadGateTimeouts
          .map(t => s""""${esc(t)}"""").mkString(",")}]},""" +
        s""""stream_merge_1m":$probeJson,""" + sourceDrainJson +
        probe10mJson + scale10xJson + scale100xJson + soak100xJson +
        s""""errors":$errs,"failed":$nFailed,"sf":"${esc(sfDir)}"}"""

    // emit on stdout AND stderr (sbt decorates stdout with [info]), plus
    // a file, so the driver's parse can't miss it
    println(line)
    System.err.println(line)
    try Files.writeString(Paths.get("BENCH_LOCAL.json"), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    spark.stop()
  }
}
