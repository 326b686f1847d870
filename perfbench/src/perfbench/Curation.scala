package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import graft.util.GraftCache
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Workload `curation_1x`: LLM-data operators from `SparkEntry.queries`
  * on the fixed sf0.1 documents and embeddings in
  * `perfbench/data/corpus` (the repository's bench corpus), each output
  * written to `noop` with an order-independent digest observed in
  * flight and checked against `perfbench/expected/curation_1x.tsv`.
  * Set-up runs every query `WarmPasses` times, untimed, so the timed
  * passes measure the operators rather than JIT and codegen. Every
  * cache a query leaves behind is dropped before the next one, so no
  * pass leaves results behind for a later pass to reuse.
  */
object Curation {
  val Text: Seq[String] = Metrics.TextSet
  val Sim: Seq[String] = Metrics.SimSet
  /** Untimed passes before the timed ones. On 4 cores a pass takes
    * 16 s cold, then keeps getting faster (JIT) by 10-20% per pass for
    * the next two passes and by a few percent after that.
    */
  val WarmPasses = 3
  /** `--seconds` per timed pass over both sets: a warm pass takes about
    * 8 s on 4 cores, so 30 s gives two timed passes and a run that ends
    * within about a minute, warm passes included.
    */
  val SecondsPerPass = 15.0

  def passes(seconds: Int): Int = math.max(1, math.round(seconds / SecondsPerPass).toInt)

  /** One output's order-independent fingerprint. */
  final case class Digest(rows: Long, sum: Long, xor: Long) {
    def line(q: String): String = s"$q\t$rows\t$sum\t$xor"
  }

  def readExpected(path: String): Map[String, Digest] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
        val f = l.split('\t')
        f(0) -> Digest(f(1).toLong, f(2).toLong, f(3).toLong)
      }.toMap

  /** Plan the query and run its action (a noop write) with its digest
    * observed in flight; returns (ns of plan + action, digest).
    */
  def timedNoop(build: () => DataFrame, tag: String): (Long, Digest) = {
    val t0 = System.nanoTime()
    val df = build()
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val obs = Observation(tag)
    df.observe(obs, count(lit(1)).as("rows"), sum(pmod(h, lit(1000000007L))).as("sum"),
      bit_xor(h).as("xor")).write.format("noop").mode("overwrite").save()
    val ns = System.nanoTime() - t0
    val m = obs.get
    def long(k: String) = Option(m(k)).map(_.toString.toLong).getOrElse(0L)
    (ns, Digest(long("rows"), long("sum"), long("xor")))
  }

  /** Drop every cache a query may leave behind; true when none is left. */
  def clean(spark: SparkSession): Boolean = {
    spark.catalog.clearCache()
    GraftCache.clear()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sparkContext.getPersistentRDDs.isEmpty && GraftCache.liveCount == 0
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val a = ctx.args
    val ledger = new Ledger
    val expected = readExpected(a.expectedFile)
    val corpus = s"${a.dataDir}/corpus"
    val queries = (Text ++ Sim).map(q => q -> SparkEntry.queries(q)).toMap
    val docs = Tables.load(spark, corpus, "documents").count()
    val vecs = Tables.load(spark, corpus, "embeddings").count()
    (1 to WarmPasses).foreach { pass =>
      (Text ++ Sim).foreach { q =>
        clean(spark)
        val (ns, _) = timedNoop(() => queries(q)(spark, corpus), s"warm-$q")
        Log(s"warm pass $pass $q ${Stats.nanosToMs(ns)} ms")
      }
    }

    val setupS = ctx.setupDone()
    ctx.trace.foreach(_.sample(Thread.currentThread()))
    val win = ctx.openWindow()
    val runs = mutable.ArrayBuffer.empty[(Int, String, Long, Long, Long)] // pass, q, ns, e0, e1
    val seen = mutable.LinkedHashMap.empty[String, Digest]
    val nPasses = passes(a.seconds)
    (0 until nPasses).foreach { pass =>
      (Text ++ Sim).foreach { q =>
        ledger.check(s"no cache left before $q", clean(spark))
        val e0 = System.currentTimeMillis()
        ledger.attempt(s"$q pass $pass") {
          Trace.span(spark, s"q:$pass:$q")(timedNoop(() => queries(q)(spark, corpus), q))
        }.foreach { case (ns, d) =>
          runs += ((pass, q, ns, e0, System.currentTimeMillis()))
          Log(s"pass $pass $q ${Stats.nanosToMs(ns)} ms")
          seen.put(q, d)
          expected.get(q) match {
            case Some(want) if want == d => ()
            case Some(want) => ledger.fail(s"$q pass $pass: digest $d, expected $want")
            case None if a.writeExpected => ()
            case None => ledger.fail(s"$q: no expected digest recorded")
          }
        }
      }
    }
    val (common, _, _) = win.close(ctx)
    clean(spark)
    if (a.writeExpected)
      Files.writeString(Paths.get(a.expectedFile),
        "# query\trows\tsum(xxhash64 mod 1e9+7)\tbit_xor(xxhash64)\n" +
          seen.map { case (q, d) => d.line(q) }.mkString("", "\n", "\n"))

    // one operation is one pass over the five queries: a single query's
    // time varies by 10-20% from run to run, a whole pass's much less
    val passMs = (0 until nPasses).map(p =>
      runs.filter(_._1 == p).map(r => Stats.nanosToMs(r._3)).sum)
    def setSeconds(set: Seq[String]) =
      Stats.median((0 until nPasses).map(p =>
        runs.filter(r => r._1 == p && set.contains(r._2)).map(_._3).sum / 1e9))
    val perQuery = (Text ++ Sim).map(q =>
      q -> Stats.median(runs.filter(_._2 == q).map(_._3 / 1e9).toSeq)).toMap
    val layers = ctx.trace.map { t =>
      t.stopSampling()
      common ++ t.moduleLayers(runs.map(r => (r._4, r._5)).toSeq) ++
        Map("llm.text_set_s" -> setSeconds(Text), "llm.sim_set_s" -> setSeconds(Sim)) ++
        (Text ++ Sim).flatMap { q =>
          val js = t.allJobs.filter(_.span.endsWith(s":$q"))
          val st = t.stageTotals(js)
          Seq(s"llm.${q}_s" -> perQuery(q),
            s"llm.$q.shuffle_mb" -> st.shuffleWrite / 1e6 / nPasses,
            s"llm.$q.input_mb" -> st.inputBytes / 1e6 / nPasses,
            s"llm.$q.spill_mb" -> st.spill / 1e6 / nPasses,
            s"llm.$q.jobs" -> js.size.toDouble / nPasses)
        }
    }.getOrElse(Map.empty[String, Double])
    val totalS = runs.map(_._3).sum / 1e9
    Result(
      correct = ledger.failed == 0,
      attempted = ledger.attempted,
      failed = ledger.failed,
      e2e = Metrics.e2e(Map(
        "setup_s" -> setupS,
        "rec_per_s" -> (nPasses * (docs * Text.size + vecs * Sim.size)) / totalS,
        "op_ms_p50" -> Stats.median(passMs),
        "op_ms_tail" -> Stats.pct(passMs, UpsertStream.TailPct))),
      layers = Metrics.layers(layers),
      info = Map("documents" -> docs, "vectors" -> vecs, "passes" -> nPasses,
        "query_s_median" -> perQuery, "text_set_s" -> setSeconds(Text),
        "sim_set_s" -> setSeconds(Sim), "errors" -> ledger.errors.toSeq))
  }
}
