package perfbench

import graft.sources.WarehouseTable
import org.apache.spark.sql.functions._

/** Negative self-test of the correctness gates: each gate must pass on
  * a finished table and must fail once one row of it is deleted (or,
  * for the curation digest, once one row of an output is dropped).
  * `correct` is true only when every gate behaves both ways.
  */
object SelfTest {
  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val a = ctx.args
    val ledger = new Ledger

    // upsert gate: the last-write-wins comparison
    val gen = new UpsertGen(a.seed, 2000)
    val model = new LwwModel
    val s = new UpsertStream.Stream(spark, s"${a.runDir}/upsert")
    try {
      val first = gen.initial()
      model(first); s.flush(first)
      (1 to 3).foreach { n => val b = gen.batch(n, 500); model(b); s.flush(b) }
    } finally s.stop()
    val upsertTable = WarehouseTable.open(spark, s.root)
    def upsertBad = UpsertStream.mismatches(upsertTable.read(), model.toDF(spark))
    ledger.check("upsert gate passes on the finished table", upsertBad == 0L)
    val victim = upsertTable.read().select("k1").orderBy("k1").head().getLong(0)
    upsertTable.deleteWhere(col("k1") === victim)
    ledger.check("upsert gate fails after one row is deleted", upsertBad > 0L)

    // curation gate: the observed output digest
    val out = spark.range(5000).select(col("id"), (col("id") * 31).cast("string").as("s"))
    val (_, full) = Curation.timedNoop(() => out, "selftest-full")
    val (_, again) = Curation.timedNoop(() => out, "selftest-again")
    val (_, short) = Curation.timedNoop(() => out.where(col("id") =!= 4321), "selftest-short")
    ledger.check("digest repeats on the same output", full == again)
    ledger.check("digest differs once one row is dropped", full != short)

    ctx.setupDone()
    Result(ledger.failed == 0, ledger.attempted, ledger.failed, Nil, Nil,
      Map("errors" -> ledger.errors.toSeq))
  }
}
