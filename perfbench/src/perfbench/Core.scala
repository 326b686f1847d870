package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** Command line of the measuring JVM (see run.py, which builds it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    cores: Int,
    runDir: String,
    dataDir: String,
    expectedFile: String,
    out: String,
    writeExpected: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toInt,
      trace = req("trace") == "1",
      cores = req("cores").toInt,
      runDir = req("run-dir"),
      dataDir = req("data-dir"),
      expectedFile = req("expected"),
      out = req("out"),
      writeExpected = kv.get("write-expected").contains("1"))
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: the gate outcome, the operations it
  * attempted and failed, end-to-end metrics (always measured), per-layer
  * metrics (traced runs only) and provenance details.
  */
final case class Result(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    e2e: Seq[Metric],
    layers: Seq[Metric],
    info: Map[String, Any])

/** Operation ledger: every timed operation and every correctness check
  * is one attempt; an exception or a mismatch is one failure.
  */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
    System.err.println(s"[perfbench] FAILED $what")
  }

  /** Run one operation; an exception is recorded, never rethrown. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  /** One correctness check. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) fail(s"$what $detail")
  }
}

object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2fs] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** Samples strictly above the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  def nanosToMs(ns: Long): Double = ns / 1e6
}

object Fs {
  /** Bytes of regular files under `root` (0 when absent). */
  def bytesUnder(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Parquet files in a table's live partition directories
    * (`<root>/data/<col>=<value>/`), as relative paths.
    */
  def liveDataFiles(tableRoot: String): Set[String] = {
    val data = Paths.get(tableRoot, "data")
    if (!Files.exists(data)) Set.empty
    else {
      val s = Files.walk(data, 2)
      try {
        val b = Set.newBuilder[String]
        s.forEach { (f: Path) =>
          val rel = data.relativize(f).toString.split('/')
          if (rel.length == 2 && rel(0).contains("=") && !rel(1).startsWith(".") &&
              !rel(1).startsWith("_") && rel(1).endsWith(".parquet") && Files.isRegularFile(f))
            b += rel.mkString("/")
        }
        b.result()
      } finally s.close()
    }
  }
}

/** Minimal JSON writer for the result file (numbers keep every digit). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}
