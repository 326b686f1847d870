package graft

import graft.tools.TierArms
import org.scalatest.funsuite.AnyFunSuite

/** The bench's forked tier arms ([[TierArms.runArm]]) can never hang it:
  * a child that never exits is killed at its deadline and its tier is
  * recorded as an error. Each test starts one short-lived child process
  * at a time.
  */
class TierArmsSpec extends AnyFunSuite {

  test("a tier arm that never exits is killed at its deadline and recorded as an error") {
    val t0 = System.nanoTime()
    val json = TierArms.runArm("scale100x", Seq("sleep", "600"), timeoutMs = 2000L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs >= 2.0 && secs < 7.0, s"deadline not enforced: returned after $secs s")
    assert(json.startsWith("\"scale100x\":{\"error\":\"killed") && json.endsWith("},"),
      json)
    val sleepers = ProcessHandle.current().children().filter { h =>
      h.info().command().orElse("").endsWith("sleep") &&
        h.info().arguments().map(_.toSeq).orElse(Seq.empty) == Seq("600")
    }.count()
    assert(sleepers == 0L, "the wedged child outlived its deadline")
  }

  test("a tier arm's result line is returned; a failed arm records its exit code") {
    def echo(json: String) = s"echo '${TierArms.Marker}$json'"
    val ok = TierArms.runArm("soak100x",
      Seq("sh", "-c", s"echo progress; ${echo("\"soak100x\":{\"sec\":1},")}"), 10000L)
    assert(ok == "\"soak100x\":{\"sec\":1},")
    val bad = TierArms.runArm("soak100x",
      Seq("sh", "-c", s"${echo("\"soak100x\":{},")}; exit 3"), 10000L)
    assert(bad == "\"soak100x\":{\"error\":\"exit code 3\"},", bad)
  }
}
