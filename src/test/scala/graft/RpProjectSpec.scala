package graft

import graft.functions.RpProject
import graft.llm.SimOps
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused native JL projection (r18): bit parity with the composed
  * `array(aggregate(zip_with(v, transform(sequence(…), planeComponent),
  * _*_), 0.0, _+_))` form it replaced in `SimOps.rpTopK`, including
  * the null semantics (null vector / null element → an array of null
  * COMPONENTS, never a null array).
  */
class RpProjectSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** The composed reference form RpProject replaced. */
  private def composed(v: Column, dims: Int): Column =
    array((0 until dims).map { p =>
      aggregate(
        zip_with(v,
          transform(sequence(lit(0), size(v) - 1),
            d => SimOps.planeComponent(p, d)),
          (x, h) => x * h),
        lit(0.0), (acc, x) => acc + x)
    }: _*)

  test("bit parity with the composed projection on real fixture vectors") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .limit(50)
    val dims = 7
    val rows = df.select($"vec_id",
        RpProject($"v", dims).as("got"), composed($"v", dims).as("want"))
      .collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val got = r.getSeq[Double](1)
      val want = r.getSeq[Double](2)
      assert(got.length == dims && want.length == dims)
      got.zip(want).foreach { case (g, w) =>
        assert(java.lang.Double.doubleToLongBits(g) ==
          java.lang.Double.doubleToLongBits(w),
          s"vec ${r.getLong(0)}: $g != $w")
      }
    }
  }

  test("randomized vectors incl. extreme scales") {
    val rnd = new scala.util.Random(18L)
    val df = (1 to 300).map { _ =>
      val n = 1 + rnd.nextInt(9)
      Tuple1(Array.fill(n)((rnd.nextDouble() - 0.5) *
        math.pow(10.0, rnd.nextInt(9) - 4)))
    }.toDF("v")
    val dims = 5
    df.select(RpProject($"v", dims).as("got"), composed($"v", dims).as("want"))
      .collect().foreach { r =>
        r.getSeq[Double](0).zip(r.getSeq[Double](1)).foreach { case (g, w) =>
          assert(java.lang.Double.doubleToLongBits(g) ==
            java.lang.Double.doubleToLongBits(w))
        }
      }
  }

  test("null vector and null element both yield an array of dims nulls") {
    val df = Seq[(Long, Array[java.lang.Double])](
      (1L, null),
      (2L, Array[java.lang.Double](1.0, null, 2.0)),
      (3L, Array[java.lang.Double](1.0, 2.0)))
      .toDF("id", "v")
    val dims = 4
    val rows = df.select($"id",
        RpProject($"v", dims).as("got"), composed($"v", dims).as("want"))
      .orderBy($"id").collect()
    rows.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2),
        "projection must never be a NULL array")
      val got = r.getSeq[java.lang.Double](1)
      val want = r.getSeq[java.lang.Double](2)
      assert(got.length == dims && want.length == dims)
      got.zip(want).foreach { case (g, w) =>
        if (g == null || w == null) assert(g == null && w == null)
        else assert(java.lang.Double.doubleToLongBits(g) ==
          java.lang.Double.doubleToLongBits(w))
      }
    }
    // the live row really projects; the degenerate ones are all-null
    assert(rows(0).getSeq[java.lang.Double](1).forall(_ == null))
    assert(rows(1).getSeq[java.lang.Double](1).forall(_ == null))
    assert(rows(2).getSeq[java.lang.Double](1).forall(_ != null))
  }

  test("empty vector yields dims nulls like the composed form, codegen and interpreted") {
    val df = Seq((1L, Array.empty[Double]), (2L, Array(1.0, 2.0))).toDF("id", "v")
    val dims = 3
    // the projection must run in the physical plan, not be folded into
    // the local relation by the optimizer (which evaluates interpreted)
    val modes = Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
    modes.foreach { case (factoryMode, wholeStage) =>
      val conf = Map(
        "spark.sql.codegen.factoryMode" -> factoryMode,
        "spark.sql.codegen.wholeStage" -> wholeStage,
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val rows = df.select($"id",
            RpProject($"v", dims).as("got"), composed($"v", dims).as("want"))
          .collect().sortBy(_.getLong(0))
        val empty = rows(0)
        assert(!empty.isNullAt(1) && !empty.isNullAt(2))
        assert(empty.getSeq[java.lang.Double](2).size == dims &&
          empty.getSeq[java.lang.Double](2).forall(_ == null),
          s"composed form on an empty vector: ${empty.get(2)}")
        assert(empty.getSeq[java.lang.Double](1) ==
          empty.getSeq[java.lang.Double](2), s"$factoryMode: ${empty.get(1)}")
        val live = rows(1)
        assert(live.getSeq[Double](1).map(java.lang.Double.doubleToLongBits) ==
          live.getSeq[Double](2).map(java.lang.Double.doubleToLongBits))
      } finally conf.keys.foreach(spark.conf.unset)
    }
  }
}
