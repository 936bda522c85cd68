package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.functions.{NearDupFunctions, SortedIntersectSize}

/** The sorted-merge intersection kernel against a naive set intersection,
  * on both evaluation paths: interpreted (`nullSafeEval`) and generated
  * code. Seeded hand-rolled property loop, like [[LcsSpec]]. */
class SortedIntersectSpec extends SparkSpec {

  private val arr = ArrayType(LongType, containsNull = false)

  private def naive(a: Array[Long], b: Array[Long]): Int =
    a.toSet.intersect(b.toSet).size

  private def asc(xs: Long*): Array[Long] = xs.toArray.distinct.sorted

  private val edgeCases: Seq[(Array[Long], Array[Long])] = {
    val big = asc((0L until 2000L).map(_ * 7919L): _*)
    Seq(
      (asc(), asc()),
      (asc(), asc(1, 2, 3)),
      (asc(1, 2, 3), asc()),
      (asc(5), asc(5)),
      (asc(5), asc(6)),
      (big, big),
      (asc((0L until 2000L).map(_ * 2): _*), asc((0L until 2000L).map(_ * 2 + 1): _*)),
      (asc((0L until 2000L).map(_ * 2): _*), asc((0L until 2000L).map(_ * 3): _*)),
      (asc(1, 3, 5, 7, 9), asc(2, 3, 4, 5, 6, 7)),
      (asc(Long.MinValue, -1, 0, 1, Long.MaxValue), asc(Long.MinValue, Long.MaxValue)),
      (asc(Long.MinValue), asc(Long.MaxValue)),
      (asc(Long.MinValue, Long.MaxValue), asc(Long.MinValue + 1, Long.MaxValue - 1)),
      (big, asc(big.last)),
      (asc(big.head), big))
  }

  /** 300 random pairs in three value domains: dense (heavy overlap),
    * shingle-key range [0, 2^31 - 1), and full-range longs salted with the
    * extremes. `b` reuses some of `a`'s values so overlaps are non-trivial. */
  private val randomCases: Seq[(Array[Long], Array[Long])] = {
    val rnd = new scala.util.Random(20261017L)
    Seq.fill(300) {
      val maxLen = if (rnd.nextInt(8) == 0) 2000 else 200
      val na = rnd.nextInt(maxLen + 1)
      val nb = rnd.nextInt(maxLen + 1)
      val span = math.max(na, nb) + 1
      val domain = rnd.nextInt(3)
      def draw(): Long = domain match {
        case 0 => (rnd.nextInt(2 * span + 1) - span).toLong
        case 1 => rnd.nextInt(Int.MaxValue).toLong
        case _ => rnd.nextInt(8) match {
          case 0 => Long.MinValue
          case 1 => Long.MaxValue
          case _ => rnd.nextLong()
        }
      }
      val a = Array.fill(na)(draw())
      val b = Array.fill(nb)(
        if (a.nonEmpty && rnd.nextBoolean()) a(rnd.nextInt(a.length)) else draw())
      (a.distinct.sorted, b.distinct.sorted)
    }
  }

  private val cases = edgeCases ++ randomCases

  test("interpreted eval equals the naive set intersection") {
    assert(cases.size >= 300)
    assert(cases.map { case (a, b) => math.max(a.length, b.length) }.max == 2000)
    assert(cases.exists { case (a, b) =>
      naive(a, b) > 0 && naive(a, b) < math.min(a.length, b.length) })
    def lit(xs: Array[Long]): Expression =
      Literal(UnsafeArrayData.fromPrimitiveArray(xs), arr)
    cases.foreach { case (a, b) =>
      val got = SortedIntersectSize(lit(a), lit(b)).eval()
      assert(got == naive(a, b), s"a=${a.mkString(",")} b=${b.mkString(",")}")
    }
  }

  private def viaDataFrame(factoryMode: String, wholeStage: Boolean): Unit = {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("a", arr, nullable = false),
      StructField("b", arr, nullable = false)))
    val rows = cases.zipWithIndex.map { case ((a, b), i) => Row(i, a.toSeq, b.toSeq) }
    val prevMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevWhole = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    try {
      // an RDD source, not a local Seq: ConvertToLocalRelation would fold
      // the projection at plan time on the interpreted path
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .select(col("id"), NearDupFunctions.sortedIntersectSize(col("a"), col("b")).as("n"))
      val got = df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val generated = plan.exists(_.isInstanceOf[WholeStageCodegenExec])
      assert(generated == wholeStage, s"whole-stage codegen = $generated under $factoryMode:\n$plan")
      cases.zipWithIndex.foreach { case ((a, b), i) =>
        assert(got(i) == naive(a, b), s"$factoryMode case $i")
      }
    } finally {
      prevMode.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
      spark.conf.set("spark.sql.codegen.wholeStage", prevWhole)
    }
  }

  test("DataFrame path without codegen (NO_CODEGEN) equals the naive count") {
    viaDataFrame("NO_CODEGEN", wholeStage = false)
  }

  test("DataFrame path through generated code (CODEGEN_ONLY) equals the naive count") {
    viaDataFrame("CODEGEN_ONLY", wholeStage = true)
    viaDataFrame("CODEGEN_ONLY", wholeStage = false)
  }
}
