package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{call_function, col, levenshtein, lit}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection

import graft.functions.{GraftExtensions, LevenshteinBounded}

/** Banded-Levenshtein semantics: exact parity with the classic
  * distance inside the radius, -1 outside, codegen path included. */
class LevenshteinBoundedSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("parity with full Levenshtein inside the radius (randomized)") {
    val rnd = new Random(42)
    val alpha = "abcde"
    def word() = (0 until (1 + rnd.nextInt(12)))
      .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    for (_ <- 0 until 2000; k <- 0 to 4) {
      val (s, t) = (word(), word())
      val full = fullLev(s, t)
      val got = LevenshteinBounded.compute(s, t, k)
      assert(got == (if (full <= k) full else -1),
        s"s=$s t=$t k=$k full=$full got=$got")
    }
  }

  test("edges: empties, equal, length-diff early exit, negative k") {
    assert(LevenshteinBounded.compute("", "", 0) == 0)
    assert(LevenshteinBounded.compute("", "abc", 3) == 3)
    assert(LevenshteinBounded.compute("", "abc", 2) == -1)
    assert(LevenshteinBounded.compute("same", "same", 0) == 0)
    assert(LevenshteinBounded.compute("abcdefgh", "a", 3) == -1)
    assert(LevenshteinBounded.compute("a", "b", -1) == -1)
  }

  test("a radius near Int.MaxValue gives the exact distance, interpreted and codegen") {
    assert(LevenshteinBounded.compute("kitten", "sitting", Int.MaxValue) == 3)
    val expr = LevenshteinBounded(Literal("kitten"), Literal("sitting"),
      Literal(Int.MaxValue))
    assert(expr.eval(InternalRow.empty) == 3)
    val codegen = GenerateUnsafeProjection.generate(Seq(expr), false)
    assert(codegen(InternalRow.empty).getInt(0) == 3)
  }

  test("the SQL expression matches the built-in inside the radius") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val rnd = new Random(7)
    val rows = (0 until 500).map { _ =>
      def w() = (0 until (1 + rnd.nextInt(10)))
        .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      (w(), w())
    }
    val df = rows.toDF("s", "t")
      .withColumn("full", levenshtein(col("s"), col("t")))
      .withColumn("bounded", call_function("graft_levenshtein_bounded",
        col("s"), col("t"), lit(3)))
    val bad = df.where(
      (col("full") <= 3 && col("bounded") =!= col("full")) ||
        (col("full") > 3 && col("bounded") =!= -1)).count()
    assert(bad == 0L)
  }

  private def fullLev(s: String, t: String): Int = {
    val dp = Array.tabulate(s.length + 1, t.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to s.length; j <- 1 to t.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1))
    dp(s.length)(t.length)
  }
}
