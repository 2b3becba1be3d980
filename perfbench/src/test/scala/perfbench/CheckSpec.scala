package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("answers compare as sorted canonical rows") {
    assert(Check.diff(Seq("1|a", "2|b"), Seq("2|b", "1|a")).isEmpty)
    assert(Check.diff(Seq("1|a", "2|b"), Seq("1|a", "2|c")).nonEmpty)
    assert(Check.diff(Seq("1|a"), Seq("1|a", "1|a")).nonEmpty)
    assert(Check.diff(Seq("1|a", "2|b"), Seq("1|a")).nonEmpty)
  }

  test("exact decimal sums format as the doubles Spark casts them to") {
    val row = spark.sql("SELECT CAST(CAST(12345.67 AS DECIMAL(12,2)) + " +
      "CAST(0.01 AS DECIMAL(12,2)) AS DOUBLE), CAST(7 AS BIGINT), 'x', CAST(NULL AS STRING)").collect()
    assert(Check.canon(row) == Seq(Check.line(Check.scaled(BigInt(1234568L), 2), 7L, "x", null)))
  }

  test("a forced wrong expected answer fails the op") {
    val runner = new Runner(spark)
    def read(expected: Seq[String]) =
      Read("range", () => spark.range(3).toDF("id"), () => expected)
    val good = Seq("0", "1", "2")
    val bad = Seq("0", "1", "5")
    assert(runner.execute(read(good), trace = false).ok)
    assert(runner.execute(read(good), trace = true).ok)
    assert(runner.failures.isEmpty)
    assert(!runner.execute(read(bad), trace = false).ok)
    assert(!runner.execute(read(bad), trace = true).ok)
    assert(runner.failures.size == 2 && runner.failures.forall(_.contains("wrong answer")))
  }

  test("an op that throws counts as failed") {
    val runner = new Runner(spark)
    val s = runner.execute(Read("boom", () => throw new IllegalStateException("no"), () => Nil), trace = false)
    assert(!s.ok && runner.failures.head.contains("IllegalStateException"))
  }
}
