package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def fp(sql: String): Fingerprint = {
    val qe = spark.sql(sql).queryExecution
    Fingerprint.of(qe.toRdd, qe.executedPlan.output.map(_.dataType).toArray)
  }

  private val rows = "(1, 'a', 1.5D, array(1, 2)), (2, 'b', 2.5D, array(3)), (3, null, 0D, array())"

  test("independent of row order and partitioning") {
    val a = fp(s"SELECT * FROM VALUES $rows AS t(k, s, d, xs)")
    val b = fp(s"SELECT * FROM VALUES $rows AS t(k, s, d, xs) ORDER BY k DESC")
    val c = fp(s"SELECT /*+ REPARTITION(3) */ * FROM VALUES $rows AS t(k, s, d, xs)")
    assert(a == b)
    assert(a == c)
    assert(a.rows == 3)
  }

  test("sensitive to every column's values, nested ones included") {
    val base = fp(s"SELECT * FROM VALUES $rows AS t(k, s, d, xs)")
    val variants = Seq(
      "(1, 'a', 1.5D, array(1, 2)), (2, 'b', 2.5D, array(3)), (3, null, 0D, array(0))",
      "(1, 'a', 1.5D, array(1, 2)), (2, 'c', 2.5D, array(3)), (3, null, 0D, array())",
      "(1, 'a', 1.5D, array(1, 2)), (2, 'b', 2.6D, array(3)), (3, null, 0D, array())",
      "(1, 'a', 1.5D, array(1, 2)), (2, 'b', 2.5D, array(3)), (4, null, 0D, array())",
      "(1, 'a', 1.5D, array(1, 2)), (2, 'b', 2.5D, array(3)), (3, '', 0D, array())")
    variants.foreach { v =>
      assert(fp(s"SELECT * FROM VALUES $v AS t(k, s, d, xs)") != base, v)
    }
  }

  test("duplicate rows count twice") {
    val once = fp("SELECT * FROM VALUES (1, 'a') AS t(k, s)")
    val twice = fp("SELECT * FROM VALUES (1, 'a'), (1, 'a') AS t(k, s)")
    assert(twice == once + once)
    assert(fp("SELECT * FROM VALUES (1, 'a') AS t(k, s) WHERE k > 1") == Fingerprint.Zero)
  }
}
