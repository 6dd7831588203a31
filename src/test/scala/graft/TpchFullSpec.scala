package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.TpchFull

/** Plan-shape and sanity gates for the 13 TpchFull queries (values are
  * hash-checked by the driver's DuckDB oracle; these tests pin the
  * EXECUTION shapes that make each query scale).
  */
class TpchFullSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q4: EXISTS runs as a left-semi join, not a row-multiplying inner") {
    val p = finalPlan(TpchFull.q4OrderPriority.run(spark, dir))
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
  }

  test("q16: NOT IN exclusion runs as a left-anti join") {
    val p = finalPlan(TpchFull.q16SupplierCount.run(spark, dir))
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
  }

  test("q21: no non-equi self-join — the EXISTS pair is two aggregates") {
    val p = finalPlan(TpchFull.q21WaitingSupplier.run(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$p")
  }

  test("q21: a flagged line with a NULL supplier counts as no supplier, " +
      "as in the oracle") {
    val spark = this.spark
    import spark.implicits._
    val tiny = java.nio.file.Files.createTempDirectory("graft-q21-null").toString
    Seq[(Long, java.lang.Long, String)](
      (1L, 1L, "R"), (1L, 2L, "N"), (1L, null, "R"))
      .toDF("l_orderkey", "l_suppkey", "l_returnflag")
      .write.parquet(s"$tiny/lineitem.parquet")
    Seq((1L, "F")).toDF("o_orderkey", "o_orderstatus")
      .write.parquet(s"$tiny/orders.parquet")
    Seq((1L, "S1", 2), (2L, "S2", 2)).toDF("s_suppkey", "s_name", "s_nationkey")
      .write.parquet(s"$tiny/supplier.parquet")
    Seq((2, "NATION_2")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$tiny/nation.parquet")
    val got = TpchFull.q21WaitingSupplier.run(spark, tiny).collect().toSeq
    // the oracle SQL through Spark SQL, over the same files as views in
    // a session of its own
    val oracle = spark.newSession()
    Seq("lineitem", "orders", "supplier", "nation").foreach(n =>
      oracle.read.parquet(s"$tiny/$n.parquet").createOrReplaceTempView(n))
    val want = oracle.sql(TpchFull.q21WaitingSupplier.oracle.get)
      .collect().toSeq
    assert(want.map(_.toSeq) === Seq(Seq("S1", 1L)))
    assert(got.map(_.toSeq) === want.map(_.toSeq))
  }

  test("q2: per-part minimum is a window, not a self-join") {
    val df = TpchFull.q2MinCostSupplier.run(spark, dir)
    assert(finalPlan(df).contains("Window"))
  }

  test("q15: ties on the exact-decimal max all surface") {
    // The max-revenue equality must match at least one supplier.
    assert(TpchFull.q15TopSupplier.run(spark, dir).count() >= 1)
  }

  test("q6/q12/q17: single-row or tiny grouped aggregates return rows") {
    assert(TpchFull.q6ForecastRevenue.run(spark, dir).count() == 1)
    assert(TpchFull.q12PriorityLines.run(spark, dir).count() >= 1)
    assert(TpchFull.q17SmallQty.run(spark, dir).count() == 1)
  }
}
