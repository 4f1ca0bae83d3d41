package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the scale properties the engine claims must be
  * visible in the optimized plans — predicate pushdown reaching the
  * parquet scan, column pruning, broadcast joins for star dims, partial
  * top-k below the shuffle, no all-rows windows, whole-stage codegen on
  * the hot paths. These assertions pin the plan shape that survives a
  * 100x scale-up; a regression here is a performance bug even while
  * results stay correct. */
class ScalePlanSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  private def simple(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("simple"))

  test("q01: filter and projection reach the parquet scan") {
    val plan = formatted(SparkEntry.queries("q01_filter_project")(spark, dir))
    assert(plan.contains("EqualTo(l_returnflag,R)"), "predicate pushdown")
    assert(plan.contains("GreaterThanOrEqual(l_quantity,30.0)"), "predicate pushdown")
    // column pruning: the 16-column lineitem scan reads only 5 fields
    val readSchema = plan.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(readSchema.count(_ == ':') <= 6, s"column pruning: $readSchema")
  }

  test("q04: star join broadcasts every dimension (no shuffle joins)") {
    val plan = simple(SparkEntry.queries("q04_join_star")(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 4, plan)
    assert(!plan.contains("SortMergeJoin"), "dims must broadcast")
  }

  test("q55: top-k prunes below the shuffle (WindowGroupLimit)") {
    val plan = simple(SparkEntry.queries("q55_cosine_topk")(spark, dir))
    assert(plan.contains("WindowGroupLimit"), "partial top-k pushdown")
  }

  test("score queries use broadcast totals, not all-rows windows") {
    for (q <- Seq("q21_ep", "q25_influence")) {
      val plan = simple(SparkEntry.queries(q)(spark, dir))
      // global sums come from a broadcast 1-row aggregate; an all-rows
      // window would appear as Window with an empty partition spec
      assert(!plan.contains("windowspecdefinition()"), s"$q: empty-window funnel")
    }
  }

  test("exact dedup aggregates partially before the shuffle") {
    val plan = simple(graft.operators.Dedup.exactGroups(
      graft.core.Tables.documents(spark, dir), "doc_id", "text"))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "partial+final agg")
  }

  // AQE finalizes the physical plan only on execution; run the query,
  // then look for WholeStageCodegen stage markers in the final plan.
  private def codegenSubtrees(df: DataFrame): Int = {
    df.collect()
    "\\*\\(\\d+\\)".r.findAllIn(df.queryExecution.executedPlan.toString).size
  }

  test("hot paths stay inside whole-stage codegen") {
    for (q <- Seq("q01_filter_project", "q02_agg_sum", "q21_ep", "q52_quality_score"))
      assert(codegenSubtrees(SparkEntry.queries(q)(spark, dir)) >= 1, s"$q: no codegen stage")
  }

  test("bucketed tables join without a shuffle") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = graft.core.Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
      val ord = graft.core.Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      graft.core.Bucketing.writeBucketed(li, "li_b", 4, Seq("l_orderkey"))
      graft.core.Bucketing.writeBucketed(ord, "ord_b", 4, Seq("o_orderkey"))
      val joined = graft.core.Bucketing.table(spark, "li_b")
        .join(graft.core.Bucketing.table(spark, "ord_b"),
          col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("simhash expression does not break codegen") {
    import org.apache.spark.sql.functions._
    val df = graft.core.Tables.documents(spark, dir).select(
      graft.functions.SimHash.simhash64(split(col("text"), "\\s+")).as("sh"))
    assert(codegenSubtrees(df) >= 1)
    assert(df.limit(3).collect().length == 3)
  }
}
