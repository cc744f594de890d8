package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially in sbt's forked test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf001 = "/root/testdata/sf0.001"

  /** Runs `body` with broadcasting disabled
    * (`spark.sql.autoBroadcastJoinThreshold=-1`), which sends every KNN
    * pair join to the partitioned cartesian.
    */
  def withoutBroadcast[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** Asserts the KNN pair-join plan in `df`'s physical plan. "broadcast":
    * at least one BroadcastNestedLoopJoin, each building a side without
    * `test_id` (the train side), and no CartesianProductExec.
    * "cartesian": a CartesianProductExec and no BroadcastNestedLoopJoin.
    */
  def assertPairPlan(df: DataFrame, plan: String): Unit = {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val sp = df.queryExecution.sparkPlan
    val bnlj = sp.collect { case j: BroadcastNestedLoopJoinExec => j }
    val cart = sp.collect { case j: CartesianProductExec => j }
    val ok = plan match {
      case "broadcast" => cart.isEmpty && bnlj.nonEmpty && bnlj.forall { j =>
        val build = if (j.buildSide == BuildRight) j.right else j.left
        !build.output.exists(_.name == "test_id")
      }
      case "cartesian" => bnlj.isEmpty && cart.nonEmpty
    }
    assert(ok, s"expected the $plan pair join:\n$sp")
  }
}
