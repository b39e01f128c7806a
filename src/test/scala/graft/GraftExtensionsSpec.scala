package graft

import graft.functions.Vector
import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The injected optimizer rule must rewrite the HOF dot-product
  * pattern to FloatVecDot (visible in the optimized plan) without
  * changing results; graft_dot must be callable from SQL.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  // shared session + live install() — robust to suite ordering (a
  // fresh-session .withExtensions(GraftExtensions) path behaves the
  // same; install() is the already-running-session route)
  private lazy val spark: SparkSession = {
    val s = SparkSpecBase.session
    GraftExtensions.install(s)
    s
  }
  private val sf0001 = "/root/testdata/sf0.001"

  test("optimizer rewrites HOF dot to FloatVecDot, same results") {
    import spark.implicits._
    // a file source keeps the projection in the optimized plan (a
    // LocalRelation would be constant-folded before we can look)
    val dir = java.nio.file.Files.createTempDirectory("graft-ext").toString
    Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
      (Array(0.5f, -1f, 2f), Array(1f, 1f, 1f)))
      .toDF("a", "b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(Vector.dotHof(col("a"), col("b")).as("d"))
      .orderBy("d")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("floatvecdot") || optimized.contains("FloatVecDot"),
      s"rewrite did not fire:\n$optimized")
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.5, 32.0))
  }

  test("rewrite preserves HOF null semantics on ragged and null-element rows") {
    import spark.implicits._
    // r11 advice: the session-wide rewrite claims bit-for-bit result
    // preservation, so the KERNEL the rule injects must return NULL
    // exactly where aggregate(zip_with(...)) does — through the
    // OPTIMIZER path (VectorSpec pins the explicit-kernel path)
    val dir = java.nio.file.Files.createTempDirectory("graft-ext-n").toString
    Seq(
      (Seq(Option(1f), Option(2f), Option(3f)), Seq(Option(4f), Option(5f))),
      (Seq(Option(1f), None), Seq(Option(4f), Option(5f))),
      (Seq(Option(1f), Option(2f)), Seq(Option(4f), Option(5f))))
      .toDF("a", "b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(Vector.dotHof(col("a"), col("b")).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("floatvecdot"),
      s"rewrite did not fire:\n$optimized")
    val out = df.collect().map(r => Option(r.get(0))).toSeq
    assert(out.sortBy(_.isEmpty) == Seq(Some(14.0), None, None), out.toString)
  }

  test("rule leaves non-dot aggregates alone") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f), Array(3f, 4f))).toDF("a", "b")
      .select(aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") + y.cast("double")),   // sum, not product
        lit(0.0), (acc, v) => acc + v).as("s"))
    assert(!df.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("floatvecdot"))
    assert(df.collect().head.getDouble(0) == 10.0)
  }

  test("optimizer rewrites 0L-seeded integer HOF dot to LongVecDot, same results") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ext-l").toString
    Seq((Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (Array(-7L, 1000L, 0L), Array(2L, 3L, 9L)))
      .toDF("a", "b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .selectExpr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v) AS d",
        "aggregate(a, 0L, (acc, x) -> acc + x * x) AS n2")
      .orderBy("d")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("longvecdot") || optimized.contains("LongVecDot"),
      s"rewrite did not fire:\n$optimized")
    assert(!optimized.toLowerCase.contains("aggregate("),
      s"an interpreted HOF aggregate survived:\n$optimized")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((32L, 14L), (2986L, 1000049L)), s"got $rows")
  }

  test("integer arm leaves float-seeded and non-dot folds alone") {
    import spark.implicits._
    // float arrays with a 0L seed never type-check as the long arm;
    // a 0L fold that is a SUM (not sum-of-squares / pairwise product)
    // must survive untouched
    val df = Seq((Array(1L, 2L, 3L))).toDF("a")
      .selectExpr("aggregate(a, 0L, (acc, x) -> acc + x) AS s")
    assert(!df.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("longvecdot"))
    assert(df.collect().head.getLong(0) == 6L)
  }

  test("graft_dot is callable from SQL") {
    import spark.implicits._
    Seq((Array(1f, 2f), Array(3f, 4f))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT graft_dot(a, b) AS d FROM vecs").collect()
    assert(r.head.getDouble(0) == 11.0)
    // a repeated install keeps the registered function instead of
    // replacing it (and logging a replacement warning) on every call
    val registry = spark.sessionState.functionRegistry
    val id = new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")
    val info = registry.lookupFunction(id).get
    GraftExtensions.install(spark)
    assert(registry.lookupFunction(id).get eq info)
  }

  test("row_number window + rn<=k filter is rewritten to TopKPerKey") {
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.orders(spark, sf0001)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val df = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"rewrite did not fire:\n${plan.take(1500)}")
    // results identical to the unrewritten formulation (deterministic
    // tie-break, so exact equality is required, not just "a valid rn")
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expectedCount = orders.groupBy("o_custkey").count()
      .agg(sum(least(col("count"), lit(3)))).collect().head.getLong(0)
    assert(got.size == expectedCount)
    // spot-check: every customer's rn=1 row is its max-price order
    // (min orderkey on price ties, matching the window's tie-break)
    val top1 = got.filter(_._2 == 1).map(t => (t._1, t._3)).toMap
    val expTop1 = orders.groupBy("o_custkey")
      .agg(max(struct(col("o_totalprice").as("p"),
        (col("o_orderkey") * -1).as("nk"))).as("m"))
      .select(col("o_custkey"), (col("m.nk") * -1).as("k1"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(top1 == expTop1)
  }

  test("rewrite leaves non-row_number windows and unfiltered windows alone") {
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.orders(spark, sf0001)
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    // rank() is not row_number: no rewrite
    val ranked = orders.withColumn("r", rank().over(w)).filter(col("r") <= 2)
    assert(!ranked.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    // row_number without a bounding filter: no rewrite
    val unfiltered = orders.withColumn("rn", row_number().over(w))
    assert(!unfiltered.queryExecution.executedPlan.toString.contains("TopKPerKey"))
  }
}
