package graft

import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions.doubleDot

class DoubleDotSpec extends SparkTestBase {

  test("double_dot is bit-identical to the HOF left-fold and stays in codegen") {
    // deterministic pseudo-random doubles incl. negatives and zeros,
    // built over range() so the projection is a real codegen stage (a
    // local Seq folds to LocalTableScan and never exercises doGenCode)
    def v(seed: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(7)),
        j => ((seed * 31 + j * 7919) % 1001 - 500).cast("double") / 97.0)
    val df = spark.range(200).select(col("id"),
      v(col("id")).as("a"), v(col("id") + 1).as("b"))
    val both = df.select(col("id"),
      doubleDot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, p) => acc + p).as("hof"))
    // bit-identical: same multiplies, same left-fold accumulation order
    assert(both.filter(col("native") =!= col("hof")).count() == 0,
      "native double_dot must reproduce the HOF arithmetic exactly")
    val d = df.select(doubleDot(col("a"), col("b")).as("d"))
    d.collect()
    assert(d.queryExecution.executedPlan.toString.contains("*("),
      "double_dot fell out of codegen")
  }

  test("double_dot rejects float arrays (float_dot's domain)") {
    import TestSpark.spark.implicits._
    val df = Seq((Seq(1.0f), Seq(2.0f))).toDF("a", "b")
    val err = intercept[Exception] {
      df.select(doubleDot(col("a"), col("b"))).collect()
    }
    assert(err.getMessage.contains("double_dot") ||
      err.getMessage.contains("DATATYPE_MISMATCH"), err.getMessage)
  }
}
