package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
import graft.streaming.{StreamingLinearModel, StreamingLogisticModel, StreamingRegressionOps}

class StreamingRegressionSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("x", ArrayType(DoubleType)),
    StructField("y", DoubleType)))

  /** Deterministic batch drawn from y = b0 + b · x. */
  private def mkBatch(seed: Int, b0: Double, b: Array[Double], nPts: Int) = {
    val rows: java.util.List[Row] = new java.util.ArrayList()
    for (i <- 0 until nPts) {
      val x = Array.tabulate(b.length)(j => (((seed + i) * (j + 3) * 7) % 19) / 19.0)
      val y = b0 + b.zip(x).map { case (w, v) => w * v }.sum
      rows.add(Row(x.toSeq, y))
    }
    spark.createDataFrame(rows, schema)
  }

  test("one SGD step matches the hand-computed gradient exactly") {
    val m = new StreamingLinearModel(dim = 1, eta = 0.5, stepsPerBatch = 1)
    // two rows: (x=1, y=1), (x=3, y=3); beta = 0 -> resid = -y
    // g0 = mean(-y) = -2; g1 = mean(-y*x) = -5 -> beta = (1.0, 2.5)
    val rows: java.util.List[Row] = new java.util.ArrayList()
    rows.add(Row(Seq(1.0), 1.0)); rows.add(Row(Seq(3.0), 3.0))
    m.update(spark.createDataFrame(rows, schema))
    assert(m.weights.toSeq == Seq(1.0, 2.5), m.weights.toSeq.toString)
  }

  test("streaming SGD converges to the planted line, then tracks a coefficient change") {
    val model = new StreamingLinearModel(dim = 2, eta = 1.0, stepsPerBatch = 40)
    withTempDir("graft-slr-src") { src =>
      val stream = spark.readStream.schema(schema).parquet(src)
      val q = StreamingRegressionOps.start(stream, model, "slr_test")
      try {
        val b = Array(2.0, -1.0)
        for (s <- 0 until 3) {
          mkBatch(s * 100, 0.5, b, 200).write.mode("append").parquet(src)
          q.processAllAvailable()
        }
        val w1 = model.weights
        assert(math.abs(w1(0) - 0.5) < 0.05 && math.abs(w1(1) - 2.0) < 0.05 &&
          math.abs(w1(2) + 1.0) < 0.05, s"converged weights ${w1.toSeq}")

        // the generating process changes -> the model must re-fit
        val b2 = Array(-1.0, 2.0)
        for (s <- 0 until 6) {
          mkBatch(1000 + s * 100, 0.5, b2, 200).write.mode("append").parquet(src)
          q.processAllAvailable()
        }
        val w2 = model.weights
        assert(math.abs(w2(1) + 1.0) < 0.1 && math.abs(w2(2) - 2.0) < 0.1,
          s"weights must track the changed process: ${w2.toSeq}")
      } finally q.stop()
    }
  }

  test("streaming logistic separates a planted rule fed over micro-batches") {
    val model = new StreamingLogisticModel(dim = 1, eta = 2.0, stepsPerBatch = 30)
    withTempDir("graft-slog-src") { src =>
      val stream = spark.readStream.schema(schema).parquet(src)
      val q = StreamingRegressionOps.start(stream, model, "slog_test")
      try {
        for (s <- 0 until 4) {
          // x < 0.5 -> y=0, x > 0.5 -> y=1, separable
          val rows: java.util.List[Row] = new java.util.ArrayList()
          for (i <- 0 until 200) {
            val x = if (i % 2 == 0) 0.1 + ((s * 200 + i) % 9) * 0.03
                    else 0.7 + ((s * 200 + i) % 9) * 0.03
            rows.add(Row(Seq(x), if (i % 2 == 0) 0.0 else 1.0))
          }
          spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
          q.processAllAvailable()
        }
        val w = model.weights
        assert(w(1) > 0, s"slope must separate upward: ${w.toSeq}")
        // decision boundary -w0/w1 sits inside the (max0, min1) gap
        val boundary = -w(0) / w(1)
        assert(boundary > 0.34 && boundary < 0.7,
          s"boundary $boundary must fall in the planted margin, weights ${w.toSeq}")
      } finally q.stop()
    }
  }
}
