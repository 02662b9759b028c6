package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import graft.streaming.{StreamingKMeansModel, StreamingKMeansOps}

class StreamingKMeansSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def mkBatch(idBase: Long, center: Array[Float], nPts: Int) = {
    val rows: java.util.List[Row] = new java.util.ArrayList()
    for (i <- 0 until nPts) {
      val v = center.clone()
      v(0) = v(0) + 0.01f * (i % 5) // small deterministic spread
      rows.add(Row(idBase + i, v.toSeq))
    }
    spark.createDataFrame(rows, schema)
  }

  private def dist(a: Array[Float], b: Array[Float]): Double =
    math.sqrt(a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum)

  test("one-batch update math matches the decayed weighted mean exactly") {
    val m = new StreamingKMeansModel(k = 1, dim = 2, halfLifeBatches = 1.0) // alpha = 0.5
    m.setInitialCenters(Array(Array(0f, 0f)), weight = 4.0)
    // batch: two points at (1, 1) -> c' = (0.5*4*0 + 2) / (0.5*4 + 2) = 0.5
    m.update(mkBatch(0, Array(1f, 1f), 2).withColumn("embedding",
      transform(col("embedding"), x => lit(1.0f)))) // exact (1,1) points
    assert(m.centers(0).forall(c => math.abs(c - 0.5f) < 1e-6), m.centers(0).mkString(","))
    assert(math.abs(m.clusterWeights(0) - 4.0) < 1e-9) // 0.5*4 + 2
  }

  test("streaming k-means converges on two blobs, then tracks a drift while the other stays") {
    val a = Array(1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f)
    val aDrift = Array(1f, 0f, 1f, 0f)
    val model = new StreamingKMeansModel(k = 2, dim = 4, halfLifeBatches = 1.0)
      .setInitialCenters(Array(Array(0.8f, 0.1f, 0f, 0f), Array(0.1f, 0.8f, 0f, 0f)))

    withTempDir("graft-skm-src") { src =>
      val stream = spark.readStream.schema(schema).parquet(src)
      val q = StreamingKMeansOps.start(stream, model, "skm_test")

      // phase 1: two stationary blobs over two micro-batches
      mkBatch(0, a, 50).unionByName(mkBatch(100, b, 50)).write.mode("append").parquet(src)
      q.processAllAvailable()
      mkBatch(200, a, 50).unionByName(mkBatch(300, b, 50)).write.mode("append").parquet(src)
      q.processAllAvailable()
      val phase1 = model.centers
      assert(dist(phase1(0), a) < 0.1, s"cluster 0 should sit on blob A: ${phase1(0).toSeq}")
      assert(dist(phase1(1), b) < 0.1, s"cluster 1 should sit on blob B: ${phase1(1).toSeq}")
      assert(model.clusterWeights.forall(_ > 0))

      // phase 2: blob A drifts; half-life 1 batch -> the centroid must
      // follow within a few batches while B's centroid stays put
      for (r <- 0 until 4) {
        mkBatch(1000 + r * 100, aDrift, 50)
          .unionByName(mkBatch(5000 + r * 100, b, 50))
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      }
      q.stop()
      val phase2 = model.centers
      assert(dist(phase2(0), aDrift) < 0.15,
        s"cluster 0 must track the drifted blob: ${phase2(0).toSeq}")
      assert(dist(phase2(0), aDrift) < dist(phase1(0), aDrift))
      assert(dist(phase2(1), b) < 0.1, s"cluster 1 must stay on B: ${phase2(1).toSeq}")
    }
  }
}
