package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.operators.{Bucketed, PCA}

class SharedSpec extends SparkTestBase {

  test("one build per key and corpus version; an unlistable dir is never kept; evict releases") {
    val dir = Files.createTempDirectory("graft-shared").toString
    Files.writeString(Paths.get(dir, "a"), "1")
    var tags = List.empty[Option[String]]
    var released = List.empty[Int]
    def probe(d: String, p: Int): Int =
      Shared[Int](spark, "probe", d, p)({ tag => tags ::= tag; tags.size }, v => released ::= v)
    assert(probe(dir, 1) == 1)
    assert(probe(dir, 1) == 1, "an unchanged corpus must not rebuild")
    assert(probe(dir, 2) == 2, "the parameters are part of the key")
    Files.writeString(Paths.get(dir, "a"), "22")
    assert(probe(dir, 1) == 3, "a rewritten corpus must rebuild")
    assert(released == List(1), "the superseded version must be released")
    val kept = tags.flatten
    assert(kept.distinct.size == 3 && kept.forall(_.matches("[0-9a-f]{16}")), kept)
    val missing = s"$dir/missing"
    assert(probe(missing, 1) == 4 && probe(missing, 1) == 5, "an unlistable dir is built per call")
    assert(tags.take(2) == List(None, None))
    Shared.evict()
    assert(released.sorted == List(1, 2, 3), "evict releases every kept value, and only those")
    assert(probe(dir, 1) == 6, "evict drops the kept values")
  }

  test("q40 after orders and lineitem are rewritten at the same dir equals a fresh unbucketed join") {
    val dir = Files.createTempDirectory("graft-shared-q40").toString
    Tables.customer(spark, sfDir).write.parquet(s"$dir/customer.parquet")
    def writeCorpus(parity: Int): Unit = {
      val orders = Tables.orders(spark, sfDir).filter(col("o_orderkey") % 2 === parity)
      orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Tables.lineitem(spark, sfDir).join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    def unbucketed() = rows(Tables.sql(spark, dir, Bucketed.q40.oracle.get))
    def assertClose(got: Seq[(String, String, Long, Double)], want: Seq[(String, String, Long, Double)]) = {
      assert(got.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)))
      // the two sums add the same doubles in other orders
      got.zip(want).foreach { case (g, w) => assert(math.abs(g._4 - w._4) <= 0.011, (g, w)) }
    }
    writeCorpus(0)
    val first = rows(Bucketed.q40.run(spark, dir))
    assertClose(first, unbucketed())
    writeCorpus(1)
    val fresh = unbucketed()
    assert(fresh.map(_._3) != first.map(_._3), "the rewrite must change the answer")
    assertClose(rows(Bucketed.q40.run(spark, dir)), fresh)
  }

  test("the covariance is recomputed after embeddings are rewritten at the same path") {
    val dir = Files.createTempDirectory("graft-shared-cov").toString
    def writeCorpus(parity: Int): Unit =
      Tables.embeddings(spark, sfDir).filter(col("vec_id") % 2 === parity)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def fresh() = PCA.covarianceUpper(Tables.embeddings(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    writeCorpus(0)
    val first = PCA.covarianceShared(spark, dir)
    assert(first._2.sorted.toSeq == fresh())
    var again: (Seq[Double], Array[(Long, Long, Double)]) = null
    assert(jobsOf { again = PCA.covarianceShared(spark, dir) } == 0, "a warm read starts no job")
    assert(again eq first)
    writeCorpus(1)
    val second = PCA.covarianceShared(spark, dir)
    assert(second._2.sorted.toSeq == fresh(), "a rewritten corpus must be recomputed")
    assert(second._2.sorted.toSeq != first._2.sorted.toSeq)
  }
}
