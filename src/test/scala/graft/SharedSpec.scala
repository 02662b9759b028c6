package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.operators.{Bucketed, PCA}

class SharedSpec extends SparkTestBase {

  test("one build per key and corpus version; an unlistable dir is never kept; evict releases") {
    withTempDir("graft-shared") { dir =>
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
  }

  test("q40 after orders and lineitem are rewritten at the same dir equals a fresh unbucketed join") {
    withTempDir("graft-shared-q40") { dir =>
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
  }

  test("the covariance is recomputed after embeddings are rewritten at the same path") {
    withTempDir("graft-shared-cov") { dir =>
      def writeCorpus(parity: Int): Unit =
        Tables.embeddings(spark, sfDir).filter(col("vec_id") % 2 === parity)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      def fresh() = {
        val emb = Tables.embeddings(spark, dir)
        PCA.covarianceUpper(emb, PCA.means(emb)).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      }
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

  test("a cold covariance build runs one mean pass and the triangle, no width probe") {
    withTempDir("graft-shared-cov-jobs") { dir =>
      Tables.embeddings(spark, sfDir).write.parquet(s"$dir/embeddings.parquet")
      // two jobs per pass (map stage + result); the build was 7 jobs while
      // the means ran twice and the width took a probe job
      assert(jobsOf(PCA.covarianceShared(spark, dir)) == 4)
    }
  }

  test("stopping the context deletes the bucketed scratch q40 wrote") {
    withTempDir("graft-child-tmp") { tmp =>
      val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("--add-opens"))
      val log = new File(tmp, "child.log")
      val child = new ProcessBuilder((Seq(s"${sys.props("java.home")}/bin/java") ++ opens ++
          Seq(s"-Djava.io.tmpdir=$tmp", "-Xmx1g", "-cp", sys.props("java.class.path"),
            "graft.BucketedScratchChild", sfDir)): _*)
        .directory(new File(tmp)).redirectErrorStream(true).redirectOutput(log).start()
      val exited = child.waitFor(5, TimeUnit.MINUTES)
      if (!exited) child.destroyForcibly()
      val out = Files.readString(log.toPath)
      assert(exited && child.exitValue == 0, out.takeRight(3000))
      assert(out.contains("scratch dirs before stop: 1"), out.takeRight(3000))
      assert(BucketedScratchChild.scratchDirs(tmp).isEmpty, "the scratch must go with its context")
    }
  }
}

/** Child JVM of SharedSpec's scratch case: runs q40 over the corpus at
  * `args(0)`, reports the bucketed scratch dirs under `java.io.tmpdir`,
  * stops the session and exits. */
object BucketedScratchChild {
  def scratchDirs(tmp: String): Seq[String] =
    Option(new File(tmp).list()).toSeq.flatten.filter(_.startsWith("graft-bucketed-"))

  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(defaultCpus = 2)
    Bucketed.q40.run(spark, args(0)).collect()
    println(s"scratch dirs before stop: ${scratchDirs(sys.props("java.io.tmpdir")).size}")
    spark.stop()
  }
}
