package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.TimestampType

/** Corpus-schema guard: every test corpus must have exactly the schemas
  * `Tables` declares. The readers pass those schemas to the scan instead
  * of inferring them, so a drifted corpus would otherwise read a renamed
  * column as nulls; an earlier events.ts TIMESTAMP(NANOS) →
  * TIMESTAMP(MICROS) drift crashed 16 queries. THIS test goes red and
  * names the drifted table and column.
  */
class TestDataSpec extends SparkTestBase {

  private val corpora = {
    val root = new java.io.File(sfDir).getParent
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$root/$sf")
  }

  test("every corpus matches the schemas Tables declares, column for column") {
    corpora.foreach(dir => Tables.requireSchemas(spark, dir))
  }

  test("requireSchemas names the table and column of a drifted corpus") {
    withTempDir("graft-drift") { dir =>
      Tables.all.filter(_ != "orders").foreach { t =>
        Tables(spark, sfDir, t).limit(1).write.parquet(s"$dir/$t.parquet")
      }
      Tables.orders(spark, sfDir).withColumnRenamed("o_orderpriority", "o_priority")
        .limit(1).write.parquet(s"$dir/orders.parquet")
      // the declared read does not see the drift: the column is all nulls
      assert(Tables.orders(spark, dir).where("o_orderpriority IS NOT NULL").isEmpty)
      val e = intercept[IllegalArgumentException](Tables.requireSchemas(spark, dir))
      assert(e.getMessage.contains("table orders, column o_orderpriority"), e.getMessage)
      assert(e.getMessage.contains("has o_priority STRING"), e.getMessage)
    }
  }

  test("Tables readers and SQL query builds start no Spark job") {
    // a reader with an inferred schema starts a footer job per call; the
    // declared schemas make building a DataFrame job-free
    // the counter sees this thread's jobs
    assert(jobsOf(Tables.region(spark, sfDir).count()) > 0)
    val readers = Seq[(String, (SparkSession, String) => DataFrame)](
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders, "lineitem" -> Tables.lineitem,
      "events" -> Tables.events, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings)
    assert(readers.map(_._1) == Tables.all)
    readers.foreach { case (t, read) =>
      assert(jobsOf(read(spark, sfDir)) == 0, s"Tables.$t started a job")
    }
    Seq("q46_sql_nation_volume", "q49_sql_big_orders").foreach { q =>
      assert(jobsOf(SparkEntry.queries(q)(spark, sfDir)) == 0, s"building $q started a job")
    }
  }

  test("documents.text is pure ASCII (mm01's byte-decode oracle assumes it)") {
    // mm01's DuckDB oracle replays the byte-bucket decode from ASCII char
    // codes and equates length(text) with the byte count — valid only
    // while every char is single-byte. A multibyte corpus must fail HERE,
    // not as an opaque mm01 hash mismatch far from the cause.
    import org.apache.spark.sql.functions._
    val nonAscii = Tables.documents(spark, sfDir)
      .where(not(col("text").rlike("^[\\x00-\\x7F]*$")) ||
        octet_length(col("text")) =!= length(col("text")))
      .count()
    assert(nonAscii == 0L, s"$nonAscii documents contain non-ASCII text")
  }

  test("documents tokens stay under 10 bytes (d03/d04's XXH64 oracle unrolls <32)") {
    // The DuckDB XXH64 replay (graft.functions.DuckXxhash) unrolls only
    // the sub-32-byte path: tokens (d04) and word 3-grams (d03, worst
    // case 3·maxTok+2 bytes) must stay below 32 bytes or the oracle
    // emits NULL hashes. A corpus with longer words must fail HERE, not
    // as an opaque d03/d04 hash mismatch. Whitespace beyond plain
    // spaces would also break the split parity — pinned together.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val longTok = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .where(length(col("tok")) > 9).count()
    assert(longTok == 0L, s"$longTok tokens exceed 9 bytes (3-gram could reach 32)")
    val oddWs = docs.where(col("text").rlike("[\\t\\n\\r]|^ | $|  ")).count()
    assert(oddWs == 0L, s"$oddWs documents have tabs/newlines/edge/double spaces")
  }

  test("l_quantity is integral (r01/r02's CAST-sum oracles rest on exact double sums)") {
    // r01/r02 compare CAST(sum(l_quantity) AS DOUBLE) against Spark's
    // double sum; double summation is order-dependent, so bit-equality
    // holds only while every l_quantity is integral (< 2^53 — exact in
    // any summation order). A regenerated corpus with fractional
    // quantities must fail HERE, not as a flaky r01/r02 hash mismatch.
    import org.apache.spark.sql.functions._
    val nonIntegral = Tables.lineitem(spark, sfDir)
      .where(col("l_quantity") =!= floor(col("l_quantity"))).count()
    assert(nonIntegral == 0L, s"$nonIntegral lineitem rows have fractional l_quantity")
  }

  test("embeddings are exactly 64-dim (d13's oracle hardcodes range(1,65))") {
    import org.apache.spark.sql.functions._
    val offDim = Tables.embeddings(spark, sfDir)
      .where(size(col("embedding")) =!= 64).count()
    assert(offDim == 0L, s"$offDim vectors are not 64-dim")
  }

  test("events reader normalizes ts to TimestampType on the current corpus") {
    val dt = Tables.events(spark, sfDir).schema("ts").dataType
    assert(dt == TimestampType, s"Tables.events ts is $dt")
    // and it actually evaluates (the round-7 regression failed at analysis)
    assert(Tables.events(spark, sfDir).selectExpr("max(ts)").head.get(0) != null)
  }
}
