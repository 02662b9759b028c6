package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Sources

class SourcesSpec extends SparkTestBase {

  test("csv and json round-trip with explicit schemas") {
    withTempDir("graft-src") { dir =>
      val orders = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      orders.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
      orders.write.mode("overwrite").json(s"$dir/json")

      val backCsv = Sources.csv(spark, s"$dir/csv", orders.schema)
      val backJson = Sources.json(spark, s"$dir/json", orders.schema)
      assert(backCsv.count() == orders.count())
      assert(backJson.count() == orders.count())
      assert(backCsv.agg(sum("o_totalprice")).head.getDouble(0) ==
        backJson.agg(sum("o_totalprice")).head.getDouble(0))
    }
  }

  test("orc round-trips exactly and pushes filters to the scan") {
    withTempDir("graft-orc") { dir =>
      val orders = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      Sources.writeOrc(orders, s"$dir/orc")
      val back = Sources.orc(spark, s"$dir/orc")
      assert(back.count() == orders.count())
      assert(back.orderBy("o_orderkey").collect().toSeq ==
        orders.orderBy("o_orderkey").collect().toSeq)
      // the ORC scan carries the same pushdown surface as parquet
      val filtered = back.filter(col("o_orderkey") < 100).select("o_orderkey")
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("LessThan"),
        s"filter did not reach the ORC scan:\n${plan.take(800)}")
    }
  }

  test("libsvm reader parses a planted file and round-trips through writeLibsvm") {
    withTempDir("graft-libsvm") { dir =>
      // planted file: known labels, 1-based ascending indices, a
      // label-only line, and a blank line to drop
      val lines = Seq(
        "1.0 1:0.5 3:1.25 7:-2.0",
        "0.0 2:3.0",
        "2.5",
        "",
        "-1.0 1:1.0 7:7.5")
      Files.write(java.nio.file.Paths.get(dir, "part.txt"),
        lines.mkString("\n").getBytes)

      val df = Sources.libsvm(spark, s"$dir/part.txt").cache()
      assert(df.count() == 4, "blank line must be dropped")
      // 0-based conversion + inferred num_features = max 1-based index
      assert(df.select("num_features").distinct().head.getInt(0) == 7)
      val r = df.filter(col("label") === 1.0).head
      assert(r.getSeq[Int](1) == Seq(0, 2, 6))
      assert(r.getSeq[Double](2) == Seq(0.5, 1.25, -2.0))
      val only = df.filter(col("label") === 2.5).head
      assert(only.getSeq[Int](1).isEmpty && only.getSeq[Double](2).isEmpty,
        "label-only line parses to empty sparse vector")
      // explicit numFeatures overrides inference
      assert(Sources.libsvm(spark, s"$dir/part.txt", numFeatures = 100)
        .select("num_features").head.getInt(0) == 100)

      // round-trip: write back out, re-read, identical triples
      Sources.writeLibsvm(df.select("label", "indices", "values"), s"$dir/out")
      val back = Sources.libsvm(spark, s"$dir/out")
      val key = (d: org.apache.spark.sql.DataFrame) =>
        d.select("label", "indices", "values").collect()
          .map(x => (x.getDouble(0), x.getSeq[Int](1), x.getSeq[Double](2)))
          .sortBy(_._1)
      assert(key(df).sameElements(key(back)), "libsvm round-trip must be lossless")
      df.unpersist()
    }
  }

  test("libsvm reader drops '#' comments and rejects invalid indices loudly") {
    withTempDir("graft-libsvm-strict") { dir =>
      // comment lines (MLUtils filters line.startsWith("#")) must vanish,
      // not become rows with a null label
      Files.write(java.nio.file.Paths.get(dir, "ok.txt"),
        Seq("# a header comment", "1.0 1:2.0 4:1.0", "#another", "0.0 2:3.0")
          .mkString("\n").getBytes)
      val ok = Sources.libsvm(spark, s"$dir/ok.txt")
      assert(ok.count() == 2, "comment lines must be dropped")
      assert(ok.filter(col("label").isNull).isEmpty)

      // a 0 index (invalid: MLUtils requires one-based) fails the read
      Files.write(java.nio.file.Paths.get(dir, "zero.txt"),
        "1.0 0:2.0 3:1.0".getBytes)
      val eZero = intercept[Exception] {
        Sources.libsvm(spark, s"$dir/zero.txt").collect()
      }
      assert(eZero.getMessage.contains("ascending") ||
        Option(eZero.getCause).exists(_.getMessage.contains("ascending")),
        s"expected the index-contract assert, got: ${eZero.getMessage}")

      // non-ascending indices fail the read
      Files.write(java.nio.file.Paths.get(dir, "desc.txt"),
        "1.0 5:2.0 3:1.0".getBytes)
      intercept[Exception] {
        Sources.libsvm(spark, s"$dir/desc.txt").collect()
      }
    }
  }

  test("partitioned write enables partition pruning at the scan") {
    withTempDir("graft-part") { dir =>
      Tables.orders(spark, sfDir)
        .withColumn("status", col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("status").parquet(dir)
      val pruned = spark.read.parquet(dir).filter(col("status") === "F")
      val p = pruned.queryExecution.executedPlan.toString
      assert(pruned.count() ==
        Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F").count())
      assert(p.contains("PartitionFilters: [") && p.contains("status"),
        s"no partition filter in:\n$p")
    }
  }

  test("bucketed tables join without a shuffle on the bucket key") {
    Sources.writeBucketed(
      Tables.orders(spark, sfDir), "orders_b", 4, "o_custkey", Seq("o_custkey"))
    Sources.writeBucketed(
      Tables.customer(spark, sfDir), "customer_b", 4, "c_custkey", Seq("c_custkey"))
    // force the sort-merge path: broadcast would bypass bucketing entirely
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(joined.count() > 0)
      assert(p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("jdbc sink + partitioned source round-trip through an embedded database") {
    withTempDir("graft-derby") { dbDir =>
      val url = s"jdbc:derby:$dbDir/db;create=true"
      val driver = Some("org.apache.derby.jdbc.EmbeddedDriver")
      val orders = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")

      Sources.writeJdbc(orders, url, "orders_jdbc", driver = driver)

      val back = Sources.jdbc(spark, url, "orders_jdbc", driver)
      assert(back.count() == orders.count())
      assert(back.agg(sum("o_totalprice")).head.getDouble(0) ==
        orders.agg(sum("o_totalprice")).head.getDouble(0))

      // range-partitioned read: 4 concurrent stride scans over o_orderkey
      val bounds = orders.agg(min("o_orderkey"), max("o_orderkey")).head
      val part = Sources.jdbcPartitioned(spark, url, "orders_jdbc",
        "o_orderkey", bounds.getLong(0), bounds.getLong(1) + 1, 4, driver)
      assert(part.rdd.getNumPartitions == 4, "partitioned read must fan out")
      assert(part.count() == orders.count(), "stride predicates must not drop or duplicate rows")
    }
  }

  test("csv stream through the shared window transform equals batch") {
    withTempDir("graft-csvstream") { dir =>
      val ev = Tables.events(spark, sfDir)
        .select("event_id", "user_id", "event_type", "value").cache()
      val stream = Sources.csvStream(spark, dir, ev.schema)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val q = stream.writeStream.format("memory")
        .queryName("csv_stream_test").outputMode("complete").start()
      ev.filter(col("event_id") % 2 === 0).write.mode("append").csv(dir)
      q.processAllAvailable()
      ev.filter(col("event_id") % 2 === 1).write.mode("append").csv(dir)
      q.processAllAvailable()
      q.stop()
      val got = spark.table("csv_stream_test").orderBy("event_type").collect().toSeq
      val want = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type").collect().toSeq
      assert(got == want)
    }
  }

  test("text stream delivers every line exactly once") {
    withTempDir("graft-textstream") { dir =>
      val docs = Tables.documents(spark, sfDir).select("text").cache()
      val q = Sources.textStream(spark, dir)
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("text_stream_test")
        .outputMode("complete").start()
      docs.write.mode("append").text(dir)
      q.processAllAvailable()
      q.stop()
      assert(spark.table("text_stream_test").head.getLong(0) >= docs.count(),
        "every document line must arrive (multi-line docs may add rows)")
    }
  }

  test("key/value sink shape round-trips rows through binary key + JSON value") {
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val kv = Sources.toKeyValue(orders, "o_orderkey")
    assert(kv.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("key", "binary"), ("value", "binary")), "must match the kafka wire contract")
    val back = Sources.fromKeyValue(kv, orders.schema)
    assert(back.count() == orders.count())
    assert(back.agg(sum("o_totalprice")).head.getDouble(0) ==
      orders.agg(sum("o_totalprice")).head.getDouble(0))
    assert(back.except(orders).count() == 0 && orders.except(back).count() == 0)
  }

  test("kafka surface fails fast at source resolution when the connector jar is absent") {
    // the parity surface is format-string resolved: no kafka artifact on
    // this classpath, so lookup itself must fail with a clear error (a
    // user ships spark-sql-kafka with the job to turn it on)
    val e = intercept[Exception] {
      Sources.kafkaBatch(spark, "localhost:9092", "t").collect()
    }
    assert(e.getMessage.toLowerCase.contains("kafka"),
      s"source-resolution error should name the missing source: ${e.getMessage}")
  }

  test("kafka round-trip against a live broker (set SPARK_GRAFT_KAFKA=host:port to enable)") {
    val broker = sys.env.get("SPARK_GRAFT_KAFKA")
    assume(broker.isDefined, "no broker configured; skipping")
    val bootstrap = broker.get
    val topic = s"graft_rt_${System.currentTimeMillis()}"
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    Sources.writeKafka(orders, bootstrap, topic, "o_orderkey")
    val back = Sources.fromKeyValue(
      Sources.kafkaBatch(spark, bootstrap, topic), orders.schema)
    assert(back.count() == orders.count())
    assert(back.except(orders).count() == 0 && orders.except(back).count() == 0)
  }

  test("q40 bucketed orders⋈lineitem: zero exchange on the join key, equal to unbucketed") {
    import graft.operators.Bucketed
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (oTbl, lTbl) = Bucketed.bucketedOrdersLineitem(spark, sfDir)
      val joined = spark.table(oTbl)
        .join(spark.table(lTbl), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total_price"))
      val got = joined.orderBy("o_orderpriority").collect().toSeq
      // AQE finalizes only after executing this same QueryExecution
      val p = joined.queryExecution.executedPlan.toString
      val smj = p.indexOf("SortMergeJoin")
      assert(smj >= 0, s"expected sort-merge join on the bucketed key:\n$p")
      assert(!p.substring(smj).contains("Exchange"),
        s"bucketed o⋈l join must read co-partitioned buckets, not shuffle:\n$p")
      val want = Tables.orders(spark, sfDir)
        .join(Tables.lineitem(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total_price"))
        .orderBy("o_orderpriority").collect().toSeq
      assert(got == want, "bucketing must be semantically invisible")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
