package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.plans.{GraftExtensions, GraftFunctions}
import graft.plans.GraftFunctions._

class PlansSpec extends SparkTestBase {

  /** Codegen on, with no silent fall back to the interpreter when the
    * generated class fails to compile. */
  private def codegenOnly[T](body: => T): T =
    withConf("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false")(body)

  private def finalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  /** Asserts that `name` is evaluated inside a whole-stage codegen stage
    * of `df`'s executed plan (run `df` first, so AQE's plan is final). */
  private def inCodegen(df: DataFrame, name: String): Unit = {
    val p = finalPlan(df)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains(name)),
      s"$name fell out of codegen:\n$p")
  }

  /** Inputs for the ten native expressions, built from `range()` so no
    * call is constant-folded before codegen: float and double vectors
    * `f`/`d`, `text`, a 32-byte payload `b` of hashed bytes (signed ones
    * included) and its one-based offset `off`. Row `nullAt` holds NULL
    * vectors and text and an out-of-range offset, so every expression
    * returns NULL there. */
  private def kernelInputs(s: SparkSession, nullAt: Long = -1L): DataFrame = {
    def orNull(c: Column): Column = when(col("id") =!= nullAt, c)
    s.range(64).select(col("id"),
      orNull(array((0 until 8).map(j => (col("id") - j * 5).cast("float")): _*)).as("f"),
      orNull(array((0 until 8).map(j => (col("id") * j).cast("double")): _*)).as("d"),
      orNull(concat_ws(" ", (0 until 6).map(j => (col("id") % (j + 2)).cast("string")): _*))
        .as("text"),
      unhex(sha2(col("id").cast("string"), 256)).as("b"),
      when(col("id") =!= nullAt, 1L).otherwise(Long.MaxValue - 2L).as("off"))
  }

  /** The ten native expressions over [[kernelInputs]], by SQL name. */
  private lazy val kernels: Seq[(String, Column)] = {
    val planes = Seq.tabulate(16)(i => i - 7.5)
    Seq(
      "float_cosine" -> floatCosine(col("f"), col("f")),
      "float_dot" -> floatDot(col("f"), col("f")),
      "double_dot" -> doubleDot(col("d"), col("d")),
      "hashed_word_grams" -> hashedWordGrams(col("text"), 3),
      "minhash_signature" -> minhashSignature(hashedWordGrams(col("text"), 3), 4),
      "hyperplane_sign" -> hyperplaneSign(col("f"), planes, 2),
      "simhash63" -> simhash63(split(col("text"), " ")),
      "pcm_s16le" -> pcmS16le(col("b"), col("off"), lit(4L)),
      "rgb24_pixels" -> rgb24Pixels(col("b"), col("off"), lit(2L), lit(2L)),
      "u8_moments" -> u8Moments(col("b"), col("off"), lit(8L)))
  }

  test("native float_cosine is bit-identical to the HOF cosine") {
    val emb = Tables.embeddings(spark, sfDir).limit(100)
    val both = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        floatCosine(col("a.embedding"), col("b.embedding")).as("native"),
        TextFunctions.cosine(col("a.embedding"), col("b.embedding")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0,
      "native expression must reproduce the HOF arithmetic exactly")
  }

  test("float_cosine participates in whole-stage codegen") {
    val emb = Tables.embeddings(spark, sfDir)
    val df = emb.select(
      floatCosine(col("embedding"), col("embedding")).as("c"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"float_cosine fell out of codegen:\n$p")
    assert(df.filter(abs(col("c") - 1.0) > 1e-9).count() == 0,
      "self-cosine must be 1")
  }

  test("native float_dot matches the HOF dot product and stays in codegen") {
    val emb = Tables.embeddings(spark, sfDir).limit(100)
    val both = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        floatDot(col("a.embedding"), col("b.embedding")).as("native"),
        aggregate(zip_with(col("a.embedding"), col("b.embedding"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0,
      "native float_dot must reproduce the HOF arithmetic exactly")
    val df = emb.select(floatDot(col("embedding"), col("embedding")).as("d"))
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "float_dot fell out of codegen")
  }

  test("optimizer rule rewrites the HOF cosine into the native expression") {
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    def pairs(s: SparkSession): DataFrame = {
      val emb = Tables.embeddings(s, sfDir).orderBy("vec_id").limit(50)
      emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id"), col("b.vec_id"),
          TextFunctions.cosine(col("a.embedding"), col("b.embedding")).as("c"))
        .orderBy(col("a.vec_id"), col("b.vec_id"))
    }
    try {
      val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
      val df = pairs(ext)
      // nothing was installed: the injected rule alone rewrote it
      assert(ext.experimental.extraOptimizations.isEmpty)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("float_cosine"),
        s"rule did not fire:\n${optimized.take(800)}")
      // the shared session has no rewrite, and the result is the same
      assert(!pairs(spark).queryExecution.optimizedPlan.toString.contains("float_cosine"))
      val got = df.collect().toSeq
      assert(got.nonEmpty && got == pairs(spark).collect().toSeq)
    } finally {
      // the shared session's active and default state, as before
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
    }
  }

  test("native TopK matches the windowed formulation and plans one exchange") {
    import graft.plans.TopK
    val orders = Tables.orders(spark, sfDir).select("o_custkey", "o_orderkey", "o_totalprice")
    val native = TopK.perKey(orders, "o_custkey", "o_totalprice", "o_orderkey", k = 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val windowed = orders.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).drop("rk")
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    assert(native.collect().toSeq == windowed.collect().toSeq)

    // AQE's toString echoes the initial plan too — inspect the final only
    val p = native.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("TopKPerKey"), s"custom exec missing:\n${p.take(600)}")
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly one hash exchange:\n$p")
    // r16: the map-side partial heap sits BELOW the exchange, so the
    // shuffle carries at most k rows per key per input partition
    assert(p.contains("TopKPerKeyPartial"), s"partial pass missing:\n${p.take(600)}")
    val iPartial = p.indexOf("TopKPerKeyPartial")
    val iExchange = p.indexOf("Exchange hashpartitioning")
    assert(iExchange < iPartial,
      s"partial must be the exchange's CHILD (printed below it):\n$p")
  }

  test("native TopK partial flush stays exact past the distinct-key bound") {
    import graft.plans.TopK
    // coalesce(2) puts ~150k distinct keys in one partition — past
    // PartialFlushKeys (131072), so the partial pass flushes mid-stream;
    // keys whose rows straddle a flush emit both chunk top-1's and the
    // final pass must still pick the right one
    val n = 300000L
    assert(n / 2 > TopK.PartialFlushKeys, "test no longer exercises the flush")
    val df = spark.range(n).select(
      (col("id") % 200000L).as("k"), col("id").as("v"), col("id").as("t"))
      .coalesce(2)
    val top = TopK.perKey(df, "k", "v", "t", k = 1).cache()
    assert(top.count() == 200000L)
    // key x has rows {x} (x >= 100000) or {x, x + 200000}: top-1 by v
    val wrong = top.filter(col("v") =!=
      when(col("k") < 100000L, col("k") + 200000L).otherwise(col("k"))).count()
    assert(wrong == 0, s"$wrong keys kept the wrong row across a flush")
    top.unpersist()
  }

  test("native TopK handles k=1 and groups smaller than k") {
    import graft.plans.TopK
    val orders = Tables.orders(spark, sfDir).select("o_custkey", "o_orderkey", "o_totalprice")
    val top1 = TopK.perKey(orders, "o_custkey", "o_totalprice", "o_orderkey", k = 1)
    val perKey = top1.groupBy("o_custkey").count()
    assert(perKey.filter(col("count") =!= 1).count() == 0)
    // k larger than any group: every row comes back
    val topBig = TopK.perKey(orders, "o_custkey", "o_totalprice", "o_orderkey", k = 100000)
    assert(topBig.count() == orders.count())
  }

  test("hashed_word_grams equals xxhash64 over the composed gram strings") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val native = docs.select(col("doc_id"),
        explode(hashedWordGrams(col("text"), 3)).as("h"))
    val composed = docs.select(col("doc_id"),
        explode(TextFunctions.wordGrams(TextFunctions.tokens(col("text")), 3)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    assert(native.except(composed).count() == 0)
    assert(composed.except(native).count() == 0)
  }

  test("minhash_signature is bit-identical to the HOF minhashFromHashes") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val hashes = hashedWordGrams(col("text"), 3)
    val both = docs.select(
      minhashSignature(hashes, 32).as("native"),
      TextFunctions.minhashFromHashes(hashes, 32).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0,
      "native signature must reproduce the HOF arithmetic exactly")
  }

  test("minhash_signature of an empty shingle set is the sentinel [P,..]") {
    val sig = spark.newSession().range(1)
      .select(minhashSignature(typedlit(Seq.empty[Long]), 4))
      .head.getSeq[Long](0)
    assert(sig == Seq.fill(4)(graft.plans.MinhashSignature.P))
  }

  test("hyperplane_sign matches the interpreted per-plane dot signs") {
    val nPlanes = 4
    val dim = 64
    val rnd = new scala.util.Random(7L)
    val planes = Seq.fill(nPlanes * dim)(rnd.nextGaussian())
    val emb = Tables.embeddings(spark, sfDir).limit(200)
    val native = hyperplaneSign(col("embedding"), planes, nPlanes)
    val nativeBits = concat((0 until nPlanes).map(p =>
      when(shiftright(native, p).bitwiseAND(1) === 1, "1").otherwise("0")): _*)
    val hofBits = TextFunctions.bind(col("embedding").cast("array<double>")) { vd =>
      concat((0 until nPlanes).map { p =>
        val plane = typedlit(planes.slice(p * dim, (p + 1) * dim))
        when(aggregate(zip_with(vd, plane, (x, y) => x * y),
          lit(0.0), (acc, t) => acc + t) >= 0, "1").otherwise("0")
      }: _*)
    }
    val diff = emb.select(nativeBits.as("n"), hofBits.as("h"))
      .filter(col("n") =!= col("h"))
    assert(diff.count() == 0, "native sign bits must match the interpreted dots")
  }

  test("native simhash63 is bit-identical to the explode+vote aggregate") {
    val docs = Tables.documents(spark, sfDir)
    val scalar = docs.select(col("doc_id"),
      simhash63(TextFunctions.tokens(col("text"))).as("sc"))
    val agg = TextFunctions.simhash63Agg(docs, "doc_id", TextFunctions.tokens(col("text")))
    val joined = scalar.join(agg, "doc_id")
    assert(joined.count() == docs.count())
    assert(joined.filter(col("sc") =!= col("simhash")).count() == 0,
      "scalar fingerprint must reproduce the aggregate bit-for-bit")
  }

  test("simhash63 stays map-only and inside whole-stage codegen") {
    val df = Tables.documents(spark, sfDir).select(
      simhash63(TextFunctions.tokens(col("text"))).as("sh"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"a per-row fingerprint must not shuffle:\n$p")
    assert(p.contains("*("), s"simhash63 fell out of codegen:\n$p")
  }

  test("binary decoders hit the NULL contract on adversarial near-Long.MaxValue args (no overflow wrap)") {
    // off/count chosen so an unguarded `start + count` wraps negative and
    // would pass a naive bounds check; the contract is NULL, never a
    // garbage range or an ArrayIndexOutOfBoundsException. Payload and
    // offsets are columns over range(), so no call is constant-folded and
    // each runs in the generated code
    val df = spark.range(1).select(
        encode(lpad(col("id").cast("string"), 16, "0123456789abcdef"), "UTF-8").as("payload"),
        (col("id") + (Long.MaxValue - 2L)).as("big"),
        (col("id") + 4294967296L).as("huge"),
        (col("id") + 1L).as("one"),
        (col("id") + 2L).as("two"))
      .select(
        u8Moments(col("payload"), col("big"), lit(8L)),
        u8Moments(col("payload"), col("two"), col("big")),
        pcmS16le(col("payload"), col("big"), lit(4L)),
        pcmS16le(col("payload"), col("two"), col("big")),
        rgb24Pixels(col("payload"), col("big"), lit(2L), lit(2L)),
        rgb24Pixels(col("payload"), col("two"), col("big"), col("big")),
        rgb24Pixels(col("payload"), col("two"), col("huge"), col("huge")),
        // in-range calls still decode: bytes "12" and "0123"
        u8Moments(col("payload"), col("two"), lit(2L)),
        pcmS16le(col("payload"), col("one"), lit(2L)))
    val r = codegenOnly {
      val rows = df.collect()
      Seq("u8_moments", "pcm_s16le", "rgb24_pixels").foreach(inCodegen(df, _))
      rows.head
    }
    (0 until 7).foreach(i => assert(r.isNullAt(i), s"col $i must be NULL, got ${r.get(i)}"))
    assert(r.getSeq[Long](7) == Seq(49L + 50L, 50L))
    assert(r.getSeq[Int](8) == Seq(0x3130, 0x3332))
  }

  test("the ten native expressions give the same rows in whole-stage codegen and interpreted") {
    // row 63 returns NULL from every expression: NULL inputs, and an
    // out-of-range offset for the decoders
    def run(): (DataFrame, Seq[Row]) = {
      val df = kernelInputs(spark, nullAt = 63L)
        .select(col("id") +: kernels.map { case (name, c) => c.as(name) }: _*)
      (df, df.collect().toSeq)
    }
    val (fused, generated) = codegenOnly(run())
    kernels.foreach { case (name, _) => inCodegen(fused, name) }
    val (plain, interpreted) = withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(!finalPlan(plain).contains("*("),
      s"interpreted run planned a codegen stage:\n${finalPlan(plain)}")
    assert(generated.length == 64)
    val last = generated.last
    assert(last.getLong(0) == 63L && (1 to kernels.length).forall(last.isNullAt),
      s"row 63 must be NULL in every column: $last")
    assert(generated.init.forall(r => (1 to kernels.length).forall(!r.isNullAt(_))))
    assert(generated == interpreted)
  }

  test("every typed constructor resolves on a fresh session and stays inside whole-stage codegen") {
    // a session nothing was registered into; inputs come from range()
    // so each projection is a real codegen stage, not a LocalTableScan,
    // and hold no higher-order function (those never enter codegen)
    val fresh = spark.newSession()
    val base = kernelInputs(fresh)
    kernels.foreach { case (name, c) =>
      val df = base.select(c.as("out"))
      assert(df.collect().forall(!_.isNullAt(0)), s"$name returned NULL")
      inCodegen(df, name)
    }
    // the Bloom pair: the filter runs in codegen against the sketch's
    // scalar subquery (the aggregate itself is an object aggregate)
    val keys = fresh.range(64).toDF("k")
    val kept = keys.filter(mightContain(
      keys.agg(bloomFilterAgg(xxhash64(col("k")), 64L, 2048L)).scalar(), xxhash64(col("k"))))
    assert(kept.collect().length == 64)
    inCodegen(kept, "might_contain")
    (kernels.map(_._1) ++ Seq("bloom_filter_agg", "might_contain")).foreach(name =>
      assert(!fresh.catalog.functionExists(name), s"$name was registered in the session"))
  }

  test("registered function resolves from SQL text") {
    val s2 = spark.newSession()
    GraftFunctions.register(s2)
    val r = s2.sql("SELECT float_cosine(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))")
      .head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("every doGenCode under graft.plans calls its Scala compute and emits no loop") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/plans")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root, not $root")
    // each doGenCode body: from its `def` to the next member or the class end
    val bodies = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val text = java.nio.file.Files.readString(f)
        val at = text.indexOf("def doGenCode(")
        Option.when(at >= 0) {
          val end = Seq("\n  override ", "\n  def ", "\n}")
            .map(text.indexOf(_, at)).filter(_ >= 0).min
          f.getFileName.toString -> text.substring(at, end)
        }
      }
    assert(bodies.size >= kernels.length, s"found only ${bodies.map(_._1)}")
    val loops = bodies.collect { case (f, b) if b.contains("for (") || b.contains("while (") => f }
    assert(loops.isEmpty, s"generated code loops instead of calling the kernel: ${loops.mkString(", ")}")
    val noCall = bodies.collect {
      case (f, b) if !b.contains("addReferenceObj(") || !b.contains(".compute(") => f
    }
    assert(noCall.isEmpty, s"doGenCode does not call its compute: ${noCall.mkString(", ")}")
  }
}
