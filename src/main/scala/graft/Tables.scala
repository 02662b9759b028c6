package graft

import java.util.Locale

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.GraftDatasetFactory
import org.apache.spark.sql.types._

/** Parquet readers for the generated test tables, with declared schemas.
  *
  * Each table's schema is declared once, below, and every reader passes
  * it to the scan. An inferring parquet read starts one Spark job per
  * call to read a file footer, before the query plans anything; with the
  * schema given, building a DataFrame starts no job. The declarations
  * equal what Spark 4 infers from the corpus: the `timestamp[us]` columns
  * are not UTC-adjusted, so they are `TIMESTAMP_NTZ`.
  *
  * A declared schema reads a missing or renamed column as nulls, so
  * `requireSchemas` is the guard: it infers each table's schema once and
  * fails, naming the table and column, where the corpus and the
  * declaration differ.
  *
  * Filter pushdown and column pruning still reach the scan. At cluster
  * scale the same call works on a directory of thousands of files; callers
  * never assume a partition count.
  */
object Tables {
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** The ten tables, in the corpus's order, with their declared schemas. */
  val schemas: ListMap[String, StructType] = ListMap(
    "region" -> struct("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> struct("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> struct("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> struct("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> struct("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> struct("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> struct("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> struct("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
    "documents" -> struct("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> struct("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true), "label" -> IntegerType))

  val all: Seq[String] = schemas.keys.toSeq

  private def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(path(dir, name))

  /** Fails unless every table under `dir` has exactly its declared schema:
    * the same columns in the same order, with the same types. Each table
    * is read with inference, one footer job per table. */
  def requireSchemas(spark: SparkSession, dir: String): Unit = all.foreach { t =>
    val found = spark.read.parquet(path(dir, t)).schema.fields.map(Some(_))
    val declared = schemas(t).fields.map(Some(_))
    declared.zipAll(found, None, None).foreach { case (d, f) =>
      def show(o: Option[StructField]) = o.fold("no column")(x => s"${x.name} ${x.dataType.sql}")
      require(d == f,
        s"table $t, column ${d.orElse(f).get.name}: declared ${show(d)}, $dir has ${show(f)}")
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `ts` is stored as TIMESTAMP(MICROS) without UTC adjustment and read
    * as `TIMESTAMP_NTZ`; it is cast to `TIMESTAMP`. The UTC session time
    * zone makes the cast lossless and keeps window and oracle semantics
    * identical. */
  def events(s: SparkSession, d: String): DataFrame =
    apply(s, d, "events").withColumn("ts", col("ts").cast("timestamp"))
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Plans SQL text over the tables under `dir`: each relation the text
    * names after one of the tables above, in subqueries and CTE bodies
    * too, is bound to that table's reader (`events` to [[events]]), so
    * no name is registered in the session. A table named twice is read
    * once and deduplicated by the analyzer, as a temp view referenced
    * twice is. A CTE that shadows a table name is left to the analyzer,
    * which then fails on any reference to the table itself. */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    def lower(name: String) = name.toLowerCase(Locale.ROOT)
    val parsed = spark.sessionState.sqlParser.parsePlan(text)
    val ctes = parsed.collectWithSubqueries { case w: UnresolvedWith =>
      w.cteRelations.map(cte => lower(cte._1))
    }.flatten.toSet
    val readers = mutable.Map.empty[String, LogicalPlan]
    def reader(t: String): LogicalPlan = readers.getOrElseUpdate(t,
      (if (t == "events") events(spark, dir) else apply(spark, dir, t)).queryExecution.analyzed)
    def bind(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
      case UnresolvedRelation(Seq(name), _, _)
          if schemas.contains(lower(name)) && !ctes(lower(name)) =>
        SubqueryAlias(name, reader(lower(name)))
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, q, depth) =>
          (n, q.copy(child = bind(q.child)), depth)
        })
    }
    GraftDatasetFactory.ofRows(spark, bind(parsed))
  }
}
