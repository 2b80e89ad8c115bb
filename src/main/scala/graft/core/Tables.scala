package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-provided testdata tables (see TESTDATA.md).
  *
  * Each scale-factor directory holds one parquet file per table. At
  * cluster scale these would be partitioned directories; the loader
  * API is path-based so nothing changes for the caller.
  *
  * Every loader conforms the observed parquet schema to the canonical
  * one documented in TESTDATA.md (the reference's alias-resolution
  * spirit, SURVEY §1.2): a regenerated dataset that drifts within a
  * compatible family (int32↔int64 keys, float↔double embeddings, the
  * three `events.ts` encodings) is cast back at the edge, and an
  * incompatible drift fails loudly at load instead of deep inside a
  * query plan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Canonical post-load schemas — the dtypes every downstream operator
    * and every committed DuckDB oracle assumes. Kept in sync with the
    * observed driver testdata (LoadersSpec pins both directions). */
  private[graft] val canonical: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      // NTZ: how Spark decodes the driver's timestamp[us]; every committed
      // oracle for orders/lineitem was greened against this reading.
      StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))

  /** True when a parquet-observed type can be cast to the canonical one
    * without changing any value the driver data can actually hold
    * (integral widenings/narrowings within the observed value range,
    * float↔double embeddings, timestamp re-tags). */
  private def coercible(from: DataType, to: DataType): Boolean = (from, to) match {
    case (f, t) if f == t => true
    case (ByteType | ShortType | IntegerType | LongType,
          ByteType | ShortType | IntegerType | LongType) => true
    case (FloatType | DoubleType, FloatType | DoubleType) => true
    // Session TZ is pinned UTC, so NTZ↔TZ re-tags are epoch-identities.
    case (TimestampNTZType | TimestampType, TimestampNTZType | TimestampType) => true
    case (DateType, TimestampType | TimestampNTZType) => true
    case (ArrayType(f, _), ArrayType(t, _)) => coercible(f, t)
    case _ => false
  }

  /** Conform `df` to the canonical schema for `name`: select columns in
    * canonical order, casting any compatibly-drifted dtype back; missing
    * columns or incompatible dtypes fail with a message naming the table
    * and column (not an analysis error three operators downstream). */
  private def conform(df: DataFrame, name: String): DataFrame = {
    val want = canonical(name)
    val have = df.schema
    val cols = want.fields.map { f =>
      val actual = have.find(_.name == f.name).getOrElse(throw new IllegalStateException(
        s"$name: column '${f.name}' missing from loaded schema ${have.simpleString}"))
      if (actual.dataType == f.dataType) col(f.name)
      else if (coercible(actual.dataType, f.dataType))
        col(f.name).cast(f.dataType).as(f.name)
      else throw new IllegalStateException(
        s"$name.${f.name}: loaded type ${actual.dataType.simpleString} not coercible to canonical ${f.dataType.simpleString}")
    }
    df.select(cols.toIndexedSeq: _*)
  }

  private def loadConformed(spark: SparkSession, dir: String, name: String): DataFrame =
    conform(load(spark, dir, name), name)

  /** `events.ts` has shipped in two parquet encodings: TIMESTAMP(NANOS)
    * (which Spark rejects by default — the legacy conf reads it as a long
    * of ns since epoch) and plain TIMESTAMP(MICROS) (isAdjustedToUTC=false,
    * which Spark reads as TIMESTAMP_NTZ). The loader branches on the dtype
    * it actually observes, so a regenerated dataset can't break callers:
    * either way the result column is a microsecond TimestampType in the
    * session-UTC zone, matching how DuckDB sees the same file. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    val tsed = raw.schema("ts").dataType match {
      case LongType =>
        // `div` = integral division. A double division (`/ 1000`) would
        // lose precision at epoch-ns magnitude (~1.7e18 > 2^53) and flip
        // the floor on values just below a microsecond boundary — DuckDB's
        // epoch_us is exact, so that would be a latent oracle mismatch.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw // NTZ → TZ is conform's epoch-identity re-tag
    }
    conform(tsed, "events")
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame = loadConformed(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = loadConformed(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = loadConformed(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = loadConformed(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = loadConformed(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = loadConformed(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = loadConformed(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = loadConformed(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = loadConformed(spark, dir, "embeddings")
}
