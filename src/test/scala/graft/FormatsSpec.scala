package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Source/format round-trips beyond parquet (SURVEY.md §2.1): JSONL and
  * CSV writes read back losslessly with explicit schemas. */
class FormatsSpec extends SparkSpec {

  test("JSONL round-trip preserves rows including nested structs") {
    val dir = suiteTempDir("graft_jsonl")
    val src = Tables.customer(spark, sf)
      .withColumn("addr", struct(lit("1 st").as("street"), lit("City").as("city")))
    src.write.mode("overwrite").json(dir)
    val back = spark.read.schema(src.schema).json(dir)
    assert(back.count() === src.count())
    assert(back.select("addr.city").distinct().head().getString(0) === "City")
    val a = src.orderBy("c_custkey").collect()
    val b = back.orderBy("c_custkey").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("CSV round-trip with explicit schema preserves values") {
    val dir = suiteTempDir("graft_csv")
    val src = Tables.nation(spark, sf)
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(src.schema).option("header", "true").csv(dir)
    assert(back.orderBy("n_nationkey").collect().toSeq ===
      src.orderBy("n_nationkey").collect().toSeq)
  }

  test("ORC round-trip preserves values (columnar alternative to parquet)") {
    val dir = suiteTempDir("graft_orc")
    val src = Tables.orders(spark, sf)
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema === src.schema)
    assert(back.orderBy("o_orderkey").collect().toSeq ===
      src.orderBy("o_orderkey").collect().toSeq)
  }

  test("malformed JSON lines drop under DROPMALFORMED, parse as null via from_json") {
    val dir = suiteTempDir("graft_badjson")
    // note: trailing garbage ({"a":2}x) would still parse — Spark's
    // Jackson parser stops at the end of the first complete value
    val lines = Seq("""{"a": 1}""", """x{"a": 2}""", """not json""", """{"a": 3}""")
    import spark.implicits._
    lines.toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val dropped = spark.read
      .schema("a INT")
      .option("mode", "DROPMALFORMED")
      .json(dir)
    assert(dropped.count() === 2)
    val viaFromJson = spark.read.text(dir)
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.IntegerType)))).as("p"))
    assert(viaFromJson.filter(col("p.a").isNotNull).count() === 2)
  }
}
