package graft.spark

import graft.spark.{functions => gf}
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `gf.sketchKey` is one expression (catalyst.SketchKey), but its bytes
  * are a persisted contract: every Bloom/CMS/HLL blob built over it, and
  * every probe key against those blobs, assumes the bytes of the original
  * string composition, kept here as the reference. Every supported column
  * type, nulls in every position, malformed UTF-8 and zero columns are
  * compared byte for byte, generated and interpreted. */
class SketchKeySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-sketch-key-test")
    .getOrCreate()

  /** The key as it was built before SketchKey: cast, concat_ws, encode. */
  private def referenceKey(cols: Column*): Column =
    coalesce(encode(concat_ws("\u0001",
      cols.map(c => coalesce(c.cast("string"), lit("\u0002NULL\u0003"))): _*), "UTF-8"),
      lit(Array.emptyByteArray))

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("bin", BinaryType),
    StructField("tb", ByteType), StructField("sh", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("dec", DecimalType(10, 4)),
    StructField("bo", BooleanType), StructField("dt", DateType),
    StructField("ts", TimestampType)))

  private def bytes(hex: String): Array[Byte] =
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val values: Seq[Seq[Any]] = Seq(
    Seq("abc", "", "héllo", "日本語", "😀", "a\u0001b", "\u0002NULL\u0003", "x y"),
    // binary cast to string: valid, lone continuation, truncated 3-byte,
    // overlong, encoded surrogate, 0xFF, truncated at the end
    Seq(bytes("616263"), bytes("80"), bytes("e282"), bytes("c0af"), bytes("eda080"),
      bytes("ff41"), bytes("41f09f98"), bytes("c3a9")),
    Seq(Byte.MinValue, Byte.MaxValue, 0.toByte, (-1).toByte),
    Seq(Short.MinValue, Short.MaxValue, 0.toShort, (-7).toShort),
    Seq(Int.MinValue, Int.MaxValue, 0, -1, 10, 999999, -1000000),
    Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 9L, 10L, 1234567890123L, -99L),
    Seq(1.5, -0.0, Double.NaN, 1e20, -3.25e-7, Double.PositiveInfinity),
    Seq(BigDecimal("123.4500").bigDecimal, BigDecimal("-0.0001").bigDecimal,
      BigDecimal("0").bigDecimal),
    Seq(true, false),
    Seq(java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("1969-12-31")),
    Seq(java.sql.Timestamp.valueOf("2024-01-01 12:34:56.789"),
      java.sql.Timestamp.valueOf("1970-01-01 00:00:00")))

  /** Row r takes value r of each column (cycling); column (r mod n) is
    * null, so nulls land in every position; the last row is all null. */
  private lazy val df = {
    val n = schema.length
    val rows = (0 until 3 * n).map(r => Row.fromSeq(values.indices.map { c =>
      if (c == r % n) null else values(c)(r % values(c).length)
    })) :+ Row.fromSeq(Seq.fill(n)(null))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private val keySets: Seq[Seq[Column]] =
    schema.fieldNames.toSeq.map(c => Seq(col(c))) ++ Seq(
      schema.fieldNames.toSeq.map(col),
      Seq(col("s"), col("i")), Seq(col("i"), col("s")),
      Seq(col("l"), col("bin"), col("s")),
      Seq((col("sh") + 1).cast("int"), col("s")),
      Seq(lit(null).cast("string"), col("tb")),
      Seq.empty)

  private def compareAll(): Unit = {
    val cols = keySets.flatMap(ks => Seq(gf.sketchKey(ks: _*), referenceKey(ks: _*)))
    val rows = df.select(cols: _*).collect()
    assert(rows.length === 3 * schema.length + 1)
    for (row <- rows; (ks, k) <- keySets.zipWithIndex) {
      val got = row.getAs[Array[Byte]](2 * k)
      val want = row.getAs[Array[Byte]](2 * k + 1)
      assert(got.toSeq === want.toSeq, s"key over ${ks.mkString(", ")} differs on $row")
    }
  }

  test("sketchKey bytes equal the concat_ws/encode composition, generated and interpreted") {
    // keep the projection out of the optimizer's local evaluation, so the
    // generated path really runs
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try compareAll()
    finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try compareAll()
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  test("sketchKey is non-nullable and zero columns give the empty key") {
    val k = df.select(gf.sketchKey().as("k"), gf.sketchKey(col("s")).as("s"))
    assert(k.schema.forall(!_.nullable))
    assert(k.collect().forall(_.getAs[Array[Byte]]("k").isEmpty))
  }
}
