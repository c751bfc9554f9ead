package graft.spark

import graft.spark.catalyst._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd BloomMightContain hand-dispatches on child dataType —
  * every branch must agree with the interpreted RowHasher path, or probes
  * would silently miss (zero-FN violation). Matrix: build via the
  * aggregate (interpreted RowHasher), probe via whole-stage codegen, for
  * every supported type incl. nulls. */
class CodegenParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-parity-test")
    .getOrCreate()

  test("codegen probe = interpreted probe for every supported key type + nulls") {
    import spark.implicits._
    val df = spark.range(0, 5000).select(
      concat(lit("s"), $"id".cast("string")).as("s_str"),
      when($"id" % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("n"), $"id".cast("string"))).as("s_null"),
      $"id".as("v_long"),
      $"id".cast("int").as("v_int"),
      ($"id" % 128).cast("tinyint").as("v_byte"),
      ($"id" % 1000).cast("smallint").as("v_short"),
      ($"id" % 2 === 0).as("v_bool"),
      ($"id" * 1.5 - 250.25).as("v_double"),
      ($"id" * 0.5f).cast("float").as("v_float"),
      encode(concat(lit("b"), $"id".cast("string")), "UTF-8").as("v_bin"),
      to_date(lit("2024-01-01")).as("v_date"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("v_ts"))
    val keyCols = df.columns.map(col).toSeq
    val sketch = df.agg(bloomAggNative(5000L, 0.0001)(keyCols: _*)).head.getAs[Array[Byte]](0)

    // codegen path (whole-stage on)
    val hitsCg = df.filter(bloomMightContainNative(lit(sketch), keyCols: _*)).count()
    assert(hitsCg === 5000L, s"codegen probe lost ${5000 - hitsCg} keys")

    // interpreted path (force expression eval)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val hitsIn = df.filter(bloomMightContainNative(lit(sketch), keyCols: _*)).count()
      assert(hitsIn === 5000L, s"interpreted probe lost ${5000 - hitsIn} keys")
      // negative probes agree too (same FP pattern bit-for-bit)
      val neg = df.withColumn("s_str", concat(lit("x"), col("s_str")))
      val negCg = {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        neg.filter(bloomMightContainNative(lit(sketch), keyCols: _*))
          .select(col("v_long")).collect().map(_.getLong(0)).toSet
      }
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val negIn = neg.filter(bloomMightContainNative(lit(sketch), keyCols: _*))
        .select(col("v_long")).collect().map(_.getLong(0)).toSet
      assert(negCg === negIn, "codegen and interpreted disagree on false-positive pattern")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("per-pair parity: codegen probe = interpreted probe for every registered hash pair") {
    // The pair-injected codegen emits DIFFERENT static calls per pair
    // (xxHash64/murmur3_64/fnv1a64 + their *Long twins, seeded inits) —
    // each registered pair's generated code must agree with the
    // interpreted RowHasher chain bit-for-bit, and Janino must actually
    // compile it (CODEGEN_ONLY — no silent fallback can mask a bad emit).
    import spark.implicits._
    import graft.core.KMHashPair
    val df = spark.range(0, 4000).select(
      concat(lit("k"), $"id".cast("string")).as("k"),
      when($"id" % 5 === 0, lit(null).cast("string"))
        .otherwise($"id".cast("string")).as("kn"),
      $"id".cast("int").as("i"),
      ($"id" * 0.25).as("d"))
    val keyCols = Seq($"k", $"kn", $"i", $"d")
    for (pair <- KMHashPair.registered) {
      val sketch = df.agg(bloomAggNativePair(4000L, 0.0001, pair)(keyCols: _*))
        .head.getAs[Array[Byte]](0)
      assert(graft.core.SketchCodec.decodeBloom(sketch).hasherId === pair.id)
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val hitsCg =
        try df.filter(bloomMightContainNativePair(pair)(lit(sketch), keyCols: _*)).count()
        finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      assert(hitsCg === 4000L, s"pair $pair: codegen probe lost ${4000 - hitsCg} keys")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try {
        val hitsIn = df.filter(bloomMightContainNativePair(pair)(lit(sketch), keyCols: _*)).count()
        assert(hitsIn === 4000L, s"pair $pair: interpreted probe lost ${4000 - hitsIn} keys")
        // negative probes agree bit-for-bit (same FP pattern per pair)
        val neg = df.withColumn("k", concat(lit("x"), col("k")))
        val negIn = neg.filter(bloomMightContainNativePair(pair)(lit(sketch), keyCols: _*))
          .select($"i").collect().map(_.getInt(0)).toSet
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
        val negCg = neg.filter(bloomMightContainNativePair(pair)(lit(sketch), keyCols: _*))
          .select($"i").collect().map(_.getInt(0)).toSet
        assert(negCg === negIn, s"pair $pair: codegen and interpreted FP patterns differ")
      } finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }
  }

  test("mismatched pair probe fails fast instead of probing garbage") {
    import spark.implicits._
    import graft.core.KMHashPair
    val df = spark.range(0, 100).select($"id".cast("string").as("k"))
    val sketch = df.agg(bloomAggNativePair(1000L, 0.001, KMHashPair.XxFnv)($"k"))
      .head.getAs[Array[Byte]](0)
    val e = intercept[Exception] {
      df.filter(bloomMightContainNative(lit(sketch), $"k")).count()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t.getMessage).toSeq ++ Option(t.getCause).toSeq.flatMap(rootMessages)
    assert(rootMessages(e).exists(_.contains("hash pair")),
      s"expected a hash-pair mismatch error, got: ${rootMessages(e)}")
  }

  test("probe expression actually janino-compiles (no silent interpreter fallback)") {
    // CODEGEN_ONLY turns Spark's silent interpreted fallback into a hard
    // error. Pins the graft.spark.`native` regression: `native` is a Java
    // keyword, so every generated fully-qualified reference into that
    // package was unparseable by Janino and ALL probes ran interpreted
    // while the parity test above silently passed via FALLBACK mode.
    import spark.implicits._
    val df = spark.range(0, 1000).select(
      $"id", concat(lit("c"), $"id".cast("string")).as("c"))
    val sketch = df.agg(bloomAggNative(1000L, 0.001)($"c", $"id"))
      .head.getAs[Array[Byte]](0)
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val hits = df.filter(bloomMightContainNative(lit(sketch), $"c", $"id")).count()
      assert(hits === 1000L)
      val est = df.agg(cmsAggNative(0.01, 0.01)($"c")).head.getAs[Array[Byte]](0)
      val probed = df.select(cmsEstimateNative(lit(est), $"c").as("e"))
        .agg(min($"e")).head.getLong(0)
      assert(probed >= 1L)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }
  test("SketchKey: generated code = interpreted eval on random rows of every part type") {
    // pure Catalyst: the same bound expression through eval and through a
    // Janino-compiled projection; random string parts include malformed
    // UTF-8 (the bytes a binary column cast to string carries)
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val types = Seq(StringType, ByteType, ShortType, IntegerType, LongType, DoubleType,
      DecimalType(12, 3), BooleanType, DateType, TimestampType, BinaryType)
    val rnd = new scala.util.Random(20261018L)
    def value(t: DataType): Any = t match {
      case StringType => UTF8String.fromBytes(Array.fill(rnd.nextInt(6))(
        if (rnd.nextInt(4) == 0) rnd.nextInt(256).toByte else (32 + rnd.nextInt(90)).toByte))
      case BinaryType => Array.fill(rnd.nextInt(4))(rnd.nextInt(256).toByte)
      case ByteType => rnd.nextInt(256).toByte
      case ShortType => rnd.nextInt(65536).toShort
      case IntegerType => if (rnd.nextBoolean()) rnd.nextInt() else rnd.nextInt(21) - 10
      case LongType => rnd.nextInt(4) match {
        case 0 => Long.MinValue
        case 1 => Long.MaxValue
        case _ => rnd.nextLong() >> rnd.nextInt(64)
      }
      case DoubleType => rnd.nextGaussian() * 1e6
      case d: DecimalType => org.apache.spark.sql.types.Decimal(BigDecimal(rnd.nextInt(), 3), 12, 3)
      case BooleanType => rnd.nextBoolean()
      case DateType => rnd.nextInt(40000) - 20000
      case TimestampType => rnd.nextLong() >> 12
    }
    val children = types.zipWithIndex.map { case (t, i) =>
      Cast(BoundReference(i, t, nullable = true), StringType, Some("UTC"))
    }
    for (arity <- Seq(0, 1, 2, types.length)) {
      val parts = if (arity == 0) Seq.empty else
        (0 until arity).map(j => children((j * 7 + arity) % children.length))
      val key = catalyst.SketchKey(parts)
      val generated = GenerateUnsafeProjection.generate(Seq(key))
      for (_ <- 0 until 2000) {
        val row = new GenericInternalRow(types.map(t =>
          if (rnd.nextInt(6) == 0) null else value(t)).toArray[Any])
        val interpreted = key.eval(row).asInstanceOf[Array[Byte]]
        val compiled = generated(row).getBinary(0)
        assert(compiled.toSeq === interpreted.toSeq, s"arity $arity differs on $row")
      }
    }
  }
}
