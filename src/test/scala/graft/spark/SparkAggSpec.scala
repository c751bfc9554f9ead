package graft.spark

import graft.core._
import graft.spark.{functions => gf}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** North-rule properties proven under Spark's REAL partial/final
  * aggregation: the partition count changes the merge tree, so identical
  * results across repartitionings demonstrate merge order-independence in
  * the execution engine itself, not just the kernel. */
class SparkAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  private lazy val sf = "/root/testdata/sf0.001"

  test("Bloom UDAF: state identical across 1 vs 16 partitions and ≡ core bulk insert") {
    import spark.implicits._
    val keys = (0 until 20000).map(i => s"conv-${i % 997}|${i}")
    val cap = 20000L
    def buildWith(parts: Int): BloomSketch = {
      val df = keys.toDF("k").repartition(parts)
      SketchCodec.decodeBloom(
        df.agg(gf.bloomAgg(cap, 0.001)(gf.sketchKey(col("k")))).head.getAs[Array[Byte]](0))
    }
    val one = buildWith(1)
    val many = buildWith(16)
    assert(one === many, "partition count changed Bloom state")
    // ≡ driver-side bulk insertion over the same canonical encoding
    val bulk = KMBloomSketch(cap, 0.001)
    keys.foreach(k => bulk.insert(k))
    assert(one === bulk, "Spark aggregation != core bulk insert")
    // byte for byte, including the KeyMode.Bytes header tag
    val bulkBlob = SketchCodec.encodeBloom(bulk, SketchCodec.KeyMode.Bytes)
    val blob = keys.toDF("k").agg(gf.bloomAgg(cap, 0.001)(gf.sketchKey(col("k"))))
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(blob, bulkBlob), "gf.bloomAgg blob != encoded bulk insert")
    // a null key (q04's when() mask) is skipped, not hashed as a tag
    val withNull = (keys.map(Option(_)) :+ None).toDF("k").repartition(3)
      .agg(gf.bloomAgg(cap, 0.001)(when(col("k").isNotNull, gf.sketchKey(col("k")))))
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(withNull, bulkBlob), "a null key changed the Bloom blob")
    // the seeded variant (gf.bloomSeededAgg): ≡ core bulk insert byte for
    // byte, at 1 and 16 partitions, and a null key leaves it unchanged
    val seededBulk = SeededBloomSketch(cap, 0.001)
    keys.foreach(k => seededBulk.insert(k))
    val seededBulkBlob = SketchCodec.encodeBloom(seededBulk)
    def seeded(rows: Seq[Option[String]], parts: Int): Array[Byte] =
      rows.toDF("k").repartition(parts)
        .agg(gf.bloomSeededAgg(cap, 0.001)(when(col("k").isNotNull, gf.sketchKey(col("k")))))
        .head.getAs[Array[Byte]](0)
    Seq(1, 16).foreach { parts =>
      assert(java.util.Arrays.equals(seeded(keys.map(Option(_)), parts), seededBulkBlob),
        s"gf.bloomSeededAgg blob != encoded seeded bulk insert at $parts partitions")
    }
    assert(java.util.Arrays.equals(seeded(keys.map(Option(_)) :+ None, 3), seededBulkBlob),
      "a null key changed the seeded Bloom blob")
    // every registered hash pair: the pair's build ≡ its core bulk insert
    KMHashPair.registered.foreach { pair =>
      val pb = KMBloomSketch(cap, 0.001, pair)
      keys.foreach(k => pb.insert(k))
      val built = keys.toDF("k").repartition(4)
        .agg(gf.bloomAggPair(cap, 0.001, pair)(gf.sketchKey(col("k")))).head.getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(built, SketchCodec.encodeBloom(pb, SketchCodec.KeyMode.Bytes)),
        s"bloomAggPair($pair) != core bulk insert")
    }
    // a computed key expression (projected once per row) builds the same
    // blob as that key pre-projected into plain columns
    import graft.spark.catalyst.bloomAggNative
    val rows = keys.zipWithIndex
    val computed = rows.toDF("k", "i")
      .agg(bloomAggNative(cap, 0.001)(concat(col("k"), lit("#")), col("i") * 2))
      .head.getAs[Array[Byte]](0)
    val preProjected = rows.map { case (k, i) => (k + "#", i * 2) }.toDF("a", "b")
      .agg(bloomAggNative(cap, 0.001)(col("a"), col("b"))).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(computed, preProjected),
      "computed key expression diverged from the pre-projected key")
  }

  test("HLL / CMS UDAFs: state identical across partitionings") {
    import spark.implicits._
    val keys = (0 until 30000).map(i => s"item-${i % 5000}")
    def hll(parts: Int) = SketchCodec.decodeHll(
      keys.toDF("k").repartition(parts)
        .agg(gf.hllAgg(gf.sketchKey(col("k")))).head.getAs[Array[Byte]](0))
    def cms(parts: Int) = SketchCodec.decodeCms(
      keys.toDF("k").repartition(parts)
        .agg(gf.cmsAgg(0.001, 0.01)(gf.sketchKey(col("k")))).head.getAs[Array[Byte]](0))
    assert(hll(1) === hll(13))
    assert(cms(1) === cms(13))
    assert(math.abs(hll(13).estimate - 5000) <= 3 * hll(13).relativeStandardError * 5000 + 1)
    assert(cms(13).totalCount === 30000L)
    // byte for byte ≡ core bulk insert (CMS with its KeyMode.Bytes tag)
    val bulkHll = HLLSketch()
    val bulkCms = CMSSketch(0.001, 0.01)
    keys.foreach { k => bulkHll.update(k.getBytes("UTF-8")); bulkCms.update(k.getBytes("UTF-8")) }
    val hllBlob = SketchCodec.encodeHll(bulkHll)
    val cmsBlob = SketchCodec.encodeCms(bulkCms, SketchCodec.KeyMode.Bytes)
    val direct = keys.toDF("k").agg(gf.hllAgg(gf.sketchKey(col("k"))),
      gf.cmsAgg(0.001, 0.01)(gf.sketchKey(col("k")))).head
    assert(java.util.Arrays.equals(direct.getAs[Array[Byte]](0), hllBlob), "hllAgg != bulk")
    assert(java.util.Arrays.equals(direct.getAs[Array[Byte]](1), cmsBlob), "cmsAgg != bulk")
    // a null key leaves both blobs unchanged
    val masked = when(col("k").isNotNull, gf.sketchKey(col("k")))
    val withNull = (keys.map(Option(_)) :+ None).toDF("k").repartition(5)
      .agg(gf.hllAgg(masked), gf.cmsAgg(0.001, 0.01)(masked)).head
    assert(java.util.Arrays.equals(withNull.getAs[Array[Byte]](0), hllBlob),
      "a null key changed the HLL blob")
    assert(java.util.Arrays.equals(withNull.getAs[Array[Byte]](1), cmsBlob),
      "a null key changed the CMS blob")
    // computed key expressions ≡ the same keys pre-projected (hash64 path)
    import graft.spark.catalyst.{cmsAggNative, hllAggNative}
    val computed = keys.toDF("k")
      .agg(hllAggNative(upper(col("k"))), cmsAggNative(0.001, 0.01)(upper(col("k")))).head
    val preProjected = keys.map(_.toUpperCase).toDF("u")
      .agg(hllAggNative(col("u")), cmsAggNative(0.001, 0.01)(col("u"))).head
    (0 until 2).foreach { i =>
      assert(java.util.Arrays.equals(computed.getAs[Array[Byte]](i),
        preProjected.getAs[Array[Byte]](i)), s"computed key diverged (column $i)")
    }
  }

  test("t-digest / KLL UDAFs: estimates within bound regardless of partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    val values = Array.fill(50000)(rnd.nextDouble() * 1000)
    val sorted = values.sorted
    def rankOf(x: Double): Double = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) { val m = (lo + hi) / 2; if (sorted(m) <= x) lo = m + 1 else hi = m }
      lo.toDouble / sorted.length
    }
    for (parts <- Seq(1, 16)) {
      val df = values.toSeq.toDF("v").repartition(parts)
      val td = SketchCodec.decodeTDigest(
        df.agg(gf.tdigestAgg(col("v"))).head.getAs[Array[Byte]](0))
      val kll = SketchCodec.decodeKll(
        df.agg(gf.kllAgg(col("v"))).head.getAs[Array[Byte]](0))
      for (q <- Seq(0.5, 0.95, 0.99)) {
        assert(math.abs(rankOf(td.quantile(q)) - q) <= 0.02, s"tdigest q=$q parts=$parts")
        assert(math.abs(rankOf(kll.quantile(q)) - q) <= 3 * kll.normalizedRankError,
          s"kll q=$q parts=$parts")
      }
      assert(kll.count === 50000L)
    }
  }

  test("grouped sketch table + query-side union/intersect functions") {
    import spark.implicits._
    val df = (0 until 10000).map(i => (s"g${i % 4}", s"key-$i")).toDF("g", "k")
    val cap = 10000L
    val shards = df.groupBy($"g").agg(gf.bloomAgg(cap, 0.001)(gf.sketchKey($"k")).as("sk"))
    assert(shards.count() === 4)
    // fold shard sketches with the binary union function (query-side
    // composition, reference km_bloom_filter.rs:184–194)
    val a = shards.filter($"g" === "g0").head.getAs[Array[Byte]]("sk")
    val b = shards.filter($"g" === "g1").head.getAs[Array[Byte]]("sk")
    val merged = Seq((a, b)).toDF("a", "b")
      .select(gf.bloomUnion($"a", $"b").as("u")).head.getAs[Array[Byte]]("u")
    val m = SketchCodec.decodeBloom(merged)
    (0 until 10000).filter(i => i % 4 == 0 || i % 4 == 1)
      .foreach(i => assert(m.mightContain(s"key-$i")))
    // intersect of disjoint groups: membership of the actual keys is rare;
    // the ELEMENT-COUNT estimate over-estimates by design (random shared
    // bits: expected fill ≈ fillA·fillB per segment — the km:196–204
    // caveat), so gate membership, and the estimate only loosely.
    val inter = Seq((a, b)).toDF("a", "b")
      .select(gf.bloomIntersect($"a", $"b").as("x")).head.getAs[Array[Byte]]("x")
    val ix = SketchCodec.decodeBloom(inter)
    val falseHits = (0 until 10000).count(i => ix.mightContain(s"key-$i"))
    assert(falseHits <= 25, s"disjoint intersect matched $falseHits keys")
    assert(ix.approximateElementCount <=
      math.min(SketchCodec.decodeBloom(a).approximateElementCount,
        SketchCodec.decodeBloom(b).approximateElementCount))
  }

  test("theta column functions + SQL names: set-algebra composition over blob columns") {
    import spark.implicits._
    import graft.spark.catalyst.thetaAggNative
    // A = [0, 2000), B = [1500, 3500): |A∪B| = 3500 < k = 4096, so the
    // whole composition stays in exact mode and estimates are exact
    val df = (0 until 3500).map(i => s"key-$i").toDF("k").cache()
    val a = df.filter(expr("CAST(SUBSTRING(k, 5) AS INT) < 2000"))
      .agg(thetaAggNative($"k")).head.getAs[Array[Byte]](0)
    val b = df.filter(expr("CAST(SUBSTRING(k, 5) AS INT) >= 1500"))
      .agg(thetaAggNative($"k")).head.getAs[Array[Byte]](0)
    val r = Seq((a, b)).toDF("a", "b").select(
      gf.thetaEstimate(gf.thetaUnion($"a", $"b")).as("u"),
      gf.thetaEstimate(gf.thetaIntersect($"a", $"b")).as("i"),
      gf.thetaEstimate(gf.thetaDifference($"b", $"a")).as("d")).head
    assert(r.getDouble(0) === 3500.0)
    assert(r.getDouble(1) === 500.0)
    assert(r.getDouble(2) === 1500.0)
    // same composition through the registered SQL names
    gf.registerAll(spark)
    Seq((a, b)).toDF("a", "b").createOrReplaceTempView("theta_v")
    val sqlI = spark.sql(
      "SELECT theta_estimate(theta_intersect(a, b)) FROM theta_v").head.getDouble(0)
    assert(sqlI === 500.0)
    df.unpersist()
  }

  test("bottom-k sample: SQL builder + unwrap fns, parallelism-invariant, null-safe") {
    import spark.implicits._
    import graft.spark.catalyst.{bottomKSampleAgg, GraftExtensions}
    val df = (0 until 2000).map(i => s"conv-$i").toDF("k").cache()
    // column path at two parallelisms → bit-identical blobs
    val b1 = df.repartition(1).agg(bottomKSampleAgg(64)($"k")).head.getAs[Array[Byte]](0)
    val b9 = df.repartition(9).agg(bottomKSampleAgg(64)($"k")).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(b1, b9), "sample not partitioning-invariant")
    // unwrap fns: 64 real keys; null blob → null, not NPE
    val sampled = Seq(Tuple1(b1)).toDF("s")
      .select(gf.bottomKSampleStrings($"s").as("keys"))
      .head.getSeq[String](0)
    assert(sampled.length === 64 && sampled.forall(_.startsWith("conv-")))
    assert(Seq(Tuple1(null: Array[Byte])).toDF("s")
      .select(gf.bottomKSampleStrings($"s")).head.isNullAt(0))
    // SQL surface end-to-end: aggregate and unwrap by registered names
    GraftExtensions.register(spark)
    gf.registerAll(spark)
    df.createOrReplaceTempView("bk_v")
    val viaSql = spark.sql(
      "SELECT bottomk_sample_strings(graft_bottomk_sample_agg(64, k)) FROM bk_v")
      .head.getSeq[String](0)
    assert(viaSql.toSet === sampled.toSet, "SQL path sample differs from column path")
    df.unpersist()
  }

  test("weighted bottom-k: agg ≡ kernel, parallelism-invariant, merge agg, SQL surface") {
    import spark.implicits._
    import graft.spark.catalyst.{sketchMergeAgg, weightedBottomKSampleAgg, GraftExtensions}
    import graft.core.{Hashing, SketchCodec, WeightedBottomKSketch}
    // weight a pure function of the key: 9.0 for even ids, 1.0 for odd
    val df = (0 until 2000).map(i => (s"conv-$i", if (i % 2 == 0) 9.0 else 1.0))
      .toDF("k", "w").cache()
    val b1 = df.repartition(1)
      .agg(weightedBottomKSampleAgg(64)($"k", $"w")).head.getAs[Array[Byte]](0)
    val b9 = df.repartition(9)
      .agg(weightedBottomKSampleAgg(64)($"k", $"w")).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(b1, b9), "weighted sample not partitioning-invariant")
    // agg result ≡ kernel bulk build, bit for bit
    val bulk = WeightedBottomKSketch(64)
    (0 until 2000).foreach { i =>
      bulk.update(s"conv-$i".getBytes("UTF-8"), if (i % 2 == 0) 9.0 else 1.0)
    }
    assert(java.util.Arrays.equals(b1, SketchCodec.encodeWeightedBottomK(bulk)),
      "Spark agg blob differs from kernel bulk build")
    // second-level merge: per-salt partials fold to the same global blob
    val salted = df.withColumn("salt", xxhash64($"k") % 8)
      .groupBy($"salt").agg(weightedBottomKSampleAgg(64)($"k", $"w").as("sk"))
    val remerged = salted.agg(sketchMergeAgg($"sk")).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(remerged, b1), "sketch_merge_agg re-merge diverged")
    // unwrap: race order, weighted bias; null-safe
    val sampled = Seq(Tuple1(b1)).toDF("s")
      .select(gf.weightedSampleStrings($"s").as("keys")).head.getSeq[String](0)
    assert(sampled.length === 64)
    val heavy = sampled.count(_.stripPrefix("conv-").toInt % 2 == 0)
    assert(heavy >= 48, s"only $heavy/64 heavy keys — weights not honored")
    assert(Seq(Tuple1(null: Array[Byte])).toDF("s")
      .select(gf.weightedSampleStrings($"s")).head.isNullAt(0))
    // SQL surface end-to-end (int weight exercises the cast)
    GraftExtensions.register(spark)
    gf.registerAll(spark)
    df.createOrReplaceTempView("wbk_v")
    val viaSql = spark.sql(
      "SELECT weighted_sample_strings(graft_weighted_bottomk_agg(64, k, CAST(w AS INT))) FROM wbk_v")
      .head.getSeq[String](0)
    assert(viaSql.toSet === sampled.toSet, "SQL path sample differs from column path")
    df.unpersist()
  }

  test("graft_bloom_might_contain_keyed on the SQL surface: shard-routed probe") {
    import spark.implicits._
    import graft.spark.catalyst.GraftExtensions
    GraftExtensions.register(spark)
    (0 until 4000).map(i => (i.toLong % 4, s"c-$i", i))
      .toDF("shard", "conv_id", "turn_idx").createOrReplaceTempView("kp_rows")
    spark.sql(
      "SELECT shard, graft_bloom_agg(2000, CAST(0.001 AS DOUBLE), conv_id, turn_idx) AS sk " +
        "FROM kp_rows GROUP BY shard").createOrReplaceTempView("kp_shards")
    val hits = spark.sql(
      """SELECT COUNT(*) FROM kp_rows r JOIN kp_shards s USING (shard)
        |WHERE graft_bloom_might_contain_keyed(shard, sk, conv_id, turn_idx)""".stripMargin)
      .head.getLong(0)
    assert(hits === 4000L, "keyed SQL probe lost inserted keys — false negative!")
    val fps = spark.sql(
      """SELECT COUNT(*) FROM kp_rows r JOIN kp_shards s USING (shard)
        |WHERE graft_bloom_might_contain_keyed(shard, sk, conv_id, turn_idx + 1000000)""".stripMargin)
      .head.getLong(0)
    assert(fps <= 10L, s"disjoint keys matched $fps times at fpp=0.001 over 4000 probes")
  }

  test("graft_bloom_agg_pair on the SQL surface: q34's three pairs end-to-end") {
    import spark.implicits._
    import graft.spark.catalyst.GraftExtensions
    GraftExtensions.register(spark)
    val n = 4000L
    (0 until n.toInt).map(i => (s"c-${i % 97}", i))
      .toDF("conv_id", "turn_idx").createOrReplaceTempView("pair_rows")
    // the same three non-default pairs q34 runs through the Scala
    // surface (reference KMBloomFilter<H1,H2> sweep, integration.rs)
    val pairNames = Seq("xx64+fnv1a64", "fnv1a64+murmur3_64", "xx64(0)+xx64(seeded)")
    pairNames.foreach { p =>
      spark.sql(
        s"""SELECT graft_bloom_agg_pair('$p', 4000, CAST(0.001 AS DOUBLE),
           |  conv_id, turn_idx) AS sk FROM pair_rows""".stripMargin)
        .createOrReplaceTempView("pair_sk")
      val hits = spark.sql(
        s"""SELECT COUNT(*) FROM pair_rows
           |WHERE graft_bloom_might_contain_pair('$p',
           |  (SELECT sk FROM pair_sk), conv_id, turn_idx)""".stripMargin)
        .head.getLong(0)
      assert(hits === n, s"pair '$p' lost inserted keys via SQL — false negative!")
      val fps = spark.sql(
        s"""SELECT COUNT(*) FROM pair_rows
           |WHERE graft_bloom_might_contain_pair('$p',
           |  (SELECT sk FROM pair_sk), conv_id, turn_idx + 1000000)""".stripMargin)
        .head.getLong(0)
      assert(fps <= 10L, s"pair '$p': $fps disjoint-key FPs at fpp=0.001 over $n probes")
      // probing with the WRONG pair must fail fast at the decode boundary
      val ex = intercept[Exception](spark.sql(
        s"""SELECT COUNT(*) FROM pair_rows
           |WHERE graft_bloom_might_contain_pair('xx64+murmur3_64',
           |  (SELECT sk FROM pair_sk), conv_id, turn_idx)""".stripMargin).head)
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("hash pair")),
        s"cross-pair SQL probe should fail on the pair id, got: ${messages(ex)}")
    }
    // pair-by-id form resolves the same registered pair as the name
    val byId = spark.sql(
      """SELECT COUNT(*) FROM pair_rows
        |WHERE graft_bloom_might_contain_pair(1,
        |  (SELECT graft_bloom_agg_pair(1, 4000, CAST(0.001 AS DOUBLE), conv_id, turn_idx)
        |   FROM pair_rows), conv_id, turn_idx)""".stripMargin).head.getLong(0)
    assert(byId === n)
    // an unregistered name fails at ANALYSIS time with the registry list
    val bad = intercept[Exception](spark.sql(
      "SELECT graft_bloom_agg_pair('nope', 10, CAST(0.001 AS DOUBLE), conv_id) FROM pair_rows"))
    assert(bad.getMessage.contains("unknown hash pair") ||
      Option(bad.getCause).exists(_.getMessage.contains("unknown hash pair")))
  }

  test("bloomProbe as filter predicate: semi-join reduction keeps exactly the hits") {
    import spark.implicits._
    val build = (0 until 5000).map(i => s"id-$i").toDF("k")
    val sketch = build.agg(gf.bloomAgg(5000L, 0.0001)(gf.sketchKey($"k")))
      .head.getAs[Array[Byte]](0)
    val probe = (0 until 10000).map(i => s"id-$i").toDF("k")
    val kept = probe.filter(gf.bloomProbe(sketch)(gf.sketchKey($"k"))).count()
    assert(kept >= 5000L, "lost true members — false negative!")
    assert(kept <= 5000L + (5000 * 0.0001 * 2 + 3).toLong, s"too many FPs: $kept")
  }

  test("SQL registration surface: sketch built and probed from spark.sql") {
    gf.registerAll(spark)
    spark.read.parquet(s"$sf/events.parquet").createOrReplaceTempView("events_v")
    val est = spark.sql(
      """SELECT hll_estimate(hll_agg(encode(CAST(user_id AS STRING), 'UTF-8'))) AS d
        |FROM events_v""".stripMargin).head.getLong(0)
    val exact = spark.sql("SELECT COUNT(DISTINCT user_id) FROM events_v").head.getLong(0)
    assert(math.abs(est - exact) <= math.max(1L, (0.03 * exact).toLong))
  }

  test("100k-group sketch table: fallback aggregation + sparse serde end-to-end") {
    import spark.implicits._
    import graft.spark.catalyst.hllAggNative
    // far past ObjectHashAggregate's in-memory group threshold, so the
    // sort-based fallback path (which round-trips every partial state
    // through the codec between groups) runs for real, with the sparse
    // layout on every one of the 100k small groups
    val n = 100000L
    val grouped = spark.range(n * 5)
      .select(pmod(col("id"), lit(n)).as("g"), col("id"))
      .groupBy(col("g")).agg(hllAggNative(col("id")).as("h"))
      .cache()
    assert(grouped.count() === n)
    val stats = grouped.agg(
      max(length(col("h"))).as("max_len"),
      min(length(col("h"))).as("min_len")).head
    // 5 distinct values per group: sparse blobs of ~30 B, never dense
    assert(stats.getInt(0) < 64 && stats.getInt(1) > 10,
      s"unexpected blob sizes [${stats.getInt(1)}, ${stats.getInt(0)}]")
    // sample-decode: estimates must be ~5 for every sampled group
    val sampled = grouped.filter(col("g") % 9973 === 0)
      .collect().map(r => graft.core.SketchCodec.decodeHll(r.getAs[Array[Byte]]("h")).estimate)
    assert(sampled.length === 11 && sampled.forall(e => math.abs(e - 5.0) < 0.5))
    grouped.unpersist()
  }

  test("Misra-Gries end-to-end in Spark: native agg, bounds, SQL, unwrap fns") {
    import spark.implicits._
    import graft.spark.catalyst.{mgAgg, GraftExtensions}
    // heavy key "grep" (30k of 50k) + 40 light keys, spread over 7
    // partitions so the PODS-2012 merge runs in Spark's final stage
    val rows = (0 until 20000).map(i => s"tool-${i % 40}") ++
      (0 until 30000).map(_ => "grep")
    val df = rows.toDF("k").repartition(7).cache()
    val n = df.count()
    val blob = df.agg(mgAgg(8)($"k")).head.getAs[Array[Byte]](0)
    val mg = graft.core.SketchCodec.decodeMg(blob)
    val exact = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val thresh = n / 9
    assert(mg.processedCount === n)
    assert(mg.decrementTotal <= thresh, s"err bound ${mg.decrementTotal} > $thresh")
    exact.foreach { case (key, f) =>
      assert(mg.estimate(key) <= f, s"$key overcounted")
      assert(f - mg.estimate(key) <= mg.decrementTotal, s"$key outside realized bound")
      if (f > thresh) assert(mg.estimate(key) > 0, s"heavy $key missing")
    }
    // unwrap fns: heavy hitters relation + realized bound; null-safe
    val hh = Seq(Tuple1(blob)).toDF("s")
      .select(explode(gf.mgHeavyHitters($"s")).as("e"))
      .select($"e._1".as("key"), $"e._2".as("est")).collect()
    assert(hh.nonEmpty && hh.head.getString(0) === "grep",
      "entries must lead with the heaviest key")
    assert(Seq(Tuple1(blob)).toDF("s").select(gf.mgErrorBound($"s")).head.getLong(0)
      === mg.decrementTotal)
    assert(Seq(Tuple1(null: Array[Byte])).toDF("s")
      .select(gf.mgHeavyHitters($"s")).head.isNullAt(0))
    assert(Seq(Tuple1(null: Array[Byte])).toDF("s")
      .select(gf.mgErrorBound($"s")).head.isNullAt(0))
    // SQL surface
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("mg_v")
    val sqlBlob = spark.sql("SELECT graft_mg_agg(8, k) FROM mg_v").head.getAs[Array[Byte]](0)
    val mg2 = graft.core.SketchCodec.decodeMg(sqlBlob)
    assert(mg2.processedCount === n && mg2.decrementTotal <= thresh)
    assert(mg2.estimate("grep") > 0)
    df.unpersist()
  }

  test("sketch_describe renders every sketch type; null-safe; SQL-registered") {
    import spark.implicits._
    import graft.spark.catalyst._
    val df = (0 until 500).map(i => (s"c$i", i.toDouble)).toDF("k", "v").cache()
    val blobs = df.agg(
      bloomAggNative(1000L, 0.01)($"k").as("bloom"),
      hllAggNative($"k").as("hll"),
      cmsAggNative(0.01, 0.01)($"k").as("cms"),
      tdigestAggNative($"v").as("td"),
      kllAggNative($"v").as("kll"),
      thetaAggNative($"k").as("theta"),
      bottomKSampleAgg(16)($"k").as("bk"),
      mgAgg(8)($"k").as("mg")).head
    val descs = (0 until 8).map(i =>
      graft.core.SketchCodec.describe(blobs.getAs[Array[Byte]](i)))
    val expected = Seq("Bloom", "HLL", "CMS", "TDigest", "KLL", "Theta", "BottomK", "MGSketch")
    descs.zip(expected).foreach { case (d, e) =>
      assert(d.contains(e), s"describe '$d' does not name $e") }
    // column fn null-safe + SQL name; corrupt blobs render a diagnostic
    // instead of killing the query
    assert(Seq(Tuple1(null: Array[Byte])).toDF("s")
      .select(gf.sketchDescribe($"s")).head.isNullAt(0))
    assert(graft.core.SketchCodec.describe(Array[Byte](1, 2)).contains("invalid"))
    assert(graft.core.SketchCodec.describe("GSK1garbagebytes".getBytes).contains("unknown"))
    // bad magic but a plausible type byte -> decode throws -> diagnostic
    assert(graft.core.SketchCodec.describe(
      "XXXX".getBytes ++ Array[Byte](1, 1) ++ "rest".getBytes).contains("invalid"))
    gf.registerAll(spark)
    df.createOrReplaceTempView("desc_v")
    val viaSql = spark.sql(
      "SELECT sketch_describe(hll_agg(encode(k, 'UTF-8'))) FROM desc_v").head.getString(0)
    assert(viaSql.contains("HLL"))
    df.unpersist()
  }

  test("sketchKey: null columns do not crash and distinct tuples stay distinct") {
    import spark.implicits._
    val df = Seq(("a", Some(1)), ("a", None), ("b", Some(1))).toDF("x", "y")
    val keys = df.select(gf.sketchKey($"x", $"y").as("k")).collect().map(_.getAs[Array[Byte]]("k"))
    assert(keys.map(_.toSeq).distinct.length === 3)
  }

  test("counting Bloom: signed agg ≡ snapshot algebra, SQL surface, partitioning-invariant") {
    import spark.implicits._
    val rows = (0 until 4000).map(i => (s"k-$i", 1L)) ++
      (0 until 1000).map(i => (s"k-$i", -1L)) // retract the first quarter
    val cap = 4000L
    def signedBlob(parts: Int): Array[Byte] =
      rows.toDF("k", "m").repartition(parts)
        .agg(gf.cbfAgg(cap, 0.001)(encode(col("k"), "UTF-8"), col("m")).as("sk"))
        .head.getAs[Array[Byte]]("sk")
    val b1 = signedBlob(1)
    val b16 = signedBlob(16)
    assert(java.util.Arrays.equals(b1, b16),
      "signed counting agg must be merge-tree independent (retracts can precede inserts)")
    // ≡ the core sequential build: inserts filter, retractions filter,
    // one floored subtract
    val plus = CountingBloomSketch(cap, 0.001)
    val minus = CountingBloomSketch(cap, 0.001)
    rows.foreach { case (k, m) => (if (m > 0) plus else minus).insert(k) }
    assert(java.util.Arrays.equals(b1, SketchCodec.encodeCountingBloom(plus.subtractInPlace(minus))),
      "gf.cbfAgg blob != core inserts-minus-retractions build")
    // a null multiplicity skips its row, as a zero one does
    val withNullMult = (rows.map { case (k, m) => (k, Option(m)) } ++
        Seq(("k-null", None), ("k-zero", Some(0L))))
      .toDF("k", "m").repartition(3)
      .agg(gf.cbfAgg(cap, 0.001)(encode(col("k"), "UTF-8"), col("m")))
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(withNullMult, b1), "a null or zero multiplicity changed the blob")
    // snapshot algebra: separate insert/delete aggregates composed with
    // cbfSubtract must equal the one-pass signed build byte-for-byte
    val ins = rows.filter(_._2 > 0).toDF("k", "m")
      .agg(gf.cbfAgg(cap, 0.001)(encode(col("k"), "UTF-8")).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    val del = rows.filter(_._2 < 0).toDF("k", "m")
      .agg(gf.cbfAgg(cap, 0.001)(encode(col("k"), "UTF-8")).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    val net = spark.range(1)
      .select(gf.cbfSubtract(lit(ins), lit(del)).as("n"))
      .head.getAs[Array[Byte]]("n")
    assert(java.util.Arrays.equals(net, b1),
      "cbfSubtract(inserts, deletes) must equal the signed one-pass build")
    // cbfMerge of two half-builds ≡ whole build
    val h1 = rows.filter(_._2 > 0).take(2000).toDF("k", "m")
      .agg(gf.cbfAgg(cap, 0.001)(encode(col("k"), "UTF-8")).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    val h2 = rows.filter(_._2 > 0).drop(2000).toDF("k", "m")
      .agg(gf.cbfAgg(cap, 0.001)(encode(col("k"), "UTF-8")).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    val merged = spark.range(1)
      .select(gf.cbfMerge(lit(h1), lit(h2)).as("m")).head.getAs[Array[Byte]]("m")
    assert(java.util.Arrays.equals(merged, ins),
      "cbfMerge of disjoint halves must equal the whole insert build")
    // SQL surface: probe + collapse + subtract through spark.sql
    gf.registerAll(spark, cap)
    rows.toDF("k", "m").createOrReplaceTempView("cbf_rows")
    spark.range(1).select(lit(b1).as("cbf")).createOrReplaceTempView("cbf_tbl")
    val kept = spark.sql(
      "SELECT count(*) AS c FROM cbf_rows WHERE m > 0 AND " +
        "cbf_might_contain((SELECT cbf FROM cbf_tbl), encode(k, 'UTF-8'))").head.getLong(0)
    assert(kept >= 3000, "all 3000 surviving keys must probe true (zero FN)")
    val bloomed = spark.sql(
      "SELECT cbf_to_bloom(cbf) AS b FROM cbf_tbl").head.getAs[Array[Byte]]("b")
    assert(SketchCodec.typeOf(bloomed) == SketchCodec.TypeId.Bloom)
    val viaSql = spark.sql(
      s"SELECT cbf_subtract(cbf, cbf) AS z FROM cbf_tbl").head.getAs[Array[Byte]]("z")
    assert(SketchCodec.decodeCountingBloom(viaSql).countNonZero === 0L,
      "x subtract x must zero every cell")
    // SQL cbf_agg: the signed two-argument form ≡ the Column API build;
    // the one-argument form is plain insertion
    val sqlSigned = spark.sql("SELECT cbf_agg(encode(k, 'UTF-8'), m) FROM cbf_rows")
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(sqlSigned, b1), "SQL cbf_agg(k, m) != gf.cbfAgg")
    val sqlInsert = spark.sql("SELECT cbf_agg(encode(k, 'UTF-8')) FROM cbf_rows WHERE m > 0")
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(sqlInsert, ins), "SQL cbf_agg(k) != gf.cbfAgg insert build")
  }

  test("counting Bloom: a 3M-capacity signed build completes at the default kryo buffer max") {
    import spark.implicits._
    // two full-size filters of ~43M one-byte cells per buffer: the buffer
    // crosses the exchange as codec blobs (sparse here), never through
    // kryo, whose default 64m spark.kryoserializer.buffer.max they exceed
    assert(!spark.sparkContext.getConf.contains("spark.kryoserializer.buffer.max"))
    val rows = (0 until 4000).map(i => (s"big-$i", if (i % 5 == 0) -1L else 1L)) ++
      (0 until 4000 by 5).map(i => (s"big-$i", 1L))
    val cap = 3000000L
    val blob = rows.toDF("k", "m").repartition(2)
      .agg(gf.cbfAgg(cap, 0.001)(encode(col("k"), "UTF-8"), col("m")))
      .head.getAs[Array[Byte]](0)
    val plus = CountingBloomSketch(cap, 0.001)
    val minus = CountingBloomSketch(cap, 0.001)
    rows.foreach { case (k, m) => (if (m > 0) plus else minus).insert(k) }
    assert(java.util.Arrays.equals(blob, SketchCodec.encodeCountingBloom(plus.subtractInPlace(minus))),
      "3M-capacity gf.cbfAgg blob != core build")
  }

  test("every scalar maps a null blob to null (probes: false), Column API and SQL alike") {
    import spark.implicits._
    gf.registerAll(spark)
    val df = Seq((null: Array[Byte], "key".getBytes("UTF-8"))).toDF("s", "k")
    df.createOrReplaceTempView("null_blob_v")
    val s = col("s")
    val k = col("k")
    // (Column API, SQL name or null when the scalar has no SQL form,
    //  SQL arguments, expected value)
    val cases = Seq[(Column, String, String, Any)](
      (gf.bloomMightContain(s, k), "bloom_might_contain", "s, k", false),
      (gf.bloomElementCount(s), "bloom_element_count", "s", null),
      (gf.bloomFpp(s), "bloom_fpp", "s", null),
      (gf.bloomUnion(s, s), "bloom_union", "s, s", null),
      (gf.bloomIntersect(s, s), "bloom_intersect", "s, s", null),
      (gf.hllEstimate(s), "hll_estimate", "s", null),
      (gf.hllMerge(s, s), null, "", null),
      (gf.cmsEstimate(s, k), "cms_estimate", "s, k", null),
      (gf.cmsTotalCount(s), null, "", null),
      (gf.tdigestQuantile(s, 0.5), "tdigest_quantile", "s, 0.5", null),
      (gf.kllQuantile(s, 0.5), "kll_quantile", "s, 0.5", null),
      (gf.kllRank(s, 1.0), null, "", null),
      (gf.thetaEstimate(s), "theta_estimate", "s", null),
      (gf.thetaUnion(s, s), "theta_union", "s, s", null),
      (gf.thetaIntersect(s, s), "theta_intersect", "s, s", null),
      (gf.thetaDifference(s, s), "theta_difference", "s, s", null),
      (gf.sketchDescribe(s), "sketch_describe", "s", null),
      (gf.bottomKSampleStrings(s), "bottomk_sample_strings", "s", null),
      (gf.bottomKSampleBytes(s), null, "", null),
      (gf.weightedSampleStrings(s), "weighted_sample_strings", "s", null),
      (gf.mgHeavyHitters(s), null, "", null),
      (gf.mgErrorBound(s), null, "", null),
      (gf.cbfMightContain(s, k), "cbf_might_contain", "s, k", false),
      (gf.cbfToBloom(s), "cbf_to_bloom", "s", null),
      (gf.cbfElementCount(s), "cbf_element_count", "s", null),
      (gf.cbfSubtract(s, s), "cbf_subtract", "s, s", null),
      (gf.cbfMerge(s, s), "cbf_merge", "s, s", null))
    cases.foreach { case (c, name, args, expected) =>
      val viaColumn = df.select(c).head.get(0)
      assert(viaColumn == expected, s"Column API $c: $viaColumn")
      if (name != null) {
        val viaSql = spark.sql(s"SELECT $name($args) FROM null_blob_v").head.get(0)
        assert(viaSql == expected, s"SQL $name: $viaSql")
      }
    }
  }
}
