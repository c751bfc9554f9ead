package graft.spark

import graft.spark.catalyst._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the 100 TB properties must be visible in the
  * plan, not just hoped for — pushdown reaches the parquet scan, column
  * pruning holds, dims broadcast, partial aggregation runs below the
  * exchange for the custom aggregates, and SQL registration via
  * SparkSessionExtensions works. */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-plan-test")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push into the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$plan")
  }

  test("bloom probe filter runs inside a WholeStageCodegen span") {
    val t = Transcripts.load(spark, sf)
    val sketch = t.agg(bloomAggNative(10000L, 0.001)(col("conv_id"), col("turn_idx")))
      .head.getAs[Array[Byte]](0)
    val probed = t.filter(bloomMightContainNative(lit(sketch), col("conv_id"), col("turn_idx")))
    // materialize THIS QueryExecution (count() would build a new one):
    // AQE only inserts WSCG stages into the final plan
    probed.collect()
    // the `*(n)` prefix marks a WholeStageCodegen stage; the probe
    // predicate must appear on such a line, not in an interpreted Filter
    val line = planOf(probed).linesIterator
      .find(_.contains("graft_bloom_might_contain"))
      .getOrElse(fail("probe filter not found in plan"))
    assert(line.trim.matches("""^[+\-:\s]*\*\(\d+\) Filter.*"""),
      s"probe filter not codegen'd: $line")
  }

  test("native sketch agg plans as partial ObjectHashAggregate below the exchange") {
    val t = Transcripts.load(spark, sf)
    val df = t.groupBy(col("role")).agg(bloomAggNative(1000L, 0.01)(col("conv_id")))
    val plan = planOf(df)
    val firstAgg = plan.indexOf("ObjectHashAggregate")
    val exchange = plan.indexOf("Exchange hashpartitioning(role")
    assert(firstAgg >= 0 && exchange >= 0, s"missing operators:\n$plan")
    // final agg (listed first) above exchange, partial below — partial
    // aggregation means per-partition insert + one sketch per group
    // crossing the wire, not raw rows
    assert(plan.indexOf("ObjectHashAggregate", exchange) > exchange,
      s"no partial aggregate below the exchange:\n$plan")
  }

  test("byte-key gf.*Agg builds plan as the native graft aggregates, not a ScalaAggregator") {
    import graft.spark.{functions => gf}
    val t = Transcripts.load(spark, sf)
    val df = t.groupBy(col("role")).agg(
      gf.bloomAgg(1000L, 0.01)(gf.sketchKey(col("conv_id"), col("turn_idx"))),
      gf.hllAgg(gf.sketchKey(col("conv_id"))),
      gf.cmsAgg(0.01, 0.01)(gf.sketchKey(col("tool"))),
      gf.bloomSeededAgg(1000L, 0.01)(gf.sketchKey(col("conv_id"), col("turn_idx"))),
      gf.cbfAgg(1000L, 0.01)(gf.sketchKey(col("conv_id")), col("turn_idx")))
    val plan = planOf(df)
    Seq("graft_bloom_agg", "graft_hll_agg", "graft_cms_agg", "graft_bloom_seeded_agg",
        "graft_cbf_agg").foreach { agg =>
      assert(plan.contains(agg), s"$agg missing from the plan:\n$plan")
    }
    assert(!plan.contains("ScalaAggregator"), s"udaf aggregator in the plan:\n$plan")
  }

  test("byte-key build plan evaluates one key expression: no concat_ws/encode, no key FILTER") {
    import graft.spark.{functions => gf}
    val t = Transcripts.load(spark, sf)
    val df = t.agg(
      gf.bloomAgg(1000L, 0.01)(gf.sketchKey(col("conv_id"), col("turn_idx"))).as("b"),
      gf.hllAgg(gf.sketchKey(col("conv_id"))).as("h"),
      gf.cmsAgg(0.01, 0.01)(gf.sketchKey(col("tool"))).as("c"))
    val plan = planOf(df)
    assert(plan.contains("graft_sketch_key"), s"key expression missing from the plan:\n$plan")
    Seq("concat_ws", "encode(", "FILTER").foreach { s =>
      assert(!plan.contains(s), s"$s in the byte-key build plan:\n$plan")
    }
  }

  test("sharded global build: a narrow coalesce feeds the partial agg, no row exchange, " +
      "merge stage sees blobs only (no full-size buffer per input partition)") {
    // a plain scan (Transcripts.load numbers turns with a window, whose
    // own exchange would hide whether the build adds one)
    val ev = spark.read.parquet(s"$sf/events.parquet").select(col("user_id"), col("event_id"))
    val df = shardedSketchBlobs(ev, 8)(
      "sk" -> bloomAggNative(1000L, 0.01)(col("user_id"), col("event_id")))
    val plan = planOf(df)
    val lines = plan.linesIterator.toIndexedSeq
    def isPartial(l: String) = l.contains("ObjectHashAggregate") && l.contains("partial_graft_")
    val partial = lines.indexWhere(isPartial)
    assert(partial >= 0, s"no partial sketch aggregate:\n$plan")
    // the partial aggregate (where full-size buffers live) reads the
    // caller's shard count of coalesced input partitions — that bounds
    // live buffers to the shard count — and no row crosses an exchange
    // on the way there
    assert(partial + 1 < lines.length && lines(partial + 1).contains("Coalesce 8"),
      s"no Coalesce 8 directly under the partial aggregate:\n$plan")
    assert(!lines.drop(partial).exists(_.contains("Exchange")),
      s"exchange below the partial aggregate:\n$plan")
    // exactly one exchange above it, and what crosses it is the partial
    // aggregate's output (one buffer per task), not rows or shard blobs
    val above = lines.take(partial)
    val exchanges = above.indices.filter(i => above(i).contains("Exchange "))
    assert(exchanges.size == 1, s"expected one exchange above the partial aggregate:\n$plan")
    assert(lines.slice(exchanges.head + 1, partial + 1).forall(isPartial),
      s"not only a partial aggregate between the exchange and the coalesce:\n$plan")
    assert(above.take(exchanges.head).exists(l =>
        l.contains("ObjectHashAggregate") && !l.contains("partial_")),
      s"no final aggregate above the exchange:\n$plan")
    // the task buffers merge in that final aggregate: no blob re-fold
    assert(!plan.contains("graft_sketch_merge_agg"), s"second merge stage:\n$plan")
  }

  test("multi-way dim join plans as broadcast, not shuffle join") {
    val q = graft.SparkEntry.queries("q24_region_revenue")
    val plan = planOf(q(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dims fell back to SMJ:\n$plan")
  }

  test("scan of sketch-key projection prunes to exactly the key columns") {
    val df = spark.read.parquet(s"$sf/events.parquet")
      .select(xxhash64(col("user_id")).as("h"))
    assert(planOf(df).contains("ReadSchema: struct<user_id:bigint>"))
  }

  test("SQL surface via SparkSessionExtensions: build, probe, estimate in pure SQL") {
    // test suites share one JVM/session, so register at runtime — the
    // spark.sql.extensions config path injects the identical builders
    GraftExtensions.register(spark)
    spark.read.parquet(s"$sf/events.parquet").createOrReplaceTempView("ev")
    val sketch = spark.sql(
      "SELECT graft_bloom_agg(2000, CAST(0.01 AS DOUBLE), user_id, event_type) FROM ev")
      .head.getAs[Array[Byte]](0)
    spark.sql("SELECT * FROM ev").createOrReplaceTempView("ev2")
    val hits = spark.sql(
      s"SELECT count(*) FROM ev WHERE graft_bloom_might_contain(" +
        s"unhex('${sketch.map("%02x".format(_)).mkString}'), user_id, event_type)")
      .head.getLong(0)
    val total = spark.sql("SELECT count(*) FROM ev").head.getLong(0)
    assert(hits === total, "SQL-built sketch lost keys (zero-FN violated)")
    val hll = spark.sql("SELECT graft_hll_agg(user_id) FROM ev").head.getAs[Array[Byte]](0)
    val est = graft.core.SketchCodec.decodeHll(hll).estimate
    val exact = spark.sql("SELECT count(DISTINCT user_id) FROM ev").head.getLong(0)
    assert(math.abs(est - exact) <= 0.05 * exact + 1)
    val q = spark.sql(
      "SELECT graft_cms_estimate(graft_cms_agg(CAST(0.01 AS DOUBLE), CAST(0.01 AS DOUBLE), event_type), 'error') FROM ev")
    assert(q.head.getLong(0) >= 0L)
  }

  test("repetitionSignals is exchange-free: per-row signals never shuffle") {
    // every signal (incl. max_bigram_count via sorted-run fold) depends
    // only on the row's own word array — the plan must contain NO
    // Exchange (an earlier draft paid two corpus-token-count shuffles
    // and a join for the max-bigram column)
    val docs = graft.pipeline.TextPipeline.documents(spark, sf)
    val rep = graft.pipeline.TextPipeline.repetitionSignals(docs)
    rep.collect()
    val plan = rep.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetitionSignals plan contains a shuffle:\n$plan")
    assert(!plan.contains("Join"), s"repetitionSignals plan contains a join:\n$plan")
  }
}
