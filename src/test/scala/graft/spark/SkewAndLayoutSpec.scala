package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The two remaining scale mechanisms made visible: AQE splitting a
  * skewed join at runtime, and bucket-directory layout giving partition
  * pruning on probe routing (the "Iceberg-shaped" layout — no Iceberg
  * runtime jar in the offline image, SURVEY §7.4). */
class SkewAndLayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // static conf — must be set before the (suite-shared) session exists;
    // the bucketBy test saves managed tables here
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .appName("graft-skew-test")
    .getOrCreate()

  test("AQE splits a skewed sort-merge join at runtime (skew=true in final plan)") {
    import spark.implicits._
    // hot key: 90% of the left side lands on key 0
    val left = spark.range(0, 400000)
      .select(when($"id" % 10 === 0, $"id" % 1000).otherwise(0L).as("k"),
        concat(lit("payload-"), $"id".cast("string"), lit("x" * 64)).as("pay"))
    val right = spark.range(0, 1000).select($"id".as("k"), ($"id" * 2).as("v"))
    val old = (spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      spark.conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
      val joined = left.join(right, "k")
      // execute THIS DataFrame (count() would build a separate plan) so
      // its AdaptiveSparkPlan finalizes before inspection
      assert(joined.collect().length === 400000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed join:\n${finalPlan.take(1500)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old._1)
      old._2.foreach(spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", _))
      old._3.foreach(spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", _))
    }
  }

  test("bucketBy tables: co-located join plans with NO exchange on either side") {
    // the 100 TB co-location mechanism: both tables bucketed by the join
    // key at write time ⇒ the join consumes the disk layout directly —
    // zero shuffle, the property worth designing storage around
    val t = Transcripts.load(spark, "/root/testdata/sf0.001")
    // external tables with explicit paths: bucket layout lands in /tmp
    // regardless of which suite created the shared session (warehouse
    // dir is a static conf)
    val base = Files.createTempDirectory("graft_bucketed").toString
    t.write.bucketBy(8, "conv_id").sortBy("conv_id")
      .option("path", s"$base/turns")
      .mode("overwrite").saveAsTable("graft_turns_bucketed")
    t.groupBy(col("conv_id")).agg(count(lit(1)).as("n_turns"))
      .write.bucketBy(8, "conv_id").sortBy("conv_id")
      .option("path", s"$base/convs")
      .mode("overwrite").saveAsTable("graft_convs_bucketed")
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the layout to matter
      val joined = spark.table("graft_turns_bucketed")
        .join(spark.table("graft_convs_bucketed"), "conv_id")
      assert(joined.count() === t.count())
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ over bucketed tables:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffled — co-location lost:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.sql("DROP TABLE IF EXISTS graft_turns_bucketed")
      spark.sql("DROP TABLE IF EXISTS graft_convs_bucketed")
    }
  }

  test("sharded probe routes through the shard table without merging it") {
    import graft.spark.catalyst._
    val dir = Files.createTempDirectory("graft_probe").toString
    val t = Transcripts.load(spark, "/root/testdata/sf0.001").cache()
    val n = t.count()
    graft.pipeline.CheckpointedBuild.run(spark, t, s"$dir/ckpt", 16 * n, 0.001, "spec")
    val probed = graft.pipeline.CheckpointedBuild
      .probeShards(spark, s"$dir/ckpt", t, col("conv_id"), col("turn_idx"))
    // zero FN through the routed path
    assert(probed.count() === n)
    // output schema is the probe rows (no shard/sketch leakage)
    assert(!probed.columns.contains("sketch") && !probed.columns.exists(_.contains("__graft")))
    // the plan must contain NO sketch merge — the filters stay sharded
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_sketch_merge_agg"), s"probe path merged the shards:\n$plan")
    assert(plan.contains("graft_bloom_might_contain"), s"no probe in plan:\n$plan")
    // disjoint keys: FP-bounded, not zero-FN (sanity that routing probes
    // the RIGHT shard — a mis-route would lose inserted keys above, and
    // a saturated/mis-sized shard would blow this bound)
    val fp = graft.pipeline.CheckpointedBuild.probeShards(spark, s"$dir/ckpt",
      t.withColumn("turn_idx", (col("turn_idx") + 1000000).cast("int")),
      col("conv_id"), col("turn_idx")).count()
    assert(fp <= n * 0.001 * 1.05 + 3 * math.sqrt(n * 0.001) + 1, s"routed-probe FPs: $fp")
    t.unpersist()
  }

  test("sharded build over an empty input fails with a meaningful error, not an NPE") {
    import graft.spark.catalyst._
    val empty = spark.range(0)
      .selectExpr("CAST(id AS STRING) AS conv_id", "CAST(id AS INT) AS turn_idx")
    val ex = intercept[Exception] {
      shardedSketchBlobs(empty, 4)(
        "sk" -> bloomAggNative(1000L, 0.01)(col("conv_id"), col("turn_idx"))).head
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("empty input produced no sketch")),
      s"unexpected failure: ${messages(ex).mkString(" | ")}")
  }

  test("sharded build blobs are byte-equal to a one-shot agg at any shard count") {
    import graft.spark.catalyst._
    import graft.spark.{functions => gf}
    import spark.implicits._
    val turns = (0 until 6000).map(i => (s"c${i % 5}", i, s"t${i % 3}"))
      .toDF("conv_id", "turn_idx", "tool").repartition(6)
    val key = gf.sketchKey(col("conv_id"), col("turn_idx"))
    // signed counting-filter stream: every turn +1, every 7th retracted
    val signed = turns.withColumn("m", lit(1L))
      .unionByName(turns.filter(col("turn_idx") % 7 === 0).withColumn("m", lit(-1L)))
      .withColumn("k", key)
    val aggs: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "rowHash" -> bloomAggNative(8000L, 0.01)(col("conv_id"), col("turn_idx")),
      "bloom" -> gf.bloomAgg(8000L, 0.01)(col("k")),
      "hll" -> gf.hllAgg(col("k")),
      "cms" -> gf.cmsAgg(0.01, 0.01)(gf.sketchKey(col("tool"))),
      "cbf" -> gf.cbfAgg(8000L, 0.01)(col("k"), col("m")))
    val oneShot = signed.agg(aggs.head._2.as(aggs.head._1),
      aggs.tail.map { case (nm, c) => c.as(nm) }: _*).head
    // the union has 12 input partitions: 64 shards leaves them uncoalesced
    for (shards <- Seq(1, 4, 64)) {
      val sharded = shardedSketchBlobs(signed, shards)(aggs: _*).head
      aggs.foreach { case (nm, _) =>
        assert(sharded.getAs[Array[Byte]](nm).sameElements(oneShot.getAs[Array[Byte]](nm)),
          s"$nm differs from the one-shot build at $shards shards")
      }
    }
  }

  test("sharded build runs one shuffle-writing stage of min(input partitions, shards) tasks") {
    import graft.spark.catalyst._
    import graft.spark.{functions => gf}
    import org.apache.spark.scheduler._
    import spark.implicits._
    /** Stage ids, task counts and shuffle bytes written, per job group.
      * A fence job in its own group marks the end of the bus events of
      * everything run before it: the bus delivers in order. */
    final class StageLog extends SparkListener {
      val jobGroup = scala.collection.mutable.Map.empty[Int, String]
      val groupOfStage = scala.collection.mutable.Map.empty[Int, String]
      val done = scala.collection.mutable.Map.empty[Int, (Int, Long)]
      val endedGroups = scala.collection.mutable.Set.empty[String]
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        jobGroup(e.jobId) = g
        e.stageIds.foreach(groupOfStage(_) = g)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val i = e.stageInfo
        done(i.stageId) = (i.numTasks, i.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobGroup.get(e.jobId).foreach(endedGroups += _)
      }
      // a Seq, not a Map: two stages may share (tasks, bytes)
      def stages(group: String): Seq[(Int, Long)] = synchronized {
        done.toSeq.collect { case (id, v) if groupOfStage.get(id).contains(group) => v }
      }
      def fenced(fence: String): Boolean = synchronized(endedGroups(fence))
    }
    val sc = spark.sparkContext
    def run(partitions: Int, shards: Int): Unit = {
      val turns = sc.parallelize((0 until 20000).map(i => (s"c${i % 97}", i)), partitions)
        .toDF("conv_id", "turn_idx")
      val aggs: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "rowHash" -> bloomAggNative(20000L, 0.01)(col("conv_id"), col("turn_idx")),
        "bloom" -> gf.bloomAgg(20000L, 0.01)(gf.sketchKey(col("conv_id"), col("turn_idx"))),
        "hll" -> gf.hllAgg(gf.sketchKey(col("conv_id"))))
      val log = new StageLog
      val group = s"sharded-$partitions-$shards"
      sc.addSparkListener(log)
      val build = shardedSketchBlobs(turns, shards)(aggs: _*)
      val sharded = try {
        sc.setJobGroup(group, group)
        val row = build.head
        sc.setJobGroup(s"$group-fence", "fence")
        sc.parallelize(Seq(1), 1).count()
        val deadline = System.currentTimeMillis() + 60000L
        while (!log.fenced(s"$group-fence") && System.currentTimeMillis() < deadline) Thread.sleep(10)
        assert(log.fenced(s"$group-fence"), "listener bus did not drain")
        row
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(log)
      }
      // the partial aggregate's stage is the only one that writes shuffle
      // output: no row exchange ran before it
      val writers = log.stages(group).filter(_._2 > 0)
      assert(writers.size == 1, s"$partitions partitions, $shards shards: " +
        s"stages (tasks, shuffle bytes written) ${log.stages(group)}\n" +
        build.queryExecution.executedPlan)
      assert(writers.head._1 == math.min(partitions, shards),
        s"$partitions partitions, $shards shards: partial stage ran ${writers.head._1} tasks")
      val oneShot = turns.agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (nm, c) => c.as(nm) }: _*).head
      aggs.foreach { case (nm, _) =>
        assert(sharded.getAs[Array[Byte]](nm).sameElements(oneShot.getAs[Array[Byte]](nm)),
          s"$nm differs from the one-shot build ($partitions partitions, $shards shards)")
      }
    }
    run(partitions = 40, shards = 4)
    run(partitions = 1, shards = 16)
  }

  test("bucket-directory layout: probe routing prunes partitions at the scan") {
    val dir = Files.createTempDirectory("graft_layout").toString + "/transcripts"
    val t = Transcripts.load(spark, "/root/testdata/sf0.001")
      .withColumn("bucket", pmod(xxhash64(col("conv_id")), lit(16L)))
    t.write.partitionBy("bucket").parquet(dir)
    val read = spark.read.parquet(dir)
    // route a probe to one bucket — the scan must prune to that directory
    val probe = read.filter(col("bucket") === 3)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"no partition filter:\n${plan.take(800)}")
    // pruned scan reads strictly fewer files than the full table
    val prunedFiles = probe.select(input_file_name()).distinct().count()
    val allFiles = read.select(input_file_name()).distinct().count()
    assert(prunedFiles < allFiles && prunedFiles >= 1)
    // and the routed rows are exactly that bucket's rows
    assert(probe.count() === t.filter(col("bucket") === 3).count())
  }
}
