package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graft-text-test")
    .getOrCreate()

  import TextPipeline._

  test("shingles3: short docs yield empty arrays; dedup within doc") {
    import spark.implicits._
    val df = Seq("a b", "a b c", "a b c d", "x y x y x y x y").toDF("text")
    val got = df.select(shingles3($"text").as("sh")).collect().map(_.getSeq[String](0))
    assert(got(0) === Seq())
    assert(got(1) === Seq("a b c"))
    assert(got(2) === Seq("a b c", "b c d"))
    assert(got(3).toSet === Set("x y x", "y x y")) // distinct
  }

  test("exactJaccardPairs finds planted near-dups and nothing else") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, base),
      (1L, base + " lambda"), // near-dup of 0 (8/10 shingles shared)
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "cat dog bird fish lion tiger bear wolf fox deer")
    ).toDF("doc_id", "text")
    val pairs = exactJaccardPairs(docs).collect()
    assert(pairs.length === 1)
    assert(pairs(0).getLong(0) === 0L && pairs(0).getLong(1) === 1L)
    val jac = pairs(0).getLong(2).toDouble / pairs(0).getLong(3)
    assert(jac >= 0.5)
  }

  test("minhash candidates include every true pair (planted corpus)") {
    import spark.implicits._
    val words = (0 until 40).map(i => s"w$i")
    val rnd = new scala.util.Random(5L)
    // 50 random docs + 10 near-dup pairs
    val randomDocs = (0 until 50).map(i =>
      (i.toLong, rnd.shuffle(words).take(20).mkString(" ")))
    val dupDocs = (0 until 10).flatMap { i =>
      val t = rnd.shuffle(words).take(20).mkString(" ")
      Seq((100L + i * 2, t), (101L + i * 2, t + " w99")) // ~17/21 shingles shared
    }
    val docs = (randomDocs ++ dupDocs).toDF("doc_id", "text")
    val truePairs = exactJaccardPairs(docs).select($"doc_a", $"doc_b")
    val cands = minhashCandidates(docs)
    val missed = truePairs.join(cands, Seq("doc_a", "doc_b"), "left_anti").count()
    assert(missed === 0, s"LSH missed $missed true pairs")
    assert(truePairs.count() >= 10)
  }

  test("featureless (short) docs never become LSH or simhash candidates") {
    import spark.implicits._
    // thousands of sub-3-word docs would pair quadratically if they shared
    // band keys (the degenerate all-Long.MaxValue minima / simhash-0 case)
    val docs = ((0 until 50).map(i => (i.toLong, s"w$i")) :+
      (1000L, "alpha beta gamma delta") :+ (1001L, "alpha beta gamma epsilon"))
      .toDF("doc_id", "text")
    val mh = minhashCandidates(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.forall { case (a, b) => a >= 1000L && b >= 1000L },
      s"short docs paired in minhash: ${mh.mkString(",")}")
    val sp = simhashPairs(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sp.forall { case (a, b) => a >= 1000L && b >= 1000L },
      s"short docs paired in simhash: ${sp.mkString(",")}")
  }

  test("simhash banding equals exhaustive hd<=6 pairs") {
    import spark.implicits._
    val words = (0 until 60).map(i => s"t$i")
    val rnd = new scala.util.Random(11L)
    val docs = ((0 until 40).map(i => (i.toLong, rnd.shuffle(words).take(25).mkString(" "))) ++
      Seq((200L, words.take(25).mkString(" ")), (201L, (words.take(24) :+ "zzz").mkString(" "))))
      .toDF("doc_id", "text")
    val banded = simhashPairs(docs, 6).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = simhashes(docs)
    val exhaustive = sigs.as("a").crossJoin(sigs.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .filter(bit_count($"a.simhash".bitwiseXOR($"b.simhash")) <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(banded === exhaustive)
  }

  test("language ID recognizes real multilingual samples") {
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat sat on the mat and the dog is happy to see the bird"),
      ("de", "der hund ist gut und die katze ist auch das beste tier"),
      ("fr", "le chien est bon et la maison est grande les enfants sont la"),
      ("es", "el perro es bueno y la casa es grande los gatos son bonitos"),
      ("zh", "我是一个学生，他在学校里学习中文，这是很好的事情"))
    val got = samples.toDF("expected", "text")
      .select($"expected", TextPipeline.langIdUdf($"text").as("pred"))
      .collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1),
      s"expected ${r.getString(0)}, got ${r.getString(1)}"))
  }

  test("token counts match DuckDB split semantics incl. trailing space") {
    import spark.implicits._
    val df = Seq("a b c", "a b c ", "", "solo").toDF("text")
    val got = df.select(wsTokenCount($"text")).collect().map(_.getInt(0))
    // split('a b c ') = [a,b,c,''] → 4 (DuckDB len(string_split(...)) agrees)
    assert(got.toSeq === Seq(3, 4, 1, 1))
    val bpe = df.select(bpeIshTokenCount($"text")).collect().map(_.getInt(0))
    assert(bpe.toSeq === Seq(3, 3, 0, 1))
  }

  test("quality score stays in [0,1] on adversarial inputs") {
    import spark.implicits._
    val df = Seq("", " ", "a", "x" * 50000, "!!!???...,,,", "normal text with words here today")
      .toDF("text")
    val scores = df.select(qualityScore($"text").as("q")).collect().map(_.getDouble(0))
    scores.foreach(s => assert(s >= 0.0 && s <= 1.0, s"score $s out of range"))
  }

  test("dedupClusters: min-label propagation over chains, stars, singletons") {
    import spark.implicits._
    // chain 20-21-22-23 needs multiple propagation rounds; star 1-(2,3);
    // isolated pair 10-11; docs with no pairs must not appear
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("doc_a", "doc_b")
    val got = TextPipeline.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // empty pair relation: empty labeling, no crash
    assert(TextPipeline.dedupClusters(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
      .count() === 0L)
    // non-convergence surfaces as an error, not a wrong labeling
    intercept[IllegalArgumentException](
      TextPipeline.dedupClusters(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b"), maxIters = 1))
  }

  test("dedupClusters: 100-hop chain converges in O(log n) rounds (pointer doubling)") {
    import spark.implicits._
    // a chained-templated-doc corpus A~B~C~…: 101 nodes, diameter 100.
    // Plain neighbor-min propagation needs 100 rounds and would throw at
    // the default maxIters = 20; pointer doubling converges in 9: 8
    // label-dropping rounds plus the one that sees no change, so one
    // round fewer must throw and the count cannot drift
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException](TextPipeline.dedupClusters(chain, maxIters = 8))
    val labels = TextPipeline.dedupClusters(chain, maxIters = 9)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    labels.unpersist()
    assert(got.length === 101)
    assert(got.forall(_._2 === 0L), "every chain node must label to the minimum id")
  }

  test("dedupClusters equals a driver-side union-find over random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261019L)
    for (trial <- 0 until 6) {
      val ids = rnd.shuffle((1L to 400L).toList)
      // chains, stars and cycles over disjoint id runs, in random edge
      // orientation, plus duplicate pairs, self pairs and random noise
      val it = ids.iterator
      val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def orient(a: Long, b: Long) = if (rnd.nextBoolean()) (a, b) else (b, a)
      for (_ <- 0 until 8) {
        val chain = it.take(2 + rnd.nextInt(25)).toList
        pairs ++= chain.zip(chain.tail).map { case (a, b) => orient(a, b) }
        val star = it.take(2 + rnd.nextInt(10)).toList
        pairs ++= star.tail.map(orient(star.head, _))
        val cycle = it.take(3 + rnd.nextInt(12)).toList
        pairs ++= (cycle :+ cycle.head).sliding(2).map { case Seq(a, b) => orient(a, b) }
      }
      pairs ++= Seq.fill(10)(pairs(rnd.nextInt(pairs.length))).map { case (a, b) => orient(a, b) }
      pairs ++= Seq.fill(5)(ids(rnd.nextInt(ids.length))).map(v => (v, v))
      pairs ++= Seq.fill(trial * 4)((ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(v: Long): Long = {
        val p = parent.getOrElseUpdate(v, v)
        if (p == v) v else { val r = find(p); parent(v) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(v => v -> find(v)).toMap
      // ids run in random order along a path, where pointer doubling
      // saves little: these need up to ~27 rounds, past the default 20
      val labels = TextPipeline.dedupClusters(
        rnd.shuffle(pairs.toList).toDF("doc_a", "doc_b"), maxIters = 200)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
      labels.unpersist()
      assert(got.length === want.size, s"trial $trial: one row per paired doc")
      assert(got.toMap === want, s"trial $trial")
    }
  }

  test("dedupClusters costs one job per round: 60 disjoint pairs in <= 10 jobs with the collect") {
    import spark.implicits._
    // two rounds, the second sees no change: one action each, plus the
    // collect. A count job per round and materializing the initial
    // labels and the result on their own take 23 jobs here.
    val pairs = (0L until 60L).map(i => (2 * i, 2 * i + 1)).toDF("doc_a", "doc_b")
    TextPipeline.dedupClusters(pairs).unpersist() // warm the code paths
    val (got, jobs) = JobCount(spark) {
      val labels = TextPipeline.dedupClusters(pairs)
      try labels.collect() finally labels.unpersist()
    }
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      (0L until 120L).map(i => i -> (i & ~1L)).toMap)
    assert(jobs <= 10, s"clusters ran $jobs jobs")
  }

  test("a round's checkpoint carries its row count, not its plan's estimate, as statistics") {
    import spark.implicits._
    // a join's size estimate is the product of its inputs': carried from
    // checkpoint to checkpoint it grows as est^3 per round
    val labels = (0L until 50L).map(i => (i, i / 2)).toDF("doc_id", "label")
    val round = labels.join(labels.select($"doc_id".as("l2"), $"label".as("ll")), $"label" === $"l2")
      .select($"doc_id", $"ll".as("label")).localCheckpoint()
    val counted = org.apache.spark.sql.GraftSqlBridge.withRowCount(round, 50L)
    val stats = counted.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(50)))
    assert(stats.sizeInBytes < round.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(counted.collect().toSet === round.collect().toSet)
  }

  test("dedupClusters uses RELIABLE round files when a checkpoint dir is set") {
    import spark.implicits._
    // with spark.sparkContext.setCheckpointDir configured, each round
    // materializes through a managed parquet file (survives executor
    // loss) instead of executor-local localCheckpoint blocks — same
    // labels, and ZERO files left behind afterwards
    val ckptDir = s"/tmp/graft_cc_ckpt_${java.util.UUID.randomUUID()}"
    spark.sparkContext.setCheckpointDir(ckptDir)
    try {
      val chain = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val labels = TextPipeline.dedupClusters(chain)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
      // result must NOT depend on the (deleted) round files
      labels.unpersist()
      assert(labels.collect().length === 41, "result must survive cache eviction")
      assert(got.length === 41 && got.forall(_._2 === 0L))
      // the reliable path cleaned up every graft_cc round dir it wrote
      // (setCheckpointDir itself pre-creates a UUID subdir — ignore it)
      val p = new org.apache.hadoop.fs.Path(ckptDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // empty input through the reliable path (empty-DataFrame parquet
      // round-trips are where schema inference dies if unhandled);
      // runs BEFORE the leak assertion so an empty-path leak is caught
      val empty = TextPipeline.dedupClusters(
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
      assert(empty.count() === 0L)
      empty.unpersist() // the documented caller-unpersists contract
      val leftover = fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("graft_cc_"))
      assert(leftover.isEmpty, s"leaked round files: ${leftover.mkString(",")}")
    } finally {
      // unset so other tests in this shared session keep the local path
      spark.sparkContext.setCheckpointDir(null)
      val p = new org.apache.hadoop.fs.Path(ckptDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("repetitionSignals: hand-computed signals on edge-shaped docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a"), // 5 words, 2 distinct, 4 bigrams, 'a b' ×2
      (2L, "solo"), // single word: no bigrams
      (3L, ""), // split('') = [""]: 1 word, 1 distinct, 0 bigrams
      (4L, "x x x x")) // 'x x' ×3 of 3 bigrams — maximal repetition
      .toDF("doc_id", "text")
    val got = TextPipeline.repetitionSignals(docs).orderBy($"doc_id")
      .select($"n_words", $"n_distinct_words", $"n_bigrams", $"max_bigram_count")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(got === Seq((5, 2, 4, 2L), (1, 1, 0, 0L), (1, 1, 0, 0L), (4, 1, 3, 3L)))
  }

  test("scrubPii: redacts emails and IPv4s, leaves clean text alone") {
    import spark.implicits._
    val rows = Seq(
      "mail me at jo.doe+x@sub.example.org please",
      "server 192.168.10.255 and 10.0.0.1 up",
      "version 1.2 is not an ip and neither is 1.2.3", // too few octets
      "plain text stays untouched")
      .toDF("text")
    val got = rows.select(TextPipeline.scrubPii($"text")).collect().map(_.getString(0)).toSeq
    assert(got === Seq(
      "mail me at <EMAIL> please",
      "server <IP> and <IP> up",
      "version 1.2 is not an ip and neither is 1.2.3",
      "plain text stays untouched"))
  }

  test("langIdUdf is deterministic across repeated evaluation") {
    // the determinism gate q18 used to pay for per-row (double UDF
    // evaluation in the query) lives here now: two independent passes
    // over the same rows must classify identically
    import spark.implicits._
    val texts = (0 until 500).map(i => s"the quick brown fox $i jumped over the lazy dog and " +
      ("der hund " * (i % 3)) + ("el perro " * (i % 5))).toDF("text")
    val p1 = texts.select(TextPipeline.langIdUdf($"text").as("p")).collect().map(_.getString(0))
    val p2 = texts.select(TextPipeline.langIdUdf($"text").as("p")).collect().map(_.getString(0))
    assert(p1.toSeq === p2.toSeq)
  }
}
