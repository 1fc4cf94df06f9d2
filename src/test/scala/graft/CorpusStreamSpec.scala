package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.{EventStreams, SnapshotStore}

/** E46: the streaming composed flagship — theta admission (E45) →
  * stateless curation gate (E9) → incremental MinHash dedup with
  * signature-index maintenance (E11) as ONE pipeline. The proof
  * obligations:
  *  1. stream == batch: feeding shards through MemoryStream
  *     micro-batches produces exactly what driving the per-batch
  *     function with the same shard sequence produces (orchestration
  *     adds nothing, loses nothing);
  *  2. the tiers actually compose: exact re-delivery dies cheaply at
  *     the theta gate, junk dies at the quality gate, perturbed
  *     re-arrivals die at the signature index;
  *  3. replay safety: re-running a batch against already-written
  *     artifacts (crash between artifact writes and checkpoint
  *     commit) rewrites the SAME output instead of emptying it — the
  *     version-fenced reads under it.
  */
class CorpusStreamSpec extends SparkSpec {
  import spark.implicits._

  private val a = "the quick brown fox jumps over the lazy dog while rain " +
    "falls on the quiet village and the river bends through green fields " +
    "toward the old stone bridge where children play every summer afternoon"
  private val b = "completely different content about spark partitions " +
    "shuffles and broadcast joins executed across many workers in a large " +
    "cluster deployment with careful attention to memory and skew"
  private val c = "a third unrelated document describing tokenizer " +
    "vocabularies merge rules and subword segmentation applied to " +
    "multilingual training corpora with byte pair encodings"
  private val d = "yet another fresh document on the economics of data " +
    "pipelines where storage compute and network each impose their own " +
    "constraints on the design of a modern lakehouse"
  private val junk = "zzqx 1234 @@@@ ???? 9999 xkcd qqqq 0000"
  // passes the gate but has fewer than shingleSize (5) tokens: no
  // signature, so it pairs with nothing and gets no index row
  private val short = "the river bends north"

  // the three shards the stream and the batch twin both see:
  // shard 0: s1 brings a, b, junk, and an in-batch near-dup of a
  // shard 1: s1 re-delivers a+b EXACTLY (theta kills the group);
  //          s2 brings fresh c (admitted)
  // shard 2: s1 brings a perturbed near-dup of a (passes theta — new
  //          bytes; dies at the signature index), fresh d, and the
  //          unsignable short doc
  private val shards: Seq[Seq[(Long, String, String)]] = Seq(
    Seq((1L, a, "s1"), (2L, b, "s1"), (3L, junk, "s1"),
      (4L, a.replace("summer", "winter"), "s1")),
    Seq((5L, a, "s1"), (6L, b, "s1"), (7L, c, "s2")),
    Seq((8L, a.replace("children", "tourists"), "s1"), (9L, d, "s1"),
      (10L, short, "s1")))

  private def runStream(root: String): Unit = {
    val input = MemoryStream[(Long, String, String)](spark)
    val q = EventStreams.corpusBuildStream(
      input.toDF().toDF("doc_id", "text", "source"),
      "text", "doc_id", "source",
      s"$root/theta", s"$root/sigs", s"$root/out", s"$root/verdicts",
      s"$root/ckpt")
    try shards.foreach { s => input.addData(s: _*); q.processAllAvailable() }
    finally q.stop()
  }

  private def runBatch(root: String, i: Int): Unit =
    EventStreams.corpusBuildBatch(
      shards(i).toDF("doc_id", "text", "source"), i.toLong,
      "text", "doc_id", "source",
      s"$root/theta", s"$root/sigs", s"$root/out", s"$root/verdicts")

  private def runBatchTwin(root: String): Unit =
    shards.indices.foreach(runBatch(root, _))

  private def acceptedByBatch(root: String): Map[Long, Set[Long]] =
    spark.read.parquet(s"$root/out")
      .select("batch_id", "doc_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def verdicts(root: String): Set[(Long, String, Boolean)] =
    spark.read.parquet(s"$root/verdicts")
      .select("batch_id", "grp", "admitted").as[(Long, String, Boolean)]
      .collect().toSet

  private def sigRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Seq[Long])] =
    df.select("id", "sig").as[(Long, Seq[Long])].collect().toSet

  /** Each batch's signature index is exactly the accepted rows,
    * signed from scratch: the index write reuses the batch's
    * signatures, and must not drift from a re-sign.
    */
  private def assertIndexMatchesAccepted(root: String): Unit =
    shards.indices.foreach { n =>
      val written = sigRows(spark.read.parquet(s"$root/sigs/batch_id=$n"))
      val resigned = sigRows(Dedup.minHashSignatures(
        spark.read.parquet(s"$root/out/batch_id=$n"), col("doc_id"), col("text")))
      assert(written == resigned,
        s"batch $n index ids ${written.map(_._1)} vs re-signed ${resigned.map(_._1)}")
    }

  /** Physical-plan descriptions of the SQL executions `body` starts
    * (matched by a job tag, so no other thread's queries count).
    */
  private def sqlPlansOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val tag = s"graft-plan-guard-${java.util.UUID.randomUUID}"
    val marker = s"$tag-marker"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          plans.add(s.physicalPlanDescription)
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(marker) =>
          drained.countDown()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      // the bus delivers events in posting order: once the marker
      // execution arrives, every execution of `body` has too
      sc.addJobTag(marker)
      try spark.range(1).collect() finally sc.removeJobTag(marker)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the marker execution")
    } finally sc.removeSparkListener(listener)
    plans.asScala.toSeq
  }

  test("E46 corpus-build stream: tiers compose and match the batch twin") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e46").toString
    runStream(s"$dir/stream")
    runBatchTwin(s"$dir/batch")

    val acc = acceptedByBatch(s"$dir/stream")
    // batch 0: junk (3) quality-gated, in-batch near-dup (4) clustered
    // to min-id winner 1; batch 1: s1 group theta-rejected whole, c
    // admitted; batch 2: perturbed re-arrival (8) killed by the
    // signature index, d and the unsignable short doc accepted
    assert(acc == Map(0L -> Set(1L, 2L), 1L -> Set(7L), 2L -> Set(9L, 10L)),
      s"accepted: $acc")
    assertIndexMatchesAccepted(s"$dir/stream")
    assertIndexMatchesAccepted(s"$dir/batch")
    assert(!sigRows(spark.read.parquet(s"$dir/stream/sigs")).exists(_._1 == 10L),
      "a doc shorter than the shingle size must get no index row")
    val v = verdicts(s"$dir/stream")
    assert(v.contains((1L, "s1", false)),
      s"exact re-delivery must be theta-rejected at the group tier: $v")
    assert(v.contains((1L, "s2", true)) && v.contains((2L, "s1", true)),
      s"fresh groups must be admitted: $v")

    // stream == batch twin, artifact for artifact
    assert(acceptedByBatch(s"$dir/batch") == acc, "accepted rows drifted")
    assert(verdicts(s"$dir/batch") == v, "admission verdicts drifted")
    // the maintained corpus sketches agree (same groups, same estimates)
    def sketchEst(root: String) = SnapshotStore.read(spark, s"$root/theta").get
      .select(col("grp"),
        graft.functions.ThetaSketch.thetaEstimate(col("sketch")).as("e"))
      .as[(String, Double)].collect().toMap
    assert(sketchEst(s"$dir/stream") == sketchEst(s"$dir/batch"))
  }

  test("E46 replay of a batch against its own artifacts rewrites, not empties") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e46r").toString
    runBatchTwin(s"$dir/t")
    val before = acceptedByBatch(s"$dir/t")
    // crash-replay batch 1: its verdicts, output, signatures, and the
    // v1 sketch are already on disk; the version fences must hide them
    EventStreams.corpusBuildBatch(
      shards(1).toDF("doc_id", "text", "source"), 1L,
      "text", "doc_id", "source",
      s"$dir/t/theta", s"$dir/t/sigs", s"$dir/t/out", s"$dir/t/verdicts")
    assert(acceptedByBatch(s"$dir/t") == before,
      "replay must rewrite identical output (it would empty under unfenced reads)")
    assert(verdicts(s"$dir/t").count(_._1 == 1L) == 2,
      "replayed verdicts must overwrite, not duplicate")
  }

  test("E46 gates and signs each batch once: one SQL execution evaluates each kernel") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e46p").toString
    runBatch(dir, 0)
    runBatch(dir, 1)
    // batch 2 runs every tier: a committed index, an admitted group
    // with a cross-batch near-dup, a fresh doc and an unsignable one
    val plans = sqlPlansOf(runBatch(dir, 2))
    // the MinHash kernel prints as minhash_signature(...); withQuality's
    // one-tokenization struct carries the tok_chars field
    val signing = plans.count(_.contains("minhash_signature("))
    val gating = plans.count(_.contains("tok_chars"))
    assert(signing == 1 && gating == 1,
      s"${plans.size} executions: $signing sign the batch, $gating gate it " +
        "(each must run once, in the checkpoint seam every tier reads)")
  }
}
