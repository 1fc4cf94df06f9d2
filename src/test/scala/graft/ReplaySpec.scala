package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.ThetaSketch.thetaEstimate
import graft.operators.{Profile, Stats}
import graft.streaming.{EventStreams, SnapshotStore}

/** Replay idempotence of every snapshot-maintained stream — the
  * at-least-once delivery of `foreachBatch`, exercised for real:
  * two micro-batches run through a replayable parquet file source,
  * then `commits/1` is deleted from the checkpoint and the query
  * restarts, so Spark re-runs batch 1 with the same batch id against
  * the state batch 1 already published. The maintained state (and
  * E45's verdict rows) must equal that of a run with no replay: a
  * batch that merges into its own published version double-counts
  * (CMS, KLL, frequent items) or scores itself as all-old (theta
  * admission).
  */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  /** Feeds `batches` (one parquet file each, one micro-batch each)
    * through the query `start(source, root)` builds, with its
    * checkpoint at `root/ckpt`; with `replay`, batch 1 runs a second
    * time after a restart. Returns `read(root)` afterwards.
    */
  private def run[T](batches: Seq[DataFrame], replay: Boolean)(
      start: (DataFrame, String) => StreamingQuery)(read: String => T): T = {
    val root = Files.createTempDirectory("graft_replay").toString
    val in = new File(s"$root/in")
    in.mkdirs()
    def query(): StreamingQuery =
      start(spark.readStream.schema(batches.head.schema).parquet(in.toString), root)
    val q = query()
    try batches.zipWithIndex.foreach { case (b, i) =>
      // land each batch as one whole file, so the source sees it atomically
      val stage = s"$root/stage$i"
      b.coalesce(1).write.parquet(stage)
      val part = new File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(in, s"b$i.parquet").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
    } finally q.stop()
    if (replay) {
      // a crash after batch 1's side effects but before its commit
      val commit = new File(s"$root/ckpt/commits/1")
      assert(commit.delete(), s"no commit log entry at $commit")
      new File(s"$root/ckpt/commits/.1.crc").delete()
      val again = query()
      try again.processAllAvailable() finally again.stop()
      assert(commit.exists(), "the restarted query did not re-run batch 1")
    }
    read(root)
  }

  /** The run with a replay of batch 1 reads exactly like the run
    * without one.
    */
  private def assertReplayIdempotent[T](name: String, batches: Seq[DataFrame])(
      start: (DataFrame, String) => StreamingQuery)(read: String => T): Unit = {
    val once = run(batches, replay = false)(start)(read)
    val replayed = run(batches, replay = true)(start)(read)
    assert(replayed == once, s"$name: replayed batch changed the state\n" +
      s"replayed: $replayed\nonce:     $once")
  }

  private def snap(root: String): DataFrame = SnapshotStore.read(spark, s"$root/snap").get

  private def thetaEstimates(df: DataFrame): Map[String, Double] =
    df.select(col("grp"), thetaEstimate(col("sketch")))
      .as[(String, Double)].collect().toMap

  test("E8 applyChangesMaintained: a replayed batch rewrites the same snapshot") {
    assertReplayIdempotent("E8", Seq(
      Seq((1L, "a", "I", 1), (2L, "b", "I", 1)).toDF("k", "v", "op", "ver"),
      Seq((2L, "b2", "U", 2), (3L, "c", "I", 1), (1L, "x", "D", 2))
        .toDF("k", "v", "op", "ver"))) { (src, root) =>
      EventStreams.applyChangesMaintained(
        src, Seq("k"), "ver", "op", s"$root/snap", s"$root/ckpt")
    } { root => snap(root).select("k", "v").as[(Long, String)].collect().toSet }
  }

  test("E14 cmsMaintained: a replayed batch does not double-count") {
    assertReplayIdempotent("E14", Seq(
      (0 until 400).map(i => s"w${i % 40}").toDF("term"),
      (0 until 300).map(i => s"w${i % 70}").toDF("term"))) { (src, root) =>
      EventStreams.cmsMaintained(src, "term", s"$root/snap", s"$root/ckpt",
        width = 256, depth = 4)
    } { root => snap(root).as[(Int, Int, Long)].collect().toSet }
  }

  test("E20 kllMaintained: a replayed batch does not double-count") {
    assertReplayIdempotent("E20", Seq(
      (1 to 60).map(i => ("a", i.toDouble)).toDF("g", "v"),
      (1 to 40).map(i => (if (i % 2 == 0) "a" else "b", i * 3.0)).toDF("g", "v"))) {
      (src, root) =>
        EventStreams.kllMaintained(src, "g", "v", s"$root/snap", s"$root/ckpt")
    } { root =>
      Profile.quantileMerge(snap(root), col("grp"), col("sketch"), ranks = Seq(0.5, 0.9))
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n"), r.getAs[Double]("p50"), r.getAs[Double]("p90")))).toMap
    }
  }

  test("E23 freqMaintained: a replayed batch does not double-count") {
    assertReplayIdempotent("E23", Seq(
      (0 until 120).map(i => ("a", s"it${i % 12}")).toDF("g", "it"),
      (0 until 90).map(i => (if (i % 3 == 0) "b" else "a", s"it${i % 9}")).toDF("g", "it"))) {
      (src, root) =>
        EventStreams.freqMaintained(src, "g", "it", s"$root/snap", s"$root/ckpt",
          maxMapSize = 64)
    } { root =>
      Profile.freqTop(snap(root), maxItems = 40).collect()
        .map(r => (r.getAs[String]("grp"), r.getAs[String]("item")) ->
          r.getAs[Long]("estimate")).toMap
    }
  }

  test("E41 thetaMaintained: a replayed batch rewrites the same sketches") {
    assertReplayIdempotent("E41", Seq(
      (0 until 150).map(i => ("a", s"item$i")).toDF("g", "it"),
      (100 until 300).map(i => (if (i % 2 == 0) "a" else "b", s"item$i")).toDF("g", "it"))) {
      (src, root) =>
        EventStreams.thetaMaintained(src, "g", "it", s"$root/snap", s"$root/ckpt")
    } { root => thetaEstimates(snap(root)) }
  }

  test("E45 thetaAdmitStream: a replayed batch rewrites the same verdicts, not all-old ones") {
    assertReplayIdempotent("E45", Seq(
      (0 until 200).map(i => ("a", s"item$i")).toDF("g", "it"),
      (150 until 300).map(i => ("a", s"item$i")).toDF("g", "it"))) { (src, root) =>
      EventStreams.thetaAdmitStream(src, "g", "it",
        s"$root/snap", s"$root/out", s"$root/ckpt")
    } { root =>
      val verdicts = spark.read.parquet(s"$root/out")
        .select("batch_id", "grp", "est_batch", "est_new")
        .as[(Long, String, Double, Double)].collect().toSet
      // batch 1 holds 50 old and 100 new items
      assert(verdicts.contains((1L, "a", 150.0, 100.0)), verdicts.toString)
      (verdicts, thetaEstimates(snap(root)))
    }
  }

  test("E46 corpusBuildStream: a replayed batch rewrites the same sketch and artifacts") {
    val a = "the quick brown fox jumps over the lazy dog while rain falls on " +
      "the quiet village and the river bends through green fields toward the " +
      "old stone bridge where children play every summer afternoon"
    val b = "completely different content about spark partitions shuffles and " +
      "broadcast joins executed across many workers in a large cluster " +
      "deployment with careful attention to memory and skew"
    val d = "yet another fresh document on the economics of data pipelines " +
      "where storage compute and network each impose their own constraints " +
      "on the design of a modern lakehouse"
    assertReplayIdempotent("E46", Seq(
      Seq((1L, a, "s1"), (2L, b, "s1")).toDF("doc_id", "text", "source"),
      Seq((3L, a.replace("children", "tourists"), "s1"), (4L, d, "s2"))
        .toDF("doc_id", "text", "source"))) { (src, root) =>
      EventStreams.corpusBuildStream(src, "text", "doc_id", "source",
        s"$root/snap", s"$root/sigs", s"$root/out", s"$root/verdicts", s"$root/ckpt")
    } { root =>
      val accepted = spark.read.parquet(s"$root/out")
        .select("batch_id", "doc_id").as[(Long, Long)].collect().toSet
      assert(accepted == Set((0L, 1L), (0L, 2L), (1L, 4L)), accepted.toString)
      (accepted, thetaEstimates(snap(root)))
    }
  }

  test("E47 rfmMaintained: a replayed batch rewrites the same snapshot") {
    assertReplayIdempotent("E47", Seq(
      Seq((1L, 10L, 2.5), (2L, 20L, 1.0), (1L, 30L, 4.0)).toDF("user_id", "ts_ns", "value"),
      Seq((2L, 40L, 3.0), (3L, 50L, 7.25)).toDF("user_id", "ts_ns", "value"))) {
      (src, root) =>
        EventStreams.rfmMaintained(src, "user_id", "ts_ns", "value",
          s"$root/snap", s"$root/ckpt")
    } { root =>
      snap(root).select(col("user_id"), col("__last"), col("frequency"),
          col("monetary").cast("string"))
        .as[(Long, Long, Long, String)].collect().toSet
    }
  }

  test("E49 hlMaintained: a replayed batch rewrites the same snapshot") {
    def rows(lo: Int, hi: Int) =
      (lo until hi).map(i => ((i % 10) / 10.0, i % 3 == 0)).toDF("score", "y")
    assertReplayIdempotent("E49", Seq(rows(0, 40), rows(40, 70))) { (src, root) =>
      EventStreams.hlMaintained(src, "score", "y", Seq(0.25, 0.5, 0.75),
        s"$root/snap", s"$root/ckpt")
    } { root => Stats.hlFromBins(snap(root)).collect().toSeq }
  }
}
