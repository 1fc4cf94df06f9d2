package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Engine, SparkEntry}

/** What one op hands back: its label, and an output digest and extra
  * fields that are computed after the op's clock stops.
  */
final case class OpOut(name: String, digest: () => String = () => "",
    extra: () => Map[String, Any] = () => Map.empty)

/** One workload bound to one session. Constructing it and running one
  * warm-up op is the workload's share of set-up.
  */
trait Workload {
  def clients: Int
  def warmup(): Unit
  /** Untimed cache fill after set-up, before the measured loop. */
  def prime(): Unit = ()
  def op(client: Int, seq: Long): OpOut
  /** Stop whatever op `client` is running (the op timeout). */
  def cancel(client: Int): Unit
  /** Untimed output checks after the loop: failure reason by op id. */
  def checks(ops: Seq[OpRec]): Map[Long, String]
  /** Traced-run probes after the loop (staged materialization etc.). */
  def probes(): Map[String, Any] = Map.empty
  def close(): Unit = ()
}

final case class OpRec(
    id: Long, client: Int, seq: Long, startS: Double, latS: Double,
    status: String, error: String, name: String, digest: String, extra: Map[String, Any])

/** The benchmark JVM. `run.py` builds the inputs and launches this:
  *
  *   --workload W --inputs DIR --out DIR --seconds S --trace 0|1
  *
  * It sets up once (session, registration, the workload's state and one
  * warm-up op, timed from JVM start), runs the closed loop for S
  * seconds, checks outputs, and writes `<out>/result.json`.
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  /** An op still running after this long is cancelled and counts as timed out. */
  val OpTimeoutS = 60L

  def main(args: Array[String]): Unit =
    run(args.toList.grouped(2).collect { case List(k, v) => k.stripPrefix("--") -> v }.toMap)

  def md5(lines: Seq[String]): String =
    MessageDigest.getInstance("MD5").digest(lines.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def rowDigest(rows: Array[Row]): String = md5(rows.toSeq.map(_.toString))

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val inputs = a("inputs")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    new File(out).mkdirs()
    val tracer = new Tracer(traced)

    // set-up: JVM start (on the nanoTime clock) until the warm-up op is done
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
      (System.currentTimeMillis() * 1000000L - System.nanoTime())
    val spark = Engine.session("graftbench")
    val t1 = System.nanoTime()
    val w: Workload = workload match {
      case "dash_olap" => new DashOlap(spark, inputs, out, tracer)
      case "corpus_stream" => new CorpusStream(spark, inputs, out, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t2 = System.nanoTime()
    w.warmup()
    val t3 = System.nanoTime()

    w.prime()
    val counters = if (traced) Some(new Counters(spark)) else None
    val sched = Executors.newSingleThreadScheduledExecutor()
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    counters.foreach(_.start())
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    val ends = new Array[Long](w.clients)
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        spark.sparkContext.setJobGroup(s"c$c", s"client $c", interruptOnCancel = true)
        var seq = 0L
        while (System.nanoTime() < deadline) {
          val id = c * 1000000L + seq
          val guard = sched.schedule(new Runnable { def run(): Unit = w.cancel(c) }, OpTimeoutS, TimeUnit.SECONDS)
          val s0 = System.nanoTime()
          val res = try Right(tracer.withOp(id)(tracer.span("op")(w.op(c, seq))))
                    catch { case e: Throwable => Left(e) }
          val s1 = System.nanoTime()
          guard.cancel(false)
          val lat = (s1 - s0) / 1e9
          val rec = res match {
            case Right(o) =>
              val d = try o.digest() catch { case e: Throwable => s"digest failed: $e" }
              OpRec(id, c, seq, (s0 - loopStart) / 1e9, lat, "ok", "", o.name, d, o.extra())
            case Left(e) =>
              val status = if (lat >= OpTimeoutS) "timeout" else "error"
              OpRec(id, c, seq, (s0 - loopStart) / 1e9, lat, status, String.valueOf(e).take(500), "", "", Map.empty)
          }
          ops.add(rec)
          seq += 1
        }
        ends(c) = System.nanoTime()
      }, s"graftbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val loopWallS = (ends.max - loopStart) / 1e9
    counters.foreach(_.stop())
    sched.shutdownNow()

    val recs = ops.asScala.toSeq.sortBy(_.id)
    val failures = try w.checks(recs) catch {
      case e: Throwable => recs.map(_.id -> s"check crashed: $e").toMap
    }
    val probes = if (traced) w.probes() ++ Probes.run(spark, inputs) else Map.empty[String, Any]
    w.close()
    val peakRssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

    val result = Map(
      "workload" -> workload,
      "cores" -> spark.sparkContext.defaultParallelism,
      "clients" -> w.clients,
      "setup_s" -> (t3 - t0) / 1e9,
      "setup_parts" -> Map("session_s" -> (t1 - t0) / 1e9, "workload_s" -> (t2 - t1) / 1e9,
        "warmup_s" -> (t3 - t2) / 1e9),
      "loop_wall_s" -> loopWallS,
      "peak_rss_kb" -> peakRssKb,
      "ops" -> recs.map { r =>
        Map("id" -> r.id, "client" -> r.client, "seq" -> r.seq, "start_s" -> r.startS,
          "lat_s" -> r.latS,
          "status" -> failures.get(r.id).map(_ => "check_failed").getOrElse(r.status),
          "error" -> failures.getOrElse(r.id, r.error), "name" -> r.name) ++ r.extra
      },
      "counters" -> counters.map(_.snapshot).orNull,
      "spans" -> tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "probes" -> probes)
    Files.writeString(Paths.get(out, "result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }

  /** Median wall seconds of `n` runs of `f`. */
  def medianTime(n: Int)(f: => Unit): Double = {
    val ts = (0 until n).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(n / 2)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def writeCheck(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  def writeJson(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(v))

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum
  }
}

/** Layer probes of every traced run, on fixed inputs so they read the
  * same layer whatever the workload: the custom expressions
  * `corpus_stream` calls, each as a noop select (or aggregate) over the
  * cached documents feed, and staged noop materialization of the
  * registry's Shape-B wrangling (`operators.Reshape`) and EPE pipeline
  * (`pipeline.EpeWideToLong`) queries over the sf tables. Each is the
  * median of three.
  */
object Probes {
  import org.apache.spark.sql.functions._

  def run(spark: SparkSession, inputs: String): Map[String, Any] = {
    val docs = spark.read.parquet(s"$inputs/feed/feed.parquet")
      .select(col("doc_id"), col("text"), col("source"), graft.functions.tokens(col("text")).as("toks"))
      .cache()
    val n = docs.count()
    val minhash = Main.medianTime(3)(Main.noop(docs.select(
      graft.functions.MinHashSignature.minhashSignature(col("toks"), 64, 5, 42L).as("sig"))))
    val theta = Main.medianTime(3)(Main.noop(docs.groupBy(col("source"))
      .agg(graft.functions.ThetaSketch.thetaSketch(col("text"), 12).as("sk"))))
    docs.unpersist()
    val q = SparkEntry.queries
    val sf = s"$inputs/sf/sf"
    Map("kernel_rows" -> n, "minhash_signature_s" -> minhash, "theta_sketch_s" -> theta,
      "reshape_s" -> Main.medianTime(3)(Main.noop(q("q_epe_shape_b")(spark, sf))),
      "epe_s" -> Main.medianTime(3)(Main.noop(q("q_epe_pipeline")(spark, sf))))
  }
}

/** dash_olap: C clients share one session and take turns through one
  * seeded, skewed sequence of registry queries over the sf tables.
  */
final class DashOlap(spark: SparkSession, inputs: String, out: String, tracer: Tracer) extends Workload {
  private val sf = s"$inputs/sf/sf"
  private val registry = SparkEntry.queries
  private val mix = Main.mapper.readTree(new File(s"$inputs/sf/dash_mix.json"))
  private val dashboard: Seq[String] = mix.get("queries").elements().asScala.map(_.asText()).toSeq
  private val sequence: IndexedSeq[String] =
    mix.get("sequence").elements().asScala.map(_.asText()).toIndexedSeq
  private val next = new java.util.concurrent.atomic.AtomicLong(0)
  /** One client per core the session runs on, at most 16. */
  val clients: Int = math.min(spark.sparkContext.defaultParallelism, 16)

  private def exec(q: String): (DataFrame, Array[Row]) = {
    val df = tracer.span("queries.build")(registry(q)(spark, sf))
    (df, tracer.span("queries.execute")(df.collect()))
  }

  private val firstResult = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def warmup(): Unit = exec(dashboard.head)

  /** Every dashboard query once before the loop, untimed and from all
    * clients at once, so the loop sees a warm dashboard (plan and codegen
    * caches filled) as a long-running service would.
    */
  override def prime(): Unit = {
    val pool = Executors.newFixedThreadPool(clients)
    try dashboard.map(q => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = exec(q)
    })).foreach(_.get())
    finally pool.shutdown()
  }

  def op(client: Int, seq: Long): OpOut = {
    val q = sequence((next.getAndIncrement() % sequence.size).toInt)
    val (df, rows) = exec(q)
    OpOut(q, () => {
      firstResult.computeIfAbsent(q, _ => spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
      Main.rowDigest(rows)
    })
  }

  def cancel(client: Int): Unit = spark.sparkContext.cancelJobGroup(s"c$client")

  /** Each query's first result is written for the oracle compare; every
    * op of that query must reproduce its digest.
    */
  def checks(ops: Seq[OpRec]): Map[Long, String] = {
    val ref = firstResult.asScala.map { case (q, df) =>
      Main.writeCheck(df, s"$out/check/$q")
      q -> Main.rowDigest(df.collect())
    }.toMap
    Main.writeJson(s"$out/check/oracle_sql.json", SparkEntry.oracleSql.filter { case (k, _) => ref.contains(k) })
    ops.collect {
      case r if r.status == "ok" && r.digest != ref(r.name) => r.id -> s"result of ${r.name} differs from its first result"
    }.toMap
  }
}

/** corpus_stream: one op is one micro-batch of the documents feed through
  * `EventStreams.corpusBuildStream` (theta admission, quality gate,
  * MinHash dedup against a growing signature index, writes). Each client
  * runs its own stream over its own share of the feed: client c takes
  * the batches b with b % clients == c, in order. Set-up starts the
  * streams and feeds each its first batch as its warm-up op; each
  * stream's second batch is the untimed prime, so op `seq` of client c
  * is its (seq+3)-th batch, against the index its earlier batches built.
  * Two streams, because a batch takes about 10 s and one stream alone
  * gives too few samples per run.
  */
final class CorpusStream(spark: SparkSession, inputs: String, out: String, tracer: Tracer) extends Workload {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private val feed: IndexedSeq[Seq[(Long, String, String)]] =
    spark.read.parquet(s"$inputs/feed/feed.parquet").select("batch", "doc_id", "text", "source")
      .as[(Int, Long, String, String)].collect().groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map(_._2.toSeq.map { case (_, id, t, s) => (id, t, s) })

  private final class Lane(c: Int) {
    val root = s"$out/stream_c$c"
    val input = MemoryStream[(Long, String, String)](spark)
    val query = graft.streaming.EventStreams.corpusBuildStream(
      input.toDF().toDF("doc_id", "text", "source"), "text", "doc_id", "source",
      s"$root/theta", s"$root/sigs", s"$root/out", s"$root/verdicts", s"$root/ckpt")
    def batch(b: Int): Unit = {
      input.addData(feed(b): _*)
      query.processAllAvailable()
    }
  }
  val clients: Int = 2
  private val lanes = (0 until clients).map(new Lane(_))

  /** The k-th batch of client c's share of the feed. */
  private def batchOf(c: Int, k: Long): Int = {
    val b = k * clients + c
    require(b < feed.size, s"feed exhausted after ${feed.size} batches")
    b.toInt
  }

  /** Every stream's k-th batch, the streams side by side. */
  private def allLanes(k: Long): Unit = {
    val ts = lanes.zipWithIndex.map { case (l, c) => new Thread(() => l.batch(batchOf(c, k))) }
    ts.foreach(_.start())
    ts.foreach(_.join())
    lanes.foreach(_.query.exception.foreach(e => throw e))
  }

  def warmup(): Unit = allLanes(0)

  /** A stream's first batches run far slower than later ones (about
    * 13 s against 9-10 s) while code paths warm up; one more untimed
    * batch per stream keeps that out of the measured ops.
    */
  override def prime(): Unit = allLanes(1)

  def op(client: Int, seq: Long): OpOut = {
    val b = batchOf(client, seq + 2)
    val lane = lanes(client)
    tracer.span("streaming.batch")(lane.batch(b))
    OpOut(s"batch_$b", extra = () => Map("batch" -> b, "rows_in" -> feed(b).size,
      "bytes_in" -> feed(b).map(_._2.length.toLong).sum) ++
      (if (tracer.on) Map("index_bytes" -> Main.dirBytes(s"${lane.root}/sigs")) else Map.empty))
  }

  def cancel(client: Int): Unit = lanes(client).query.stop()

  /** Accepted ids and planted copies are checked in run.py from the
    * streams' output directories; here only the streams' health.
    */
  def checks(ops: Seq[OpRec]): Map[Long, String] =
    ops.flatMap(r => lanes(r.client).query.exception.map(e => r.id -> s"stream failed: $e")).toMap

  /** Candidate pairs the MinHash tiers find per batch, replayed for client
    * 0's first batches after its warm-up: in-batch pairs over the quality-gated
    * rows plus batch x index hits against its earlier batches' signatures.
    */
  override def probes(): Map[String, Any] = {
    val root = lanes(0).root
    val done = Option(new File(s"$root/out").listFiles()).map(_.count(_.getName.startsWith("batch_id="))).getOrElse(0)
    // micro-batch k of the stream (its batch_id) carries feed batch batchOf(0, k)
    val pairs = (1 until math.min(done, 4)).map { k =>
      val gated = graft.streaming.EventStreams.curateStream(
        feed(batchOf(0, k)).toDF("doc_id", "text", "source"), "text", 0.3)
      val inBatch = graft.operators.Dedup.minHashLSH(gated, col("doc_id"), col("text"), 64, 16, 5, 0.5).count()
      val vsIndex = graft.operators.Dedup.minHashLSHIncremental(gated, col("doc_id"), col("text"),
        spark.read.parquet(s"$root/sigs").filter(col("batch_id") < k).drop("batch_id"), 64, 16, 5, 0.5).count()
      inBatch + vsIndex
    }
    Map("dedup_pairs_per_batch" -> (if (pairs.isEmpty) 0.0 else pairs.sum.toDouble / pairs.size))
  }

  override def close(): Unit = lanes.foreach(_.query.stop())
}
