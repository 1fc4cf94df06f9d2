package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

package object operators {

  /** ONE copy of the cross-engine numeric determinism contract
    * (SURVEY §6 r4) shared by the statistical operators
    * (Profile / Stats): the DuckDB oracles replay these formulas
    * textually, so a change here must be deliberate and global —
    * three hand-maintained copies were one silent divergence away
    * from a hash mismatch.
    */
  private[operators] object Num {
    /** 4-dp floor truncation — repr-independent where round() is not
      * (Spark half-ups the shortest decimal repr of the double, other
      * engines round the binary value). Use for signed REPORTING
      * values where truncation direction carries no meaning.
      */
    def t4floor(c: Column): Column = floor(c * 1e4) / 1e4

    /** 4-dp truncation TOWARD ZERO — for values feeding a symmetric
      * |x| > threshold gate, where floor's away-from-zero truncation
      * of negatives would make the verdict depend on sign. `+ 0.0`
      * folds sign(-small)·0 = -0.0 back to +0.0 so both engines emit
      * the identical zero.
      */
    def t4zero(c: Column): Column =
      signum(c) * (floor(abs(c) * 1e4) / 1e4) + 0.0

    /** Exact 6-dp decimal reduction for order-independent sums. */
    def dec(c: Column): Column = c.cast("decimal(18,6)")
  }

  /** Ensure a CPU-bound kernel stage has at least the cluster's
    * parallelism. Small inputs (a single parquet split, a compact doc
    * table) otherwise serialize expensive per-row work — tokenization,
    * shingling, hashing — onto one task. At real scale inputs arrive
    * in many splits and this is a no-op; the repartition only fires
    * when the source under-splits, and shuffles just the projected
    * kernel input (id + text), not the full table.
    *
    * The decision estimates the scan's SPLIT count from the leaf file
    * listing: ceil(fileBytes / maxPartitionBytes) per file (splittable
    * formats), summed. A bare file COUNT would mis-fire on one large
    * parquet file — Spark already plans ~80 splits for a 10 GB file,
    * and a count-based guard would shuffle it pointlessly (and cap
    * parallelism below the native splits). No `df.rdd.getNumPartitions`
    * either: that would force a full non-AQE physical plan of the
    * fragment just to count splits, planning every kernel input twice.
    * Fragments with no file source (LocalRelation fixtures) count as 0
    * splits and get spread — exactly the under-split case the guard
    * exists for.
    */
  /** Materialize several INDEPENDENT DataFrames as local checkpoints
    * CONCURRENTLY (guide §2.6 overlap-independent-jobs): Spark's
    * scheduler runs multiple jobs at once — actions are only
    * sequential because driver code calls them sequentially. Audit
    * queries build several checkpoint seams that share an input but
    * not each other; submitted one by one, each short job's straggler
    * tail leaves the cluster idle. Results come back in argument
    * order; exceptions propagate (the seams' jobs are independent, so
    * a failure cannot corrupt a sibling).
    */
  def checkpointPar(dfs: DataFrame*): Seq[DataFrame] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(
      Future.sequence(dfs.toSeq.map(df => Future(df.localCheckpoint()))),
      Duration.Inf)
  }

  def scaleOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxPartitionBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    // early exit: stop statting files the moment the estimate clears
    // the target — on a 100k-file table this is a handful of driver
    // RPCs, not 100k serial getFileStatus calls
    val estSplits =
      try {
        val conf = spark.sparkContext.hadoopConfiguration
        val it = df.inputFiles.iterator
        var est = 0L
        while (est < target && it.hasNext) {
          val p = new org.apache.hadoop.fs.Path(it.next())
          val len = p.getFileSystem(conf).getFileStatus(p).getLen
          est += math.max(1L, (len + maxPartitionBytes - 1) / maxPartitionBytes)
        }
        est
      } catch { case _: Exception => 0L }
    if (estSplits >= target) df else df.repartition(target)
  }
}
