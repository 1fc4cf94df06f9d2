package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Local runs use `local[N]`; on a cluster the same confs apply (AQE,
  * UTC, broadcast threshold) while master/memory come from spark-submit.
  */
object Engine {
  def session(appName: String = "graft", master: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(2, Runtime.getRuntime.availableProcessors()).toString)
    val b = SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.ui.enabled", "false")
      // events.ts may be int64 nanos, TIMESTAMP or TIMESTAMP_NTZ
      // depending on the writer (sources.Tables.events normalizes all
      // three); this keeps the nanos arm exact by reading TIMESTAMP(NANOS)
      // as long epoch-nanos instead of truncating to micros.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-table writes (Tables.writeBucketed) need a warehouse;
      // keep it out of the source tree
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
    master.orElse(Some(s"local[$cpus]")).foreach(b.master)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SQL names for the custom Catalyst expressions (simhash64,
    // winnow_fingerprint, dot_product) — same surface as the Column API.
    functions.GraftFunctions.registerAll(spark)
    // Live-session twin of GraftExtensions' injectOptimizerRule.
    if (!spark.experimental.extraOptimizations.contains(plans.CollapseUnicodeNormalize))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.CollapseUnicodeNormalize
    // Live-session twin of GraftExtensions' injectPlannerStrategy.
    if (!spark.experimental.extraStrategies.contains(plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ plans.AsOfJoinStrategy
    spark
  }
}
