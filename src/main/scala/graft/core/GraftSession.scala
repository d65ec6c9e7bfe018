package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with scale-aware defaults.
  *
  * Local testing runs `local[N]`; the same settings are what we would ship on a
  * 1000-executor cluster, minus the master: AQE on (runtime re-plan, skew-join
  * splitting, dynamic coalesce), broadcast threshold generous enough for the
  * dimension tables, UTC so timestamp arithmetic matches the DuckDB oracle.
  * Streaming state lives in RocksDB: transformWithState, which every
  * [[graft.stateful.Processors]] operator uses, requires that provider, and
  * it keeps large keyed state off the JVM heap.
  */
object GraftSession {

  def builder(appName: String, cores: Int = defaultCores): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // Checkpoint-file checksums are disabled: in this Spark build,
      // ChecksumCancellableFSDataOutputStream.close() can await a checksum
      // future that never completes during a RocksDB snapshot zip upload
      // (observed deterministically with a TTL-bearing transformWithState
      // store: all commit threads park in zipToDfsFile while the checksum
      // pool sits idle — a lost-completion race, no timeout on the await).
      // The feature only adds corruption DETECTION for checkpoint files; a
      // hung commit is strictly worse than an undetected-corruption risk
      // the state-store format already guards with its own file listings.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(
      math.max(2, Runtime.getRuntime.availableProcessors()))
}
