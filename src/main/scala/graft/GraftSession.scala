package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the configuration this engine is
  * designed to run under, local or cluster.
  *
  *  - AQE on (runtime re-plan: skew-join split, partition coalescing,
  *    dynamic broadcast)
  *  - shuffle partitions sized to the parallelism at hand, not the
  *    legacy 200 default
  *  - runtime bloom-filter join pruning on: a selective join builds a
  *    bloom filter from the small side and pushes it into the big
  *    side's scan — at 100 TB this is the difference between shuffling
  *    a fact table and shuffling the ~1% of it that can match
  *  - parquet aggregate pushdown on: bare MIN/MAX/COUNT resolve from
  *    footer statistics without scanning row groups
  *  - UTC session timezone (oracle parity + sane date semantics)
  *  - the engine's native SQL functions registered via GraftExtensions
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing keeps the Spark default parallelismFirst=true.
      // parallelismFirst=false (respect the 64 MB advisory size, the
      // setting Spark's docs suggest for busy clusters) was A/B'd in
      // r15 across 22 queries at sf0.1/32 cores and LOST: geomean ~1.2x
      // slower (q302 2.79→6.57 s, q316 5.00→7.59, q243 5.12→6.72,
      // q360 10.8→12.7; only q321/q317 improved) — collapsing few-MB
      // shuffles to one 64 MB-target partition serializes real compute
      // work at this SF.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // ContextCleaner only reclaims shuffle/broadcast files when the
      // DRIVER garbage-collects; the default periodic-GC interval
      // (30 min) means a multi-hundred-query session accumulates every
      // query's shuffle files on local disk for its whole lifetime —
      // the observed driver-bench tail blowups were temp-I/O bound.
      // 2 min keeps local-dir growth bounded at negligible GC cost.
      // Overridable through the system property (Bench parks it at
      // 120min because it drives ContextCleaner itself between timed
      // slots): builder options are applied to the SparkConf AFTER
      // system properties, so setting the key here unconditionally
      // would silently win over any System.setProperty caller.
      .config("spark.cleaner.periodicGC.interval",
        sys.props.getOrElse("spark.cleaner.periodicGC.interval", "2min"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  /** Local session with `cpus` worker threads. */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    // when an earlier builder already created the JVM session,
    // withExtensions is skipped — register directly so vec_dot & co.
    // are always available
    GraftExtensions.register(s)
    s
  }
}
