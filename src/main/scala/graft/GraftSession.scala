package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory with the engine's recommended configuration.
 *
 * Local mode floors shuffle partitions at the core count (the 200
 * default just makes 32-core local runs schedule 6× too many tiny
 * tasks). Shuffle width is SIZE-DERIVED, not constant (the round-8
 * 15M-doc lesson: every growth-law bend traced to a fixed width,
 * SCALE.md): paths that know their input size call [[sizeShuffleFor]],
 * which scales both the non-AQE floor and the AQE pre-coalesce ceiling
 * with the bytes on disk, and AQE then coalesces post-shuffle
 * partitions back to the advisory size measured in bytes. Sessions
 * that never state a size get a modest ceiling
 * ([[initialPartitionsFor]]) — fan-out has a real per-shuffle cost, so
 * blind width is bounded in both directions. On a real cluster the
 * same contract reads: floor at ~2-3× total executor cores, ceiling at
 * the width your largest shuffle needs, AQE coalesces the rest — the
 * skew-join and coalesce flags below are what keep 100 TB shuffles
 * healthy; they are on by default in Spark 4 but pinned here as part
 * of the engine contract.
 *
 * Local sessions also never launch a distributed file listing
 * ([[localBuilder]]). A file-stream micro-batch hands the files its
 * source has just listed back to Spark as one root path each, and past
 * 32 roots Spark lists them with a job of one task per path. Locally
 * that job is the driver's own JVM scheduling one task per path to
 * re-check files whose status is a microsecond lookup: a 150-file
 * `weather_stream` drain ran 160 tasks, 150 of them this job. Listed on
 * the driver it runs 10, its executor CPU goes 2.60 → 2.01 s (one
 * traced pair) and its `load_s` 4.77 → 3.35 s (medians of 10
 * alternating pairs; 4-core host, NOTES.md).
 * [[configure]], the cluster contract, keeps Spark's threshold: on an
 * object store a distributed stat of thousands of files still pays.
 */
object GraftSession {

  def local(cores: Int, appName: String = "graft"): SparkSession = {
    // SPARK_GRAFT_SHUFFLE_PARTITIONS pins shuffle width exactly (floor
    // AND AQE ceiling) for diagnosis runs — the knob that proved the
    // 15M-doc bends were the fixed-width spill, not the operators
    // (SCALE.md round 8). Absent the pin, the FLOOR is the core count
    // (tiny local queries shouldn't schedule 200 tasks) and the AQE
    // ceiling is a modest multiple of it; harness paths that know
    // their input size re-derive BOTH from the bytes on disk via
    // sizeShuffleFor — the round-9 fix for the r8 verdict's gap 1.
    val pinned = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    val shuffleParts = pinned.getOrElse(cores.toString)
    val initialParts = pinned.getOrElse(initialPartitionsFor(cores).toString)
    val spark = configure(localBuilder(cores)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialParts))
      .getOrCreate()
    GraftExtensions.registerInto(spark) // graft_cosine/graft_dot/graft_shingles in SQL
    spark
  }

  /**
   * `local[cores]` with the rules that hold only where the executors are
   * the driver's JVM, beside the core-count shuffle floor that [[local]]
   * sets: file listing stays on the driver whatever the number of root
   * paths (the reason and its numbers are in the header). The spec
   * session starts from here too.
   */
  def localBuilder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)

  /**
   * Default AQE pre-coalesce fan-out for a session that has NOT told us
   * its input size: a modest multiple of the core count. The fan-out is
   * not free — every map task writes `initialPartitionNum` buckets and
   * the coalesce planner walks them, a per-shuffle fixed cost that a
   * measured 150-query sf0.1 bench put at ~+37% query time under a
   * 1024-bucket ceiling (round 9) — so the blind default buys exactly
   * 4× headroom over the core floor (no absolute floor: a 4-core
   * user-facing session gets 16, not an unmeasured 128-bucket tax —
   * ADVICE r9), and paths that KNOW their input size buy real headroom
   * through [[sizeShuffleFor]], which scales the ceiling with the data
   * in both directions (down to the core floor on small inputs, up to
   * 4096 on probe-scale corpora).
   */
  def initialPartitionsFor(cores: Int): Int = 4 * cores

  /**
   * Size-derived shuffle width: one partition per 16 MiB of INPUT
   * data, floored at the core count and capped at `maxParts`. The
   * 16 MiB charge: compressed
   * parquet text decodes ~4× and the engine's widest hot paths (gram /
   * shingle streams) then expand the row count again, so 16 MiB of
   * input is roughly one healthy post-shuffle partition at the widest
   * point. Calibration is MEASURED, not assumed (SCALE.md round 9): at
   * 15M docs (2.9 GB input) this rule gives 182 partitions, squarely
   * in family with the 160-partition diagnosis run that recovered the
   * round-8 lm_score spill (645.7 → 498.6 s); at bench scale (17 MB) it
   * collapses to the core floor. A more aggressive rule (4 MiB → width
   * 235 at 5M docs) was measured and REJECTED: per-shuffle fan-out
   * overhead taxed every non-spilling op (+77% on the broadcast LM
   * scorer, +12% on the capstone) for one win on the worst spiller.
   */
  def shuffleWidthFor(inputBytes: Long, cores: Int, maxParts: Int = 4096): Int = {
    require(cores > 0 && maxParts >= cores)
    val bytesPerPartition = 16L << 20
    val byData = (inputBytes + bytesPerPartition - 1) / bytesPerPartition
    math.min(math.max(byData, cores.toLong), maxParts.toLong).toInt
  }

  /**
   * Apply [[shuffleWidthFor]] to a live session: ONE width, set as both
   * the shuffle-partition floor and the AQE pre-coalesce fan-out, so
   * every shuffle starts at the data-derived width and AQE coalesces
   * the small ones back down (downward adaptivity is nearly free;
   * upward fan-out is the measured tax above). A manual
   * SPARK_GRAFT_SHUFFLE_PARTITIONS pin wins — a diagnosis run must
   * measure the width it asked for. Returns the width in force.
   */
  def sizeShuffleFor(spark: SparkSession, inputBytes: Long): Int = {
    val cores = spark.sparkContext.defaultParallelism
    val width = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
      .getOrElse(shuffleWidthFor(inputBytes, cores))
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      width.toString)
    width
  }

  /** Bytes on disk under `path` (parquet dir or file) — the input-size
    * probe [[sizeShuffleFor]] feeds on. */
  def bytesOnDisk(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /**
   * Silence WindowExec's "No Partition Defined" warning — for HARNESS
   * mains only (bench/verify/probes), NOT the shared factory. Every
   * unpartitioned window in the engine runs over AGGREGATED cardinality
   * by design (the q07 rule; PlanShapeSpec pins each site), so in the
   * harness the warning only buries real warnings in the driver tail. A
   * literal partition key can't silence it on Spark 4
   * (EliminateWindowPartitions strips foldable keys). User-facing mains
   * and the test session keep the logger at WARN so a NEW accidental
   * unpartitioned window over non-aggregated cardinality still announces
   * itself at development time.
   */
  def quietWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** Apply the engine's config contract to any builder (cluster or local). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    // Shuffle-file reclamation is reference-driven (ContextCleaner), so
    // on a BIG heap a long multi-stage job barely GCs and dead stages'
    // shuffle files accumulate on scratch disk until it fills — measured
    // round 10: the 15M banded capstone at 48 GB heap died on "No space
    // left on device" after 72 min / ~111 stages with only the default
    // 30-min periodic GC. A 5-min sweep bounds the dead-file window at
    // negligible cost (one System.gc per 5 min); on a cluster the same
    // contract keeps executor scratch disks from paging dead shuffles.
    // Bench-tier receipt (round 11, same-day flag-flip sf0.1 pair): free
    // — see NOTES (30min 178.1 s, 5min 155.1 s).
    .config("spark.cleaner.periodicGC.interval", "5min")
    // events.ts test data is nanosecond parquet (see SparkEntry.t)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.ui.enabled", "false")
}
