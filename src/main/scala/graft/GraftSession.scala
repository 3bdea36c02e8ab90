package graft

import org.apache.spark.sql.SparkSession

/** Builds a SparkSession tuned for this engine — the ONE place graft sets
  * Spark conf: the library, `Bench`, `Verify`, the tools and the test
  * sessions all start here, so the plans the oracle gate verifies are the
  * plans a user runs.
  *
  * Local-mode defaults mirror what we would set per-executor on a real
  * cluster: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), shuffle partitions sized to the parallelism instead of the
  * 200 default, UTC session time so results are oracle-comparable. The
  * engine surface (TopK rewrite + strategy, SQL functions) is installed
  * through `spark.sql.extensions` — see [[GraftExtensions]].
  */
object GraftSession {
  private val ExtensionsKey = "spark.sql.extensions"
  private val GraftExt = classOf[GraftExtensions].getName

  /** `spark.sql.extensions` value that lists graft exactly once after every
    * extension `existing` already names (a builder `.config` REPLACES the
    * `spark.*` system property SparkConf would otherwise load).
    */
  def withGraftExtension(existing: Option[String]): String =
    (existing.toSeq.flatMap(listed) :+ GraftExt).distinct.mkString(",")

  private def listed(extensions: String): Seq[String] =
    extensions.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** `SPARK_GRAFT_CPUS` as a core count (`default` when unset); a value
    * that is not an integer fails here, naming the variable.
    */
  def envCpus(default: Int = 4): Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => default
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer core count, got '$v'"))
  }

  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config(ExtensionsKey, withGraftExtension(sys.props.get(ExtensionsKey)))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // SIZE-first coalescing (r17): with the default parallelismFirst=true
      // AQE keeps every post-shuffle stage at ~`cores` partitions no matter
      // how few bytes flow, so per-task fixed costs (launch, codegen setup,
      // state/commit IO, M×R shuffle blocks) scale with the core count —
      // measured as 1.5-2× wall on small exchanges at local[32] vs local[8]
      // on identical code. Deriving the partition count from DATA SIZE
      // (advisory 256 MB, the optimization guide's production starting
      // point) makes partitioning scale-adaptive: tiny exchanges collapse
      // to one task, 100 TB exchanges get ~bytes/256MB tasks. AQE never
      // coalesces a repartition(n, cols) with an explicit n, so CPU-heavy
      // stages over few bytes stay parallel only where an operator pins n:
      // Dedup.simhashPairs (pigeonhole pairing), Dedup.ngramJaccardPairs
      // (the quadratic block walk) and FuzzyJoin's blocked probe side. The
      // unnumbered repartition(col("id")) in Dedup.shingleHashes (so
      // minhashPairs' signatures) and Dedup.simhash IS coalesced: at 2,000
      // docs the minhash signature stage runs as one task.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
      // Sort-based shuffle writer for every multi-reducer exchange (r17).
      // The default bypass-merge writer (reducers <= 200) opens and writes
      // ONE FILE PER REDUCE PARTITION PER MAP TASK — M×R shuffle files,
      // the §2.2 block-explosion cost paid at file-create time. Measured
      // here: a 32-map-task stage cost 12 task-seconds at 32 shuffle
      // partitions vs 1.1 s with the sort writer (same plan) — and AQE
      // coalescing cannot help, because it merges partitions on READ
      // while the map side still writes R files per task. The sort-based
      // (serialized) writer emits one file per map task at any R; its
      // extra cost is a radix sort of partition ids — negligible at every
      // scale. Threshold 1 keeps the direct single-file path for R = 1.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Naive (no-timezone) parquet timestamps read as TIMESTAMP in the UTC
      // session, not TIMESTAMP_NTZ: the oracle (DuckDB) reads the same files
      // as naive timestamps, so the two engines agree value-for-value, and
      // time functions (unix_micros, windows, intervals) keep working no
      // matter which annotation a producer wrote.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Generated-code cache sized to graft's working set. Spark's default
      // LRU holds 100 classes; one perfbench catalog pass (8 queries)
      // cycles through about 145 distinct classes (about 250 with its
      // artifact builds), so with 100 entries every warm repeat missed and
      // recompiled all of them. 1024 entries hold catalog four times over at
      // about 42 KB of heap per entry (emptying a 2,381-entry cache freed
      // 98 MB of heap and 18 MB of metaspace), so at most about 45 MB. A
      // warm pass over the whole registry at sf0.01 needs about 2,400 and
      // is deliberately not covered: only Bench's sweep cycles through it,
      // and it runs each query's reps back to back. Static conf — it takes
      // effect when the JVM first generates code, which is why it lives here.
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.buffer.pageSize", s"${pageSizeBytes(Runtime.getRuntime.maxMemory, cores)}b")
      // Local files through NioRawLocalFileSystem: no forked chmod per
      // mkdir or create, no forked readlink per FileContext rename.
      // fs.file.impl serves FileSystem.get (readers, writers, the commit
      // protocol); the AbstractFileSystem key serves FileContext
      // (streaming checkpoints, state and metadata logs).
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      .config("spark.ui.enabled", "false")

  /** Tungsten page size for `cores` tasks in a heap of `maxHeapBytes`: the
    * largest power of two at most `maxHeapBytes / min(cores, 4) / 1024`,
    * clamped to [1 MB, 64 MB] (1 MB at 3 GB and 4 cores, 2 MB at 8 GB and
    * 4, 64 MB at 64 GB and 1). Spark's default (execution memory / cores /
    * 16) gives 16 MB pages at 3 GB and 4 cores, and every shuffle sorter,
    * aggregate map and external sorter takes at least one whole page, even
    * for a few KB of rows; under G1 each such page is a humongous object
    * allocated straight into the old generation.
    *
    * Derived, not fixed: a task may hold at most 8,192 pages, so a fixed
    * 1 MB page would fail a big-heap task that should spill. A task running
    * alone may take the whole execution pool (about 0.6 of the heap), which
    * is why the page stops shrinking past 4 cores: a page of at least
    * `maxHeapBytes / 8192` (after the power-of-two rounding) keeps the
    * whole pool under about 5,000 pages at any core count.
    */
  def pageSizeBytes(maxHeapBytes: Long, cores: Int): Long =
    math.min(64L << 20, math.max(1L << 20,
      java.lang.Long.highestOneBit(maxHeapBytes / math.min(math.max(1, cores), 4) / 1024)))

  /** The builder's session with WARN logging. Throws when the session's
    * SparkContext was created earlier without graft's extension — its
    * sessions would silently lack graft's SQL functions and TopK rewrite.
    */
  def get(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (!s.sparkContext.getConf.getOption(ExtensionsKey).exists(listed(_).contains(GraftExt)))
      throw new IllegalStateException(
        s"the running SparkContext was created without $ExtensionsKey=$GraftExt; " +
          "create it with that conf (or through GraftSession.builder) before calling GraftSession.get")
    s
  }
}
