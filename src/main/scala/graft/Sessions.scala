package graft

import org.apache.spark.sql.SparkSession

/** Session construction — one place for the engine's Spark configuration.
  *
  * Local defaults mirror what the cluster deployment would set, scaled to
  * one machine:
  *  - `shuffle.partitions` = cores (cluster: ~2-3x total executor cores;
  *    AQE coalesces down, so err high at scale). A global sort of at
  *    most AQE's partition floor (`coalescePartitions.minPartitionSize`,
  *    1 MB) skips the shuffle altogether: `plans.SmallSort`, installed
  *    through `GraftExtensions`, plans it as one task over `Coalesce 1`
  *    instead of a range exchange with its sampling job
  *  - AQE on (default in Spark 4): runtime re-plan, skew-join splitting,
  *    partition coalescing — the mechanisms this engine leans on instead
  *    of hand-scheduling (SURVEY §4)
  *  - `codegen.maxFields` raised so the wide sketch aggregates (64-min
  *    minhash, 60-sum simhash) stay in whole-stage codegen
  *  - UTC session timezone (the oracle compares timestamps)
  *
  * At 100 TB additionally set `spark.sql.files.maxPartitionBytes` (128-256
  * MB so a scan task's columns fit in memory), bucket the fact tables on
  * their join keys, and leave `autoBroadcastJoinThreshold` defaulted — the
  * query packs place explicit `broadcast()` hints where dimension sides
  * are known-small.
  */
object Sessions {

  /** `spark.broadcast.blockSize`. Spark serializes every broadcast (task
    * binaries, the Hadoop conf of each scan, broadcast join sides) into
    * chunks of this size, and allocates each chunk whole, so even a
    * one-int broadcast allocates one full chunk.
    *
    * G1 allocates any object of half a heap region or more as a
    * humongous object, straight into contiguous old-generation regions,
    * and a humongous allocation can start a GC cycle on its own ("G1
    * Humongous Allocation"). A region is the heap divided into about
    * 2048, rounded down to a power of two and never below 1 MB, so at
    * `-Xmx4g` it is 2 MB and Spark's 4 MB default chunk is humongous.
    * 256 KB stays below half of the smallest region, 512 KB, at every
    * heap size. A broadcast larger than this splits into more blocks. */
  val BroadcastBlockSize = "256k"

  def local(cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", "256")
      // Generated-class cache sized to the whole query surface (~100
      // queries x several stages); the 100-entry default thrashes when a
      // session runs the full pack and re-pays janino compilation.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // r17 OPT: ObjectHashAggregate falls back to SORT-based
      // aggregation past 128 in-memory keys per task — the
      // per-(flag,suppkey) partial sketch passes (3000 groups: qc7/qi9
      // qdigest/tdigest partials, qb1 HLL partials) each paid a full
      // input sort in that fallback (~1.0 s of a 1.9 s gate at sf0.1).
      // Graft's sketch states are KB-bounded by construction (buffered
      // inserts compress at fixed limits), so thousands of in-memory
      // states per task are safe at any scale — group count per task,
      // not data volume, is what this bounds; the sort fallback still
      // engages beyond it.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4096")
      .config("spark.broadcast.blockSize", BroadcastBlockSize)
      // analysis-time zoned-instant rewrite (literal-literal
      // comparisons must rewrite BEFORE constant folding; the
      // optimizer-rule installation covers driver-built sessions)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Presto's tpch-catalog spelling: SELECT ... FROM graft_tpch.tiny.orders
      .config("spark.sql.catalog.graft_tpch", "graft.sources.TpchCatalog")
      // Presto's jmx catalog: SELECT ... FROM graft_jmx.current.`java.lang:type=runtime`
      .config("spark.sql.catalog.graft_jmx", "graft.sources.JmxCatalog")
      // Presto's tpcds catalog: SELECT ... FROM graft_tpcds.tiny.store_sales
      .config("spark.sql.catalog.graft_tpcds", "graft.sources.TpcdsCatalog")
      // The writable memory catalog (presto-memory MemoryMetadata):
      // CREATE/INSERT/ALTER ... RENAME|DROP|ADD COLUMN / RENAME TO / DROP
      .config("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: benign WARNs (WindowExec "No Partition Defined" on
    // VALUES-scale semantic-lock windows) flood the driver's few-KB stdout
    // tail capture and have crowded out the Bench metric line.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
