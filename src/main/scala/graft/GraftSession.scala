package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory. Local defaults mirror what a cluster deploy
  * would set: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), shuffle partitions sized to parallelism (not the 200
  * default), UTC, and a broadcast threshold large enough that every
  * dimension table in the schema broadcasts.
  */
object GraftSession {
  def apply(master: String = "local[*]", cores: Int =
      Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // Spark's LRU cache of compiled generated classes is JVM-wide and
      // sized once, when the first class compiles (a static conf: only the
      // builder can set it). Its default of 100 entries is smaller than
      // graft's working sets: one pass of the benchmark's graph ops
      // (connectedComponents on both sides of the cap, PageRank,
      // minHashPairs) generates ≈150 distinct classes, so at 100 every
      // pass recompiled ≈120 of them through Janino and the JIT compiled
      // them again. The interactive workbench needs ≈75; a JVM that runs
      // all 239 queries (Bench, Verify, the tests) needs more. 1000 holds
      // each of these with headroom. An entry costs ≈27 KB of heap
      // (measured: dropping 167–179 entries freed 4.8–4.9 MB), so a full
      // cache stays under 30 MB.
      .config("spark.sql.codegen.cache.maxEntries", 1000)
      // The cache is keyed by the generated source, and a whole-stage
      // class is named after its codegen stage id, which AQE assigns in
      // stage-creation order: the same stage planned at another id (q232's
      // repeat runs, a stage that moves in another query) misses the cache
      // and compiles again. Without the id in the name such sources are
      // equal. Measured at sf0.1: q232's second run compiles 30 classes,
      // not 44, and first runs of the graph rows compile 5–20% fewer
      // (q226 176 → 146, q125 114 → 94).
      .config("spark.sql.codegen.useIdInClassName", "false")
      // TIMESTAMP(NANOS) parquet (the events table) reads as long;
      // Tables.load truncates to micros. Session-construction-time setting
      // — there is no per-read option for it, and mutating a shared session
      // per call is not acceptable (see Tables.load).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet (another testdata
      // flavor) would otherwise read as TIMESTAMP_NTZ: engine code
      // (unix_micros, watermarks, interval arithmetic) wants the session-TZ
      // TIMESTAMP type, and reading it natively (instead of casting after
      // the scan) keeps comparison pushdown on timestamp columns reaching
      // the parquet reader. Value-identical under the UTC session — the
      // same instants DuckDB computes from the naive micros.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Streaming checkpoint checksum files (4.1 default on) double every
      // state-store file op and serialize commits through an awaitResult
      // (measured: 31/32 executor threads idle, the stream-stream join
      // bottlenecked in ChecksumCheckpointFileManager — 240 s for a
      // 200k-row replay). Corruption detection pays for itself on object
      // stores, not on a local scratch checkpoint; a cluster deploy with
      // durable checkpoints can re-enable it.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // The default checkpoint manager goes through the FileContext API,
      // which is hardwired to RawLocalFileSystem — and RawLocal's rename
      // FORKS a `readlink` per state file (Shell.runCommand in thread
      // dumps; the same fork-bound class as the chmod story above). The
      // FileSystem-based manager routes through fs.file.impl =
      // NioLocalFileSystem instead: in-process rename, same atomicity on
      // a local FS. On HDFS/object stores, deploys keep the default.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      // Output-commit cost dominates small/partitioned writes on this
      // filesystem (each create/rename is expensive): v2 commits task
      // output straight to the destination (one rename per file instead
      // of two; the rename-safety v1 buys matters on object stores, not
      // here), and local .crc shadow files double the file ops for data
      // parquet already checksums per-page.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // Without libhadoop, stock RawLocalFileSystem FORKS a chmod per
      // created dir/file (~200 ms per fork here, serialized — thread
      // dumps showed Shell.runCommand dominating partitioned writes);
      // NioLocalFileSystem does the same permission op in-process.
      .config("spark.hadoop.fs.file.impl", "graft.hadoop.NioLocalFileSystem")
      // managed tables (the raw-SQL DML surface: CREATE TABLE / INSERT
      // INTO) live in a per-process scratch warehouse, not the repo cwd
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse-${ProcessHandle.current().pid()}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
