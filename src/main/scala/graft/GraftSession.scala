package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session tuning — every entry point (Verify,
  * Bench, tests) builds through here so the knobs stay consistent.
  *
  * Scale-motivated settings:
  *  - `columnarReaderBatchSize=128`: the clips table carries a fat binary
  *    column (up to ~350 KB of audio per row at 44.1 kHz pcm16); the
  *    default 4096-row vectorized batch would reserve >100 MB per task and
  *    OOM a 32-thread executor. 128 rows x ~350 KB ~= 45 MB worst case.
  *  - small `maxPartitionBytes`/`openCostInBytes`: keep enough input splits
  *    that the CPU-heavy decode/extract scan stage can use all cores even
  *    inside a single micro-batch.
  *  - RocksDB state store: the mandated provider for streaming state.
  *  - FileSystem-based checkpoint file manager: Spark's default
  *    `FileContextBasedCheckpointFileManager` commits every checkpoint
  *    file with `FileContext.rename(src, dst, OVERWRITE)`, which resolves
  *    symlinks through `RawLocalFileSystem.getFileLinkStatus`. Without
  *    libhadoop that forks `readlink` once per path (source, target and
  *    both `.crc` sidecars), and every fork fails on its `file:` URI
  *    argument. A rename costs 15-18 ms that way, which dominated the
  *    per-trigger state commit (RocksDB changelog files under 1 KB) and
  *    the offset/commit log writes. Every caller checkpoints to local
  *    disk; an HDFS deployment should override
  *    `spark.sql.streaming.checkpointFileManagerClass` on the returned
  *    builder to get Spark's default back.
  *  - `fs.file.impl = ForkFreeLocalFileSystem`, a subclass of Hadoop's
  *    `LocalFileSystem`, for two reasons:
  *    - The bundled hive-exec jar registers Hive's `ProxyLocalFileSystem`
  *      for `file:`, and its `rename` refuses an existing target. Under
  *      the FileSystem-based manager that turns `createAtomic(f,
  *      overwriteIfPossible = true)` into a silent no-op when `f` exists,
  *      so a re-run batch would keep the previous attempt's RocksDB
  *      changelog and write a fresh checksum sidecar beside it. Hadoop's
  *      `LocalFileSystem` (which the Hive class extends, overriding only
  *      `rename`) replaces the target, and the subclass keeps its rename.
  *    - Without libhadoop, Hadoop's raw local layer sets the mode of
  *      every file it creates (the data file and its `.crc`) and of every
  *      directory it makes by forking `chmod`, a few ms per fork. The
  *      sink's delta parts, `_SUCCESS`, the offset/commit/source logs and
  *      the RocksDB changelog and checksum files all pay it. The subclass
  *      overrides only `setPermission`, as one in-JVM `chmod(2)` that
  *      leaves the mode GNU `chmod %04o` would: a file gets exactly the
  *      permission's 10 bits, a directory also keeps its setuid/setgid
  *      bits. A JDK without the `unix` attribute view falls back to
  *      Hadoop's command. Neither path fsyncs, so durability is
  *      unchanged. HDFS and object stores do not use this class.
  *    Hadoop caches one `file:` FileSystem per JVM, so this holds only
  *    when the session's conf creates it first; `StopResumeSpec` checks
  *    the class, the modes and the overwrite on the test session.
  *  - AQE on: runtime coalescing/skew-join handling.
  *
  * Durability of the FileSystem-based manager against the default, on a
  * local filesystem:
  *  - Process kill: both managers write a temp file, then `rename(2)` it
  *    over the target, so both replace the target atomically. A killed
  *    process leaves the old file or the new one, never a torn one.
  *  - Power loss: neither manager fsyncs the file or its directory, so
  *    both are equally exposed.
  *  - The `.crc` sidecar: on both managers it is renamed after the data
  *    file, so a kill between the two renames leaves the same state.
  *  - Writes with `overwriteIfPossible = false`: the FileSystem-based
  *    manager checks that the target does not exist, then renames. The
  *    check and the rename are two steps, which is safe with one writer
  *    per checkpoint; Spark enforces that for a running query.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int, appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // the engine's Catalyst extensions (optimizer rules + the as-of join
      // planner strategy) — same line a spark-submit user would pass
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "128")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // changelog checkpointing: per-batch state commit uploads the delta,
      // not a full RocksDB snapshot — cuts fixed per-micro-batch cost.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // local-disk checkpoints: plain FileSystem.rename, no readlink fork
      // per commit (see the durability note above)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)

  /** Local CPU count for the tools: `SPARK_GRAFT_CPUS`, else the JVM's
    * available processors. */
  def hostCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def create(master: String, shufflePartitions: Int, appName: String = "graft"): SparkSession = {
    val s = builder(master, shufflePartitions, appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }
}
