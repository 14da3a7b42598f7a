package graft.sources

import org.apache.spark.sql.SparkSession

/** One place for the session configuration every graft entry point
  * shares, so a library user gets the same recommended settings the
  * mains and tests run with:
  *
  *  - AQE on (runtime re-plan: broadcast conversion, skew-join split,
  *    partition coalescing — the 100 TB safety net).
  *  - `spark.sql.shuffle.partitions` sized to the executor thread count
  *    (cores on local mode) rather than the 200 default.
  *  - UTC session timezone (oracle determinism — timestamps compare as
  *    instants, not local renderings).
  *  - parquet nanos-as-long (legacy testdata generations stored
  *    `events.ts` as TIMESTAMP(NANOS); the flag is a no-op on the
  *    current TIMESTAMP(MICROS) files — see [[Tables.nanosAsLongKey]]
  *    and the dtype-adaptive [[Tables.normalizeEventTs]]).
  *  - `file:` bound to [[NoForkLocalFileSystem]] / [[NoForkLocalFs]]:
  *    the stock local filesystem forks `chmod` per created file or
  *    directory, `readlink` per checkpoint rename and `ls -ld` per
  *    `listFiles` entry when the Hadoop native library is absent; these
  *    do the same through `java.nio`. Same checksums, `.crc` files,
  *    modes and renames. Only `file:` is rebound; `s3a:`/`hdfs:` keep
  *    their own classes.
  */
object GraftSession {

  /** Apply graft defaults to a builder; caller still picks master/app. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Coalesce floor (r19 optimization round, guide §2/§6). AQE's
      // partition coalescing is BYTE-based and floors post-shuffle
      // partitions at minPartitionSize = 1 MB, which under-provisions
      // this engine's CPU-dense operators (md5 shingling, Levenshtein
      // DP, set-intersection verification): a 5 MB shuffle of candidate
      // pairs — each row carrying minutes of per-row CPU at estate
      // scale — collapses to 5 partitions on a 32-thread executor. The
      // knob only BINDS when partitions are small — at 100 TB every
      // shuffle partition is advisory-sized, so lowering the floor is a
      // no-op there; what it buys is full-parallelism execution of the
      // CPU-dense tail whose bytes are small relative to its compute.
      // Dropped to 64 KB so parallelism-first coalescing (the default)
      // can actually reach the target parallelism on compact shuffles.
      // The SCAN-side analog (byte-based split packing of compact
      // parquet tables) is handled by Tables.spreadForCompute at the
      // specific CPU-dense call sites, not by a session-wide
      // openCostInBytes change.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCE", (64 * 1024).toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongKey, "true")
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
      // Checkpoint file checksums (4.1 default-on) write a checksum file
      // beside every state file. With stock RawLocalFileSystem each of
      // those forked a `readlink` shell on a local checkpoint dir (a
      // RocksDB transformWithState spec went from minutes-stuck to
      // seconds with this off); the `file:` binding above no longer
      // forks, but the setting stays off here. The feature targets
      // object-store corruption detection; on a real deployment's DFS
      // checkpoint dir, re-enable it.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** Local session for the driver-contract mains. */
  def local(cpus: Int): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** DURABLE-catalog local session: the Hive catalog backed by an
    * embedded Derby metastore at a caller-fixed path, so table
    * metadata — including BUCKET specs, which live only in the
    * catalog, never in the data files — survives process restarts.
    * A second JVM pointed at the same (warehouseDir, metastoreDir)
    * sees `tableExists` = true and probes the first JVM's bucketed
    * files with no rebuild and no Exchange above the bucketed scan
    * (receipt: PostingIndexCrossJvmSpec drives two real JVMs through
    * [[graft.tools.PostingIndexCli]]). Embedded Derby is
    * single-process — sequential JVMs share it; concurrent writers
    * need a server-grade metastore (Hive service/Glue), where the
    * SAME calling code applies unchanged. */
  def localDurable(cpus: Int, warehouseDir: String, metastoreDir: String): SparkSession = {
    // warehouse dir, metastore URL, and catalog implementation are
    // STATIC confs: getOrCreate silently ignores them when a session
    // already lives in this JVM, which would hand back the in-memory
    // catalog and quietly void the durability contract — fail loudly
    // instead of returning a session that can't keep the promise
    // stopped sessions stay in the thread-local/default holders, so
    // filter them out — only a LIVE session makes getOrCreate ignore
    // the static confs
    require(
      SparkSession.getActiveSession.filterNot(_.sparkContext.isStopped).isEmpty &&
        SparkSession.getDefaultSession.filterNot(_.sparkContext.isStopped).isEmpty,
      "localDurable requires a fresh JVM: a live SparkSession already exists " +
        "and its catalog/warehouse static confs cannot be changed after the fact")
    val s = configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metastoreDir;create=true")
      // embedded-metastore first-run bootstrap: let datanucleus create
      // the schema instead of requiring a pre-provisioned database
      .config("spark.hadoop.datanucleus.schema.autoCreateAll", "true")
      .config("spark.hadoop.hive.metastore.schema.verification", "false")
      .enableHiveSupport()
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
