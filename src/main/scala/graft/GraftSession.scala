package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration this engine assumes everywhere:
  * UTC session time zone (oracle parity), AQE on (runtime coalesce + skew
  * handling — the local[32] stand-in for a 1000-executor cluster), and a
  * shuffle-partition count sized for the local harness rather than the
  * 200-partition default.
  *
  * File listing stays on the driver. Past
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` subdirectories
  * (default 32) Spark lists a directory in a job, one task per
  * subdirectory, and each task spends 13-25 ms, mostly deserializing
  * itself, to list one directory in well under a millisecond. The post store has one `key=`
  * dir per feed, so every store read crossed it. Measured on a 4-core VM,
  * `local[4]`, a parquet read over N `key=` dirs:
  *
  * | key dirs x files | listing job | driver |
  * |---|---|---|
  * | 64 x 5 | 578 ms | 40 ms |
  * | 108 x 5 | 664 ms | 60 ms |
  * | 200 x 16 | 1 306 ms | 160 ms |
  * | 1 000 x 4 | 7 249 ms | 306 ms |
  * | 10 000 x 1 | 62 811 ms | 2 244 ms |
  *
  * There is no crossover: the gap grows with the store. The store plane
  * only runs on local and HDFS filesystems
  * ([[graft.streaming.StoreFs.requireAtomicRename]]), and on a single box
  * every task runs in the same few JVMs, so the threshold is set past any
  * directory count and a listing is never a job.
  *
  * Never leave a cached plan over the store path across an append to it:
  * the append refreshes every cached plan that reads the path, and the
  * refresh lists the whole store again
  * ([[graft.streaming.Ingest.appendNew]] checkpoints instead).
  *
  * The `file:` scheme is named here, for both Hadoop APIs
  * (`fs.file.impl` for `FileSystem`, `fs.AbstractFileSystem.file.impl`
  * for `FileContext`): [[graft.streaming.ForkFreeLocalFileSystem]] and
  * [[graft.streaming.ForkFreeLocalFs]], Hadoop's checksummed local
  * filesystem with `chmod` and `readlink` answered in the JVM. Without
  * libhadoop the stock one forks a `chmod` for every file and directory
  * it creates and a `readlink` for both paths of every `FileContext`
  * rename. One 15 s `feed` run of perfbench on a 4-core VM started about
  * 2 200 of them, 35 from the stream thread and 30-110 from the write
  * task in each live batch, each a fork-and-wait. Hadoop caches one
  * `FileSystem` per scheme, authority and user, not per class, so the
  * session must be built before anything in the JVM asks Hadoop for a
  * `file:` filesystem with a stock configuration; `ForkFreeLocalFsSpec`
  * checks that the shared test JVM resolves to the fork-free class.
  */
object GraftSession {
  def local(threads: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    // every main honors SPARK_GRAFT_MASTER (e.g. local-cluster[4,8,4096]
    // for multi-executor sittings) — the smokes used to pin local[n] and
    // needed their own plumbing for the multi-JVM proofs
    val b0 = SparkSession
      .builder()
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.streaming.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.streaming.ForkFreeLocalFs].getName)
      .config("spark.driver.host", "127.0.0.1")
    withMaster(b0, s"local[$threads]").getOrCreate()
  }

  /** Resolve the harness master and apply the executor-side config a
    * multi-executor master needs. `SPARK_GRAFT_MASTER` overrides the
    * caller's default (the driver contract stays `local[n]`); setting it
    * to e.g. `local-cluster[4,8,4096]` runs the same mains with four
    * separate executor JVMs — the closest single-box stand-in for a real
    * cluster, exercising task/closure serialization, remote block fetch,
    * and executor-side class loading that `local[n]` never touches.
    *
    * For local-cluster masters the worker launches executor JVMs from a
    * Spark home, and those JVMs need (a) the app classes — shipped via
    * `spark.executor.extraClassPath` from the driver's own classpath,
    * since standalone workers don't stage sbt-built classes — and (b) the
    * same JDK-17 `--add-opens` flags build.sbt gives the driver JVM.
    */
  def withMaster(b: SparkSession.Builder, default: String): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", default)
    if (!master.startsWith("local-cluster")) b.master(master)
    else {
      // LocalSparkCluster's in-process Worker resolves the executor launch
      // scripts from spark.test.home (falling back to SPARK_HOME env)
      if (!sys.props.contains("spark.test.home") && !sys.env.contains("SPARK_HOME"))
        sys.props("spark.test.home") = "/opt/spark"
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
      ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
      b.master(master)
        .config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions", addOpens)
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
        .config("spark.driver.host", "127.0.0.1")
    }
  }

  /** Apply the engine's expected runtime confs to an externally-created
    * session (Verify/Bench own their builder per the driver contract). */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark
  }
}
