package graft

import org.apache.spark.sql.SparkSession

/** One place for session construction so Verify, ExtractJob and the
  * tests agree on the engine contract:
  *
  *  - `spark.sql.shuffle.partitions` = cpu count — local mode; a real
  *    cluster deployment sizes this to ~2-3× total executor cores (or
  *    leaves it to AQE coalescing, which stays enabled here);
  *  - UTC session timezone (determinism contract, SURVEY.md §2.3);
  *  - `nanosAsLong` — kept so a TIMESTAMP(NANOS) events.parquet (the
  *    pre-round-8 testdata encoding, which the vectorized reader
  *    otherwise rejects) loads as an ns `LongType`; `graft.ops.T.tus`
  *    dispatches on the loaded physical type, so both the ns-long and
  *    the current `timestamp[us]` encodings work unchanged;
  *  - AQE left at defaults: runtime coalescing and skew-join splitting
  *    are part of the 100 TB story, not something to disable locally;
  *  - `fs.file.impl` pinned to [[NioLocalFileSystem]]: without Hadoop's
  *    native library the stock local filesystem forks a `chmod` for every
  *    file and directory it creates, about 20 per `Layout.writeDual` of
  *    an extract. As a builder conf it is in the context's Hadoop
  *    configuration from the start, so the `file:` instance the Hadoop
  *    `FileSystem` cache holds is this one. A cluster writing to S3A or
  *    HDFS is not affected;
  *  - `spark.sql.codegen.cache.maxEntries` = 1000 (Spark's default is
  *    100). The cache maps generated source to its compiled class, one
  *    per JVM. The `lake_queries` mix compiles about 192 distinct
  *    classes at sf0.01 and replays them in a cycle. A cache smaller
  *    than a cyclic working set evicts each class before its next use
  *    and never hits: with 100 entries every pass of the mix recompiled
  *    about 184 classes, and took 9.6–11.3 s against 6.9–8.0 s with
  *    every class cached. A full `Verify` pass at sf0.01 compiles 4,349
  *    distinct classes, but it runs each query once, so it reuses only
  *    the classes its queries share. An entry costs about 16 KB (6 KB
  *    of metaspace, 10 KB of heap), measured as the difference between
  *    1000 entries and 1 after three passes of the mix, so a full cache
  *    costs about 16 MB. It is a static SQL conf, read once per JVM
  *    when the first class compiles: `spark.conf.set` and session
  *    extensions cannot change it, so a cluster passes it at submit
  *    time (RUNBOOK, "Session"). `CodegenReuseSpec` guards it.
  */
object Sessions {
  def local(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
    .config("spark.sql.codegen.cache.maxEntries", "1000")
    .getOrCreate()
}
