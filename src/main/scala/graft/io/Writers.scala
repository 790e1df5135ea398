package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Sink operators (SURVEY.md §2.1 S5–S7).
  *
  * Parquet writers mirror the reference's two layouts
  * (parquet_writer.py:10-14 flat; main.py:360-365 partitioned). The
  * partitioned writer clusters by the partition keys first so each
  * hive directory receives one file instead of one-per-task — at
  * 1000 executors × thousands of partitions the naive form melts the
  * namenode/object store with tiny files.
  */
object Writers {

  /** S5 — flat overwrite. */
  def writeFlat(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** S6 — hive-partitioned overwrite, small-files-safe. Uses the
    * default v1 committer: with rows clustered by partition key each
    * hive directory lives in exactly one task's output, so the driver
    * merge is one cheap rename per directory (measured faster than
    * v2's per-file task-side moves on local FS; on S3A prefer the
    * magic committer instead). The other many-small-files cost
    * locally is Hadoop CRC sidecars — disabled in every
    * `GraftSession.local` session (`NoChecksumLocalFileSystem`).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       codec: String = "snappy",
                       numTasks: Int = 0): Unit = {
    // Explicit partition count: with repartition(cols) alone AQE
    // coalesces the (byte-wise tiny) shuffle to 1-2 tasks, which then
    // write thousands of partition directories serially — the cost of
    // a hive-partitioned write is per-FILE, not per-byte, so keep the
    // writer task count pinned. Default = cluster parallelism (tasks
    // spread across machines, each with its own IO path). numTasks
    // overrides it when all writers share one storage endpoint: the
    // writer sweep recorded in BASELINE.md shows a single local disk
    // saturates at ~8 concurrent parquet writers (4.3 s vs 5.9-6.4 s
    // at 32 tasks for 2100 dirs) — contention, not CPU, is the floor.
    val n = if (numTasks > 0) numTasks
            else df.sparkSession.sparkContext.defaultParallelism
    df.repartition(n, partitionCols.map(col): _*)
      .write.mode("overwrite")
      // snappy: per-file cost is writer+codec init when partitions are
      // fine-grained; zstd's context setup is ~2x snappy's per file.
      // For fat single-dir outputs where size wins, pass codec=zstd.
      .option("compression", codec)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** S7 — JDBC append (database_write.py:11-14). Untouched by tests
    * (no database in this container); the call shape is the contract.
    */
  def writeJdbcAppend(df: DataFrame, url: String, table: String,
                      props: java.util.Properties): Unit =
    df.write.mode("append").jdbc(url, table, props)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
