package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Data-layout sink: hive-partitioned, sorted parquet. The reference has
  * no storage layer (SURVEY §2.1), but at lake scale the LAYOUT of what
  * you write decides the cost of every later scan: directory partitioning
  * turns predicates on the partition key into pruned listings (no file
  * even opened), and sorting within files tightens parquet row-group
  * min/max bounds so range predicates skip pages.
  *
  * Scale posture: hash-repartitioning on the partition columns gives
  * each output directory exactly one writer task (without it, every task
  * writes a file into every partition — the small-files explosion);
  * `sortWithinPartitions` orders rows inside each writer task, which is
  * exactly the unit parquet statistics cover. No global sort, no driver
  * involvement.
  *
  * The repartition takes an explicit count, `spark.sql.shuffle.partitions`
  * (what a non-adaptive plan uses anyway). A bare `repartition(cols)` lets
  * AQE coalesce a small shuffle into one task, which then writes every
  * directory's file in turn — and a partitioned write costs per FILE
  * (a commit rename and permission calls per file on a local or Hadoop
  * FS, a PUT and a commit per object on an object store), not per byte.
  * With a numbered repartition AQE keeps the count, so the directories
  * spread over all writer tasks; file count and bytes are unchanged.
  */
object Layout {

  /** The shared repartition → sort → partitioned-writer chain of
    * [[writePartitioned]], [[appendPartitioned]] and [[compact]]. */
  private def partitionedWriter(df: DataFrame, partitionBy: Seq[String],
      sortBy: Seq[String]): DataFrameWriter[Row] = {
    require(partitionBy.nonEmpty, "need at least one partition column")
    val writers = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(writers, partitionBy.map(col): _*)
      .sortWithinPartitions((partitionBy ++ sortBy).map(col): _*)
      .write
      .partitionBy(partitionBy: _*)
  }

  /** Writes `df` under `path` partitioned by `partitionBy`, each file
    * sorted by `sortBy`. Overwrites. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionBy: Seq[String], sortBy: Seq[String]): Unit =
    partitionedWriter(df, partitionBy, sortBy).mode("overwrite").parquet(path)

  /** Appends to an existing [[writePartitioned]] layout — the index
    * MAINTENANCE path: a continuously-ingesting pipeline encodes each
    * day's new rows with the FIXED trained model and appends them to
    * the partitioned index instead of rebuilding it (`mode("append")`
    * only adds files — existing partition directories gain new files,
    * new key values gain new directories; nothing is rewritten, so
    * the append costs O(delta), not O(corpus)). Readers see the union;
    * q_ann_layout_append proves search equality vs a full rebuild.
    * Same `repartition` discipline as the initial write: the DELTA gets
    * one writer per touched partition (small-files growth is one file
    * per partition per append — compact periodically at lake scale). */
  def appendPartitioned(df: DataFrame, path: String,
                        partitionBy: Seq[String], sortBy: Seq[String]): Unit =
    partitionedWriter(df, partitionBy, sortBy).mode("append").parquet(path)

  /** Reads a [[writePartitioned]] layout back. Predicates on the
    * partition columns prune directories (check `.explain` for
    * `PartitionFilters`); predicates on `sortBy` columns skip row
    * groups via parquet statistics. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compacts partitions that have accumulated more than `maxFragments`
    * files — the maintenance step [[appendPartitioned]]'s contract
    * defers ("one file per partition per append; compact periodically"):
    * a daily-append index otherwise opens O(days) fragments per probed
    * cell, and read amplification eats the pruning win.
    *
    * Mechanics: one driver-side listing finds the fragmented leaf
    * directories (bounded by the PARTITION count — for the ANN index
    * that is `nlist` directories, never the row count); only those
    * partitions are read back, re-sorted, and rewritten through Spark's
    * DYNAMIC partition overwrite, which replaces exactly the partition
    * directories present in the written frame — untouched partitions
    * keep their files byte-for-byte, and the rewrite costs
    * O(fragmented rows), not O(index). Readers racing the commit can
    * see a partition mid-replace (the parquet-directory layout has no
    * transaction log — a lakehouse table format adds one; this is the
    * same trade `appendPartitioned` documents).
    *
    * @return the partition directory names that were compacted (empty =
    *         nothing exceeded `maxFragments`)
    */
  def compact(spark: SparkSession, path: String,
              partitionBy: Seq[String], sortBy: Seq[String],
              maxFragments: Int = 4): Seq[String] = {
    require(partitionBy.nonEmpty, "need at least one partition column")
    require(maxFragments >= 1, "maxFragments >= 1")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // leaf partition dirs at depth |partitionBy| (hive-style k=v names)
    def leaves(p: org.apache.hadoop.fs.Path, depth: Int)
        : Seq[org.apache.hadoop.fs.Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.contains("="))
        .flatMap(leaves(_, depth - 1))
    val fragmented = leaves(root, partitionBy.length).filter { d =>
      fs.listStatus(d).count(s => s.isFile &&
        !s.getPath.getName.startsWith("_")) > maxFragments
    }
    if (fragmented.isEmpty) return Nil
    // partition-value tuples of the fragmented dirs, as an OR-of-ANDs
    // filter (string-compared: hive dir names are the string forms)
    def values(d: org.apache.hadoop.fs.Path): Seq[(String, String)] = {
      var p = d
      val out = List.newBuilder[(String, String)]
      while (p != null && p.getName.contains("=")) {
        val Array(k, v) = p.getName.split("=", 2)
        out += ((k, v))
        p = p.getParent
      }
      out.result()
    }
    val pred = fragmented.map { d =>
      values(d).map { case (k, v) => col(k).cast("string") === v }
        .reduce(_ && _)
    }.reduce(_ || _)
    // dynamic overwrite as a per-write option: setting the session conf
    // around the write would leak into concurrent queries of the session
    partitionedWriter(spark.read.parquet(path).filter(pred), partitionBy, sortBy)
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)
    fragmented.map(_.getName)
  }

  /** Bucketed + sorted table layout: the SHUFFLE-AMORTIZING sink for
    * tables that are repeatedly joined or interval-swept on the same
    * key. A table written `bucketBy(n, key).sortBy(key, sortBy…)` with
    * ONE file per bucket satisfies a join/sweep's required distribution
    * AND ordering straight off the scan — `BucketingSpecs` proves the
    * custom `IntervalSweepJoinExec` then plans with ZERO Exchange and
    * ZERO Sort over two such tables (the write pays the shuffle once;
    * every subsequent join of any two co-bucketed tables skips both).
    *
    * The `repartition(n, key)` below is what guarantees one file per
    * bucket — without it every task writes into every bucket, and
    * multi-file buckets both explode the file count and (SPARK-28595)
    * forfeit the scan's sort order. Reading the order back requires the
    * session conf `spark.sql.legacy.bucketedTableScan.outputOrdering =
    * true`; the distribution (Exchange elimination) needs no conf.
    */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
                    bucketKey: String, sortBy: Seq[String]): Unit = {
    require(numBuckets > 0, "numBuckets > 0")
    df.repartition(numBuckets, col(bucketKey))
      .write.mode("overwrite")
      .bucketBy(numBuckets, bucketKey)
      .sortBy(bucketKey, sortBy: _*)
      .saveAsTable(table)
  }
}
