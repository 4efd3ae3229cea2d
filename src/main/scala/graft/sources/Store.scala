package graft.sources

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical storage layout for the corpus tables — where the 100 TB design
  * actually lives (SURVEY §4: "partition keyframes/embeddings by collection,
  * rely on AQE, columnar Parquet+ZSTD").
  *
  *  - Hive-style partitioning by a low-cardinality pruning column
  *    (`collection` ≙ the reference's search-space lists, `label`/cluster-id
  *    ≙ FAISS IVF cells): a partition predicate turns the ANN `nprobe` scan
  *    into directory pruning — the scan never opens non-probed clusters.
  *  - Bucketing by the join id: equi-joins between co-bucketed tables
  *    (embeddings x keyframes x text channels) plan with NO shuffle
  *    exchange on either side — the "co-located join" that replaces the
  *    reference's positional row alignment invariant.
  */
object Store {

  /** Hadoop options, scoped to ONE write, that route its `file:` paths
    * through [[ForkFreeLocalFileSystem]] (no `chmod` fork per created file,
    * `.crc` and directory). Disabling the `file:` cache for the write's
    * conf is what makes the per-write `fs.file.impl` take effect: the
    * cache is keyed by scheme and user, not by conf, and would hand back
    * the stock instance. Other schemes ignore both keys. */
  private val LocalWriteOptions = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `df.write` in overwrite mode with [[LocalWriteOptions]]: the one
    * writer every store write here goes through. Callers add the format
    * options (compression, partitioning) and the sink. */
  def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.mode(SaveMode.Overwrite).options(LocalWriteOptions)

  /** Single-file ZSTD parquet write of a small artifact (centroids,
    * codebooks, radii, per-cell stats). */
  def writeSingle(df: DataFrame, path: String): Unit =
    writer(df.coalesce(1)).option("compression", "zstd").parquet(path)

  /** Partitioned parquet write (ZSTD). `partitionCols` should be the pruning
    * dimension(s): collection, cluster id. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    writer(df)
      .option("compression", "zstd")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** [[writePartitioned]] for HIGH-cardinality partition columns (IVF cell
    * stores: nlist in the thousands): hash-repartition on the partition
    * column FIRST, so each cell's rows land in one task and the store gets
    * ~one file per cell. Written directly, a dynamic-partition write emits
    * a file per (task, cell) pair — at the 1M x d=768 flagship geometry
    * that is ~78k files, measured 805 s to write and 127 s for every
    * downstream full pass, vs 96 s / 2k files / 5.3 s repartitioned
    * (WriteProbe, BASELINE.md r14; the same fix the r13 incremental
    * landing path got). The shuffle this inserts is corpus-sized but
    * one-pass — an order of magnitude cheaper than the file-commit storm
    * it replaces. Skew note: one task per hot cell is the write-side
    * trade; build-time cell splitting ([[graft.operators.Similarity
    * .splitOversizedCells]]) bounds it where cell populations are Zipfy.
    *
    * The partition count is EXPLICIT (the session's
    * `spark.sql.shuffle.partitions`, the count a bare `repartition(col)`
    * starts from): AQE coalesces a column-only repartition of a small
    * corpus to 1-2 tasks, which then write every cell file almost
    * serially, and it never coalesces an explicit count. Same hash, same
    * count, so each cell still lands in exactly one task and one file. */
  def writeClustered(df: DataFrame, path: String, partitionCol: String): Unit =
    writePartitioned(
      df.repartition(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col(partitionCol)),
      path, partitionCol)

  /** Bucketed+sorted managed table: join-key-co-located storage. */
  def writeBucketed(
      df: DataFrame, table: String, buckets: Int, key: String): Unit =
    writeBucketedMulti(df, table, buckets, key)

  /** [[writeBucketed]] on a COMPOSITE key — the layout for stores whose
    * serving join is multi-column, e.g. the MinHash LSH bucket table
    * (`(band, bucket)`): the candidate-pair SELF-join of a table
    * co-bucketed on both columns plans with no shuffle exchange on
    * either side, so at corpus scale the only heavy stage of banded
    * candidate generation is the map-side bucket scan (StoreSpec pins
    * the exchange-free plan). */
  def writeBucketedMulti(
      df: DataFrame, table: String, buckets: Int, keys: String*): Unit = {
    require(keys.nonEmpty, "bucketed write needs at least one key column")
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Morton (Z-order) interleave of two non-negative int columns, `bits`
    * bits each — the multi-dimensional clustering key (Delta/Iceberg
    * Z-ORDER) as a plain codegen'd expression: rows range-partitioned and
    * sorted by `mortonKey` keep BOTH dimensions locally clustered, so
    * min/max footer stats prune parquet row groups for predicates on either
    * column. Pure bit arithmetic — engine-portable. */
  def mortonKey(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      (shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)

  /** Z-order-clustered write: range-repartition + in-partition sort by the
    * Morton key of (`colA`, `colB`), so parquet row-group min/max stats stay
    * tight on both columns. */
  def writeZOrdered(
      df: DataFrame, path: String, colA: String, colB: String,
      partitions: Int = 8): Unit = {
    val keyed = df.withColumn("__z", mortonKey(col(colA), col(colB)))
    writer(keyed
        .repartitionByRange(partitions, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z"))
      .option("compression", "zstd")
      .parquet(path)
  }
}
