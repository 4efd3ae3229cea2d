package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ReadShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

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
  *
  * Every store write goes through [[writer]], and a store the engine wrote
  * is read back through [[read]]: both reach local files through
  * [[ForkFreeLocalFileSystem]], and a read runs no Spark job.
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
    * the exchange-free plan). Through [[writer]] like every store write;
    * a managed table keeps the writer's options as storage properties,
    * so its later scans open files through the same fork-free filesystem. */
  def writeBucketedMulti(
      df: DataFrame, table: String, buckets: Int, keys: String*): Unit = {
    require(keys.nonEmpty, "bucketed write needs at least one key column")
    writer(df)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** `spark.read.parquet(path)` without a Spark job. For a `file:` store
    * the leaf files are listed in process through
    * [[ForkFreeLocalFileSystem]] (whose statuses read mode and owner
    * through `java.nio`, not a forked `ls`) with Spark's hidden-file rule,
    * and handed to Spark as a pre-listed `InMemoryFileIndex`, so partition
    * inference and pruning (`cluster = 5` reads one directory) work as in
    * the stock reader. The stock reader instead lists a store with more
    * than 32 leaf directories through a Spark job (179 tasks, about 1 s
    * at local[4] for an nlist=179 cell store) and infers the schema
    * through another. `schema` is the written frame's schema, when the
    * caller has it; without it the schema is read from one footer in
    * process, as the stock reader reads it.
    *
    * Anything else goes to `spark.read.parquet` as it is, so it reads and
    * fails as the stock reader does: another URI scheme, a glob, a path
    * that does not exist or is a file, a streaming sink (its
    * `_spark_metadata` log names the committed files), and a schema-less
    * store with no data file (StoreSpec pins the failure paths). */
  def read(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    listLocal(spark, path) match {
      case Some((root, files)) if schema.isDefined || files.nonEmpty =>
        val conf = SQLConf.get
        val userSchema = schema.orElse {
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromStatus(files.head, spark.sparkContext.hadoopConfiguration))
          val footer = try new Footer(files.head.getPath, reader.getFooter)
            finally reader.close()
          Some(ParquetFileFormat.readSchemaFromFooter(footer,
            new ParquetToSparkSchemaConverter(conf)))
        }.map(ReadShim.asNullable(_))
        val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, userSchema,
          new Listed(root, files))
        val parts = index.partitionSchema
        val resolver = conf.resolver
        val data = StructType(userSchema.get.filterNot(f =>
          parts.exists(p => resolver(p.name, f.name))))
        spark.baseRelationToDataFrame(HadoopFsRelation(index, parts, data,
          bucketSpec = None, new ParquetFileFormat, Map.empty)(spark))
      case _ => schema.fold(spark.read)(spark.read.schema).parquet(path)
    }

  /** The qualified root and its visible leaf files, listed in process,
    * when `path` is an existing local directory named without a glob. */
  private def listLocal(spark: SparkSession, path: String): Option[(Path, Array[FileStatus])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val scheme = Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file" || path.exists("*?[{\\".contains(_))) return None
    val fs = new ForkFreeLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), conf)
    val root = fs.makeQualified(p)
    val top = try fs.getFileStatus(root) catch { case _: java.io.FileNotFoundException => null }
    // a streaming sink's root: the stock reader reads its committed files
    // from the `_spark_metadata` log, not from a listing
    if (top == null || !top.isDirectory || fs.exists(new Path(root, "_spark_metadata")))
      return None
    val out = Array.newBuilder[FileStatus]
    def walk(dir: Path): Unit =
      fs.listStatus(dir).sortBy(_.getPath.getName)
        .filterNot(s => ReadShim.hiddenName(s.getPath.getName))
        .foreach(s => if (s.isDirectory) walk(s.getPath) else out += s)
    walk(root)
    Some(root -> out.result())
  }

  /** A one-root `FileStatusCache` holding a listing made before the index
    * exists: the index's first listing is a cache hit. Invalidating it
    * (a `refresh()`) drops the listing, so a refreshed index lists the
    * store again as any file index does. */
  private final class Listed(root: Path, files: Array[FileStatus]) extends FileStatusCache {
    @volatile private var held: Option[Array[FileStatus]] = Some(files)
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      if (path == root) held else None
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = held = None
  }

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
