package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{ForkFreeLocalFileSystem, Store}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)

  /** Every file and directory under `root` -> its mode, keyed by the path
    * relative to `root` with the per-write part-file UUID masked. */
  private def layout(root: String): Map[String, Int] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.map { p =>
      base.relativize(p).toString.replaceAll(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>") -> mode(p)
    }.toMap
    finally walk.close()
  }

  test("Store writes match a stock write: rows, file and directory modes, .crc files") {
    val emb = Tables(spark, TestSpark.sfDir, "embeddings").select(col("vec_id"), col("label"))
    val tmp = Files.createTempDirectory("graft_forkfree")
    val (viaStore, stock) = (s"$tmp/store", s"$tmp/stock")
    // the raw layer counts the bytes its streams write: a rise proves the
    // write's tasks really went through the fork-free filesystem
    @annotation.nowarn("cat=deprecation")
    def forkFreeBytes = FileSystem.getStatistics("file",
      classOf[ForkFreeLocalFileSystem.Raw]).getBytesWritten
    val before = forkFreeBytes
    Store.writePartitioned(emb, viaStore, "label")
    assert(forkFreeBytes > before, "the Store write did not use ForkFreeLocalFileSystem")
    emb.write.mode("overwrite").option("compression", "zstd")
      .partitionBy("label").parquet(stock)
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    assert(rows(viaStore) === rows(stock))
    val got = layout(viaStore)
    assert(got === layout(stock))
    assert(got.keys.exists(k => k.startsWith("label=") && k.endsWith(".parquet.crc")))
    // the option is scoped to the write: the shared Hadoop conf still
    // resolves file: paths to the stock filesystem
    assert(!new Path(tmp.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[ForkFreeLocalFileSystem])

    // IncrementalIndex's landing appends and its compaction go through the
    // same writer, and leave what a stock write of the store's rows leaves
    val all = Tables(spark, TestSpark.sfDir, "embeddings")
    val (landing, sink) = (s"$tmp/landing", s"$tmp/sink")
    def modesByKind(root: String): Map[String, Set[Int]] = layout(root).toSeq.collect {
      case (k, m) if k.endsWith(".crc") => "crc" -> m
      case (k, m) if k.endsWith(".parquet") => "parquet" -> m
      case (k, m) if Files.isDirectory(Paths.get(root, k)) => "dir" -> m
    }.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    def dataFilesWithoutCrc(root: String): Seq[java.nio.file.Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .filterNot(p => Files.exists(p.resolveSibling(s".${p.getFileName}.crc"))).toSeq
      finally walk.close()
    }
    def matchesStock(step: String)(write: => Unit): Unit = {
      val before = forkFreeBytes
      write
      assert(forkFreeBytes > before, s"$step did not use ForkFreeLocalFileSystem")
      val copy = s"$tmp/stock_$step"
      spark.read.parquet(sink).write.partitionBy("batch_id", "ivf_cell").parquet(copy)
      assert(rows(sink) === rows(copy), step)
      assert(modesByKind(sink) === modesByKind(copy), step)
      assert(dataFilesWithoutCrc(sink).isEmpty, step)
    }
    for (b <- 0 until 2) {
      all.filter(col("vec_id") % 2 === b).limit(20).write.mode("append").parquet(landing)
      matchesStock(s"landing$b") {
        graft.streaming.IncrementalIndex.updateDenseIndex(spark, landing, sink,
          s"$tmp/ckpt", graft.operators.Similarity.centroids(all),
          centroidIdCol = "label", cellCol = "ivf_cell")
      }
    }
    matchesStock("compaction") {
      graft.streaming.IncrementalIndex.compactCells(spark, sink, cellCol = "ivf_cell")
    }
    assert(rows(sink).size === 40)
  }

  test("ForkFreeLocalFileSystem sets modes in-process; a sticky bit goes through Hadoop") {
    val fs = new ForkFreeLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val dir = Files.createTempDirectory("graft_ffmode")
    val f = Files.write(dir.resolve("f"), Array[Byte](1))
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    for (m <- Seq("640", "600", "755", "444")) {
      fs.setPermission(new Path(f.toUri), perm(m))
      assert(mode(f) === Integer.parseInt(m, 8), s"mode $m")
    }
    fs.setPermission(new Path(dir.toUri), perm("1755"))
    assert(mode(dir) === Integer.parseInt("1755", 8))
  }

  /** A 179-cell store (the 2k x d=64 build's nlist) of 2,000 rows, written
    * as the dense build writes its cell stores, and the written schema. */
  private def cellStore(): (String, org.apache.spark.sql.types.StructType) = {
    val rows = spark.range(2000).select(col("id").as("vec_id"),
      (col("id") % 179).cast("int").as("cluster"),
      array((0 until 4).map(i => (col("id") * (i + 1) % 97).cast("float")): _*).as("v"))
    val path = Files.createTempDirectory("graft_read").resolve("cells").toString
    Store.writeClustered(rows, path, "cluster")
    (path, rows.schema)
  }

  /** The jobs `body` starts, counted by a listener on this thread's group. */
  private def jobsOf[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"store-read-${System.nanoTime}"
    val n = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => n.add(p.getProperty("callSite.short")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      sc.setJobDescription("marker")
      spark.range(1).count() // events arrive in job order: the marker's is last
      (out, n.asScala.toSeq.dropRight(1))
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  private def sortedRows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("Store.read of a 179-cell store runs no job and reads as spark.read.parquet reads") {
    val (path, schema) = cellStore()
    val stock = spark.read.parquet(path)
    for (given <- Seq(Some(schema), None)) {
      val (read, jobs) = jobsOf(Store.read(spark, path, given))
      assert(jobs.isEmpty, s"schema=$given")
      assert(read.schema === stock.schema, s"schema=$given")
      assert(sortedRows(read) === sortedRows(stock), s"schema=$given")
    }
    // a cell predicate prunes to that cell's directory, as the stock read does
    val five = Store.read(spark, path, Some(schema)).filter(col("cluster") === 5)
    assert(five.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(cluster"))
    val files = five.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.length === 1 && files.head.contains("/cluster=5/"))
    assert(sortedRows(five) === sortedRows(stock.filter(col("cluster") === 5)))
  }

  test("Store.read failure paths read or fail as spark.read.parquet does") {
    def condition(body: => Any): String =
      try { body; "no error" } catch {
        case e: org.apache.spark.SparkThrowable => e.getCondition
        case e: Exception => Option(e.getCause).collect {
          case c: org.apache.spark.SparkThrowable => c.getCondition
        }.getOrElse(e.getClass.getName)
      }
    val tmp = Files.createTempDirectory("graft_readfail")
    // a missing path: the stock reader's named error, message and all
    val missing = s"$tmp/none"
    val stockErr = intercept[AnalysisException](spark.read.parquet(missing))
    val err = intercept[AnalysisException](Store.read(spark, missing))
    assert(err.getCondition === "PATH_NOT_FOUND")
    assert(err.getMessage === stockErr.getMessage)
    // a directory with no data file: schema-less, the stock inference error;
    // with the written schema, an empty frame of that schema
    val (path, schema) = cellStore()
    val empty = Files.createDirectories(tmp.resolve("empty/cluster=3"))
    assert(condition(Store.read(spark, empty.getParent.toString)) ===
      condition(spark.read.parquet(empty.getParent.toString)))
    assert(condition(Store.read(spark, empty.getParent.toString)) === "UNABLE_TO_INFER_SCHEMA")
    val none = Store.read(spark, empty.getParent.toString, Some(schema))
    assert(none.count() === 0 &&
      none.schema === spark.read.schema(schema).parquet(empty.getParent.toString).schema)
    // an empty cell directory and a cell whose parquet file was deleted
    // (its .crc left behind) read as the stock reader reads them
    Files.createDirectories(Paths.get(path, "cluster=999"))
    val cell7 = Paths.get(path, "cluster=7")
    Files.list(cell7).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(Files.delete)
    val stock = spark.read.parquet(path)
    for (given <- Seq(Some(schema), None)) {
      val read = Store.read(spark, path, given)
      assert(read.schema === stock.schema)
      assert(sortedRows(read) === sortedRows(stock))
      assert(read.filter(col("cluster") === 7).count() === 0)
    }
    // a streaming sink's root reads its committed files from the
    // `_spark_metadata` log (here: none), as the stock reader does
    Files.createDirectories(Paths.get(path, "_spark_metadata"))
    assert(Store.read(spark, path, Some(schema)).count() ===
      spark.read.schema(schema).parquet(path).count())
    // a file deleted after the frame was made fails its scan with the
    // stock reader's named error
    val (stale, _) = cellStore()
    val (viaStore, viaStock) = (Store.read(spark, stale), spark.read.parquet(stale))
    Files.list(Paths.get(stale, "cluster=11")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).foreach(Files.delete)
    val failed = condition(viaStore.collect())
    assert(failed === condition(viaStock.collect()))
    assert(failed.startsWith("FAILED_READ_FILE"), failed)
  }

  test("ForkFreeLocalFileSystem statuses equal the stock statuses, read without forking") {
    val (path, _) = cellStore()
    val conf = new Configuration()
    val stock = new org.apache.hadoop.fs.LocalFileSystem
    stock.initialize(java.net.URI.create("file:///"), conf)
    val ff = new ForkFreeLocalFileSystem
    ff.initialize(java.net.URI.create("file:///"), conf)
    val cell = new Path(s"$path/cluster=5")
    val file = ff.listStatus(cell).head.getPath
    for (p <- Seq(new Path(path), cell, file)) {
      val (a, b) = (ff.getFileStatus(p), stock.getFileStatus(p))
      assert(a === b) // FileStatus equality is the path
      assert((a.getLen, a.isDirectory, a.getReplication, a.getBlockSize, a.getModificationTime,
        a.getPermission, a.getOwner, a.getGroup) === ((b.getLen, b.isDirectory,
        b.getReplication, b.getBlockSize, b.getModificationTime, b.getPermission,
        b.getOwner, b.getGroup)), p)
      assert(ff.listStatus(p).map(_.getPath).toSeq === stock.listStatus(p).map(_.getPath).toSeq)
    }
    intercept[java.io.FileNotFoundException](ff.getFileStatus(new Path(s"$path/none")))
    intercept[java.io.FileNotFoundException](ff.listStatus(new Path(s"$path/none")))
  }

  test("partitioned write prunes non-matching clusters at scan time") {
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_part").toString
    Store.writePartitioned(emb, path, "label")
    val pruned = spark.read.parquet(path).filter(col("label") === 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    // only the label=3 directory is read
    val files = pruned.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("label=3")))
  }

  test("morton key interleaves bits; z-ordered files stay tight on BOTH dims") {
    import spark.implicits._
    // morton(3, 1): x bits at even positions, y bits at odd -> 1+2+4 = 7
    val m = Seq((3, 1)).toDF("a", "b")
      .select(Store.mortonKey(col("a"), col("b"))).head.getLong(0)
    assert(m === 7L)
    // 64x64 uniform grid; z-order into 8 files vs sort by a only
    val grid = spark.range(4096)
      .select((col("id") % 64).cast("int").as("a"), (col("id") / 64).cast("int").as("b"))
    def avgSpanB(path: String): Double = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max("b") - min("b")).as("span"))
        .collect().map(_.getAs[Number]("span").doubleValue())
      spans.sum / spans.length
    }
    val zPath = java.nio.file.Files.createTempDirectory("graft_z").toString
    Store.writeZOrdered(grid, zPath, "a", "b", partitions = 8)
    val aPath = java.nio.file.Files.createTempDirectory("graft_a").toString
    grid.repartitionByRange(8, col("a")).sortWithinPartitions(col("a"))
      .write.mode("overwrite").parquet(aPath)
    // sorting by `a` alone leaves each file spanning (nearly) all of b;
    // z-ordering keeps every file a compact block in both dimensions
    assert(avgSpanB(zPath) < 0.6 * avgSpanB(aPath),
      s"z=${avgSpanB(zPath)} vs a-sorted=${avgSpanB(aPath)}")
  }

  test("bucketed fitted index: term-bucket pruning + exchange-free artifact join") {
    import spark.implicits._
    val docs = (1L to 50L).map { i =>
      (i, (0 to 9).map(k => s"w${(i * 3 + k) % 23}").mkString(" "))
    }.toDF("doc_id", "text")
    val idx = graft.operators.Lexical
      .writeIndexTables(spark, docs, "doc_id", "text", "sx_idx", buckets = 8)
    // searches against table-backed artifacts score identically to the
    // path-backed form
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_cmp").toString
    val pathIdx = graft.operators.Lexical.writeIndex(spark, docs, "doc_id", "text", dir, 4)
    val terms = Seq("w1", "w5")
    def r6(i: graft.operators.Lexical.SparseIndex) =
      graft.operators.Lexical.tfidfSearchIndexed(spark, i, terms)
        .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e6))).toSet
    assert(r6(idx) === r6(pathIdx))
    // bucket pruning: the query-term IN filter selects a strict subset of
    // the 8 term buckets
    val search = graft.operators.Lexical.tfidfSearchIndexed(spark, idx, terms)
    search.collect()
    val plan = search.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in:\n$plan")
    assert(sel.get.group(1).toInt < 8, s"IN filter pruned nothing:\n$plan")
    // co-bucketed postings x docFreq join: no exchange on either side
    val j = idx.postings.hint("merge").join(idx.docFreq, Seq("term"))
    assert(!j.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
      "co-bucketed artifact join should not shuffle")
  }

  test("co-bucketed join plans without a shuffle exchange") {
    val emb = Tables(spark, TestSpark.sfDir, "embeddings")
    Store.writeBucketed(emb.select(col("vec_id"), col("label")), "b_left", 4, "vec_id")
    Store.writeBucketed(emb.select(col("vec_id"), col("embedding")), "b_right", 4, "vec_id")
    val joined = spark.table("b_left")
      .hint("merge")
      .join(spark.table("b_right"), "vec_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() === emb.count())
  }

  test("composite-key bucketed minhash store: candidate self-join is exchange-free") {
    import graft.operators.Dedup
    val docs = Tables(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val hashed = Dedup.shingles(docs, "doc_id", "text")
      .select(col("id"), Dedup.hash60(col("s")).as("hv"))
    val buckets = Dedup.minhashBucketsFromHashes(hashed, 16, 2)
    Store.writeBucketedMulti(buckets, "mh_buckets", 4, "band", "bucket")
    val stored = spark.table("mh_buckets")
    val cands = Dedup.lshCandidates(stored.hint("merge"))
    val plan = cands.queryExecution.executedPlan.toString
    // the (band, bucket) self-join must ride the bucketed layout: the
    // ONLY hash exchange left is the distinct on (i, j) ABOVE the join
    // (unbucketed, both join inputs shuffle too)
    val nEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).length
    assert(nEx <= 1,
      s"bucketed candidate join should only shuffle for distinct, saw $nEx:\n$plan")
    // and the stored layout changes no values
    val want = Dedup.lshCandidates(buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }
}
