package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{ForkFreeLocalFileSystem, Store}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
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
