package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The shared generation plumbing's own edges — the per-family specs
  * (RetrievalSpec/DedupSpec/SimilaritySpec) pin the lifecycle laws;
  * this pins the layout mechanics.
  */
class IndexLayoutSpec extends SparkSpec {

  test("empty-id tombstone append is a no-op (a zero-row dynamic " +
      "write would leave an unreadable tombstones dir)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("idxlay").toString
    try {
      graft.operators.Retrieval.writeTfIndex(
        Seq((1L, "some common words"), (2L, "needle common"))
          .toDF("doc_id", "text"), dir, wordBuckets = 4)
      // a takedown batch that matched nothing — routine in production
      graft.operators.Retrieval.deleteFromTfIndex(dir,
        Seq.empty[Long].toDF("doc_id"))
      assert(!idxDirExists(dir, "tombstones"))
      // reads keep working and see everything
      val got = graft.operators.Retrieval.bm25TopKFromTfIndex(
        spark, dir, Seq(1 -> "needle common"), 10)
      assert(got.count() == 2)
      // an empty UPSERT is likewise inert
      graft.operators.Retrieval.upsertTfIndex(dir,
        Seq.empty[(Long, String)].toDF("doc_id", "text"))
      assert(graft.operators.Retrieval.bm25TopKFromTfIndex(
        spark, dir, Seq(1 -> "needle common"), 10).count() == 2)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("generation counter: manifest-backed, monotone across " +
      "mutations, preserved through compaction, history pruned") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("genlog").toString
    def manifestFiles(): Int =
      Option(new java.io.File(s"$dir/_manifest").listFiles())
        .getOrElse(Array.empty)
        .count(_.getName.startsWith("m-"))
    try {
      graft.operators.Retrieval.writeTfIndex(
        Seq((1L, "common words here")).toDF("doc_id", "text"),
        dir, wordBuckets = 4)
      assert(IndexLayout.currentGen(spark, dir) == 0L) // fresh build
      for (i <- 2L to 16L)
        graft.operators.Retrieval.appendTfIndex(dir,
          Seq((i, s"doc $i common")).toDF("doc_id", "text"))
      assert(IndexLayout.currentGen(spark, dir) == 15L)
      // two commits per mutation: the generation RESERVE before the
      // facts and the visibility PUBLISH after them (reader-atomicity)
      assert(manifestFiles() == 30)
      graft.operators.Retrieval.compactTfIndex(spark, dir)
      // compaction prunes the manifest history to its tail...
      assert(manifestFiles() <= IndexManifest.HistoryKeep)
      // ...with the counter preserved
      assert(IndexLayout.currentGen(spark, dir) == 15L)
      // and the counter keeps counting after compaction
      graft.operators.Retrieval.appendTfIndex(dir,
        Seq((77L, "doc 77 common")).toDF("doc_id", "text"))
      assert(IndexLayout.currentGen(spark, dir) == 16L)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("legacy (pre-manifest) layouts stay readable and mutable: gen " +
      "log and gen-less fact trees migrate on first touch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("legacy").toString
    try {
      // hand-build the r15-era layout: plain dirs, parquet gen log,
      // NO manifest, and postings/docs WITHOUT a gen column (the
      // pre-generation-era format)
      val docs = Seq((1L, "needle common words"), (2L, "other common"))
        .toDF("doc_id", "text")
      val tf = graft.operators.Retrieval.termFrequencies(
        docs, "doc_id", "text")
      tf.withColumn("wbucket",
          pmod(xxhash64(col("word")), lit(4L)))
        .write.mode("overwrite").partitionBy("wbucket")
        .parquet(s"$dir/postings")
      tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        .write.mode("overwrite").parquet(s"$dir/docs")
      spark.range(1).select(lit(4).as("n_buckets"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      spark.range(1).select(lit(3L).as("gen"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/gen")
      // reads work with no gen column and no manifest (ADVICE: a
      // pre-generation artifact must not throw on read)
      val got = graft.operators.Retrieval.bm25TopKFromTfIndex(
        spark, dir, Seq(1 -> "needle common"), 10)
      assert(got.count() == 2)
      // first mutation folds the legacy gen log into a fresh manifest
      graft.operators.Retrieval.appendTfIndex(dir,
        Seq((3L, "third common doc")).toDF("doc_id", "text"))
      assert(IndexManifest.read(spark, dir).map(_.gen) == Some(4L))
      assert(graft.operators.Retrieval.bm25TopKFromTfIndex(
        spark, dir, Seq(1 -> "common"), 10).count() == 3)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("metaRow: a failed meta listing never validates a cached row " +
      "(a rebuilt layout is re-read, not served stale)") {
    val dir = java.nio.file.Files.createTempDirectory("metarow").toString
    def writeMeta(n: Int): Unit =
      spark.range(1).select(lit(n).as("n_buckets"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    spark.sparkContext.hadoopConfiguration.set("fs.flakylist.impl",
      classOf[FlakyListFs].getName)
    val path = s"flakylist://$dir"
    try {
      writeMeta(4)
      // the fingerprint listing fails while the row is cached...
      FlakyListFs.failNext.set(1)
      assert(IndexLayout.metaRow(spark, path).getInt(0) == 4)
      assert(FlakyListFs.failNext.get == 0)
      // ...and again after a rebuild under the same path
      writeMeta(8)
      FlakyListFs.failNext.set(1)
      assert(IndexLayout.metaRow(spark, path).getInt(0) == 8)
      assert(FlakyListFs.failNext.get == 0)
    } finally {
      FlakyListFs.failNext.set(0)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}

/** Local file system under the `flakylist:` scheme whose next
  * `failNext` directory listings throw. */
class FlakyListFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flakylist"
  override def getUri: java.net.URI = java.net.URI.create("flakylist:///")
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] =
    if (FlakyListFs.failNext.getAndUpdate(n => math.max(n - 1, 0)) > 0)
      throw new java.io.IOException(s"listing $f failed (injected)")
    else super.listStatus(f)
}

object FlakyListFs {
  val failNext = new java.util.concurrent.atomic.AtomicInteger(0)
}
