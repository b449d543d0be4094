package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** Small-file compaction for plain (non-partitioned, non-streaming)
  * parquet leaf directories.
  *
  * Streaming sinks and fine-grained batch partitions accrete thousands
  * of tiny files; at scan time each costs a task + footer read, and
  * 100 TB tables die by a million 2 MB files. Compaction rewrites a
  * directory into ⌈bytes / targetBytes⌉ files.
  *
  * Guard rails (each rejected with an error, never silently mangled):
  *  - a `_spark_metadata` streaming-sink log — compacting under it
  *    would orphan every pre-compact file from log-aware readers;
  *  - a Hive-partitioned layout (subdirectories) — a flat rewrite would
  *    fold partition columns into data and destroy pruning; compact
  *    each leaf partition directory instead.
  *
  * Crash behavior on a plain filesystem — SHARED by every swap path in
  * this object ([[compact]], [[compactPartitioned]], [[rewriteWithout]],
  * [[rewritePartitionedWithout]]): the rewrite goes to a staging
  * directory and is swapped in with two renames whose results are
  * CHECKED (a false return fails the call — no silent half-swap). A
  * crash between the renames leaves the data in the backup dir
  * (`._precompact` / `._prepurge`); the next call on the same path
  * restores it automatically before doing anything else, and a backup
  * that exists NEXT TO a live tree (ambiguous: which is current?) is
  * refused, never guessed at. On object stores or under concurrent
  * writers use a table format's transactional rewrite instead.
  */
object Compact {

  /** Self-heal + guard for the hadoop-fs swap paths. If the live dir is
    * missing but a backup exists (crash between the two swap renames),
    * restore the backup — the staging tree, if any, is discarded as
    * unverified. If BOTH exist the previous run crashed after the first
    * rename of a new swap or the operator hand-copied something; that
    * is ambiguous and refused.
    * @return true if the live dir exists after healing. */
  private def healOrGuard(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path,
      backup: org.apache.hadoop.fs.Path): Boolean = {
    if (!fs.exists(live) && fs.exists(backup)) {
      require(fs.rename(backup, live),
        s"failed to restore crash backup $backup to $live")
    }
    require(!fs.exists(backup),
      s"stale $backup exists next to a live $live — a previous " +
        "rewrite did not finish cleanly; inspect and remove it first")
    fs.exists(live)
  }

  /** The two-rename swap, loud on failure. Only after BOTH renames
    * succeed is the backup deleted (best-effort: the swap is already
    * durable, so a cleanup failure must not fail the rewrite). */
  private def checkedSwap(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path,
      staging: org.apache.hadoop.fs.Path,
      backup: org.apache.hadoop.fs.Path): Unit = {
    require(fs.rename(live, backup),
      s"swap failed: could not rename $live to $backup")
    require(fs.rename(staging, live),
      s"swap failed: could not rename $staging to $live — the " +
        s"previous data is intact in $backup; the next call self-heals")
    try fs.delete(backup, true)
    catch { case _: java.io.IOException => () }
  }

  /** A purge that drops EVERY row writes an empty staging tree (no
    * parquet files for a dynamic-partition write), and a swapped-in
    * empty tree breaks every subsequent schema-inferring read. Keep the
    * tree readable: write one zero-row parquet file carrying the read
    * schema. For a partitioned tree the file must live INSIDE a
    * partition directory (`partitionSubdir`, e.g. `sbucket=0`) — a
    * flat file at the root would make later partitioned appends fail
    * partition discovery ("conflicting directory structures"). The
    * synthetic partition value must parse to the partition column's
    * type; the integer-bucketed index layouts here satisfy that by
    * construction. */
  private[sink] def ensureReadable(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionSubdir: Option[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    ensureReadable(spark, p.getFileSystem(
      spark.sessionState.newHadoopConf()), p, schema, partitionSubdir)
  }

  private def ensureReadable(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      schema: org.apache.spark.sql.types.StructType,
      partitionSubdir: Option[String]): Unit = {
    val hasParquet = fs.exists(staging) && {
      val it = fs.listFiles(staging, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    if (!hasParquet) {
      val target = partitionSubdir
        .map(d => new org.apache.hadoop.fs.Path(staging, d))
        .getOrElse(staging)
      // a 0-partition plan writes exactly one schema-only file
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema)
        .write.mode(SaveMode.Overwrite).parquet(target.toString)
    }
  }

  /** Rewrite a parquet leaf directory WITHOUT the rows whose `keyCol`
    * appears in `dropKeys` — the generic in-place purge for PLAIN
    * (non-index) directories; the persisted index layouts instead
    * rewrite through [[IndexLayout]]'s versioned manifest commits,
    * which concurrent readers never observe. Crash
    * discipline as documented on the object: self-heal on entry,
    * checked renames, refuse ambiguous backups. No-op only if the
    * directory is genuinely absent (no backup either). A purge that
    * drops every row leaves a readable zero-row tree, not a
    * schema-less husk.
    */
  def rewriteWithout(spark: SparkSession, dir: String,
      dropKeys: DataFrame, keyCol: String): Unit =
    rewriteFiltered(spark, dir,
      _.join(dropKeys, Seq(keyCol), "left_anti"))

  /** Generalization of [[rewriteWithout]]: rewrite a flat parquet leaf
    * directory through an arbitrary row-preserving-or-dropping
    * transform `keep` (e.g. the generation-aware tombstone filter —
    * [[IndexLayout.applyTombstones]]). `keep` must not change the
    * schema. Crash discipline as documented on the object. */
  def rewriteFiltered(spark: SparkSession, dir: String,
      keep: DataFrame => DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(dir + "._purging")
    val backup = new org.apache.hadoop.fs.Path(dir + "._prepurge")
    if (!healOrGuard(fs, p, backup)) return
    if (fs.exists(staging)) fs.delete(staging, true)
    val remaining = keep(spark.read.parquet(dir))
    remaining.write.mode("overwrite").parquet(staging.toString)
    ensureReadable(spark, fs, staging, remaining.schema, None)
    checkedSwap(fs, p, staging, backup)
  }

  /** [[rewriteWithout]] for a Hive-PARTITIONED directory, as ONE
    * Spark job: read the whole tree (partition column inferred from
    * the directory names), anti-join, write partitionBy to staging
    * with `repartition(partitionCol)` (one file per partition), swap
    * the whole tree with two renames. The per-leaf alternative costs
    * one sequential job per partition — 2^14 jobs at a production
    * bucket count; this is the purge shape that survives scale
    * (PLANS.md round 14 measured the fingerprint purge 14.2 s →
    * 1.29 s at 64 buckets, toy data).
    * Partitions whose rows are all dropped simply have no directory
    * in the result — absent partition ≡ zero rows to every reader.
    * Crash discipline + the drop-everything edge as on
    * [[rewriteWithout]].
    */
  def rewritePartitionedWithout(spark: SparkSession, dir: String,
      dropKeys: DataFrame, keyCol: String,
      partitionCol: String): Unit =
    rewritePartitionedFiltered(spark, dir,
      _.join(dropKeys, Seq(keyCol), "left_anti"), partitionCol)

  /** [[rewriteFiltered]] for a Hive-PARTITIONED directory (the
    * [[rewritePartitionedWithout]] generalization — one job, whole-tree
    * swap). `keep` must not change the schema. */
  def rewritePartitionedFiltered(spark: SparkSession, dir: String,
      keep: DataFrame => DataFrame, partitionCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(dir + "._purging")
    val backup = new org.apache.hadoop.fs.Path(dir + "._prepurge")
    if (!healOrGuard(fs, p, backup)) return
    if (fs.exists(staging)) fs.delete(staging, true)
    val remaining = keep(spark.read.parquet(dir))
    remaining
      .repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol)
      .parquet(staging.toString)
    ensureReadable(spark, fs, staging,
      org.apache.spark.sql.types.StructType(
        remaining.schema.filterNot(_.name == partitionCol)),
      Some(s"$partitionCol=0"))
    checkedSwap(fs, p, staging, backup)
  }

  /** Compact a Hive-PARTITIONED tree as ONE Spark job: read the whole
    * tree, `repartition(partitionCol)` (one file per partition — the
    * append-accumulated small files collapse), write partitionBy to
    * staging, swap with two renames. The per-leaf [[compact]] loop
    * costs one sequential job per partition — 2^14 jobs at a
    * production bucket count. Trade documented: a single oversized
    * partition becomes a single oversized file (per-leaf compact with
    * `targetBytes` splits it); size the bucket count so buckets stay
    * file-sized, which the index layouts here do by construction.
    * Crash discipline as on [[rewriteWithout]] (self-heal, checked
    * renames), except a missing tree with no backup is an error here —
    * compacting nothing is a caller bug, not a no-op.
    * @return (filesBefore, filesAfter) counted over the tree. */
  def compactPartitioned(spark: SparkSession, dir: String,
      partitionCol: String): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(dir + "._compacting")
    val backup = new org.apache.hadoop.fs.Path(dir + "._precompact")
    require(healOrGuard(fs, p, backup), s"$dir does not exist")
    def countParquet(path: org.apache.hadoop.fs.Path): Int = {
      val it = fs.listFiles(path, true)
      var n = 0
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    val before = countParquet(p)
    if (fs.exists(staging)) fs.delete(staging, true)
    spark.read.parquet(dir)
      .repartition(col(partitionCol))
      .write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
      .parquet(staging.toString)
    checkedSwap(fs, p, staging, backup)
    (before, countParquet(p))
  }

  /** @return (filesBefore, filesAfter) */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val path = Paths.get(dir).toAbsolutePath.normalize
    val staging = path.resolveSibling(path.getFileName.toString + "._compacting")
    val backup = path.resolveSibling(path.getFileName.toString + "._precompact")

    // self-heal a crash between the two swap renames
    if (!Files.exists(path) && Files.exists(backup))
      Files.move(backup, path, StandardCopyOption.ATOMIC_MOVE)
    require(Files.isDirectory(path), s"$path is not a directory")
    require(!Files.exists(backup),
      s"stale $backup exists — a previous compaction did not finish " +
        "cleanly; inspect and remove it first")

    def ls(p: Path): List[Path] = {
      val s = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toList
      } finally s.close()
    }
    val entries = ls(path)
    require(!entries.exists(_.getFileName.toString == "_spark_metadata"),
      s"$path has a _spark_metadata streaming-sink log; compacting " +
        "would orphan pre-compact files from log-aware readers")
    require(!entries.exists(Files.isDirectory(_)),
      s"$path contains subdirectories (partitioned layout?); compact " +
        "each leaf partition directory instead")

    val parquetFiles =
      entries.filter(_.getFileName.toString.endsWith(".parquet"))
    val before = parquetFiles.size
    val totalBytes = parquetFiles.map(Files.size).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      .toInt

    if (Files.exists(staging)) ls(staging).foreach(Files.delete)
    spark.read.parquet(path.toString)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)

    Files.move(path, backup, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staging, path, StandardCopyOption.ATOMIC_MOVE)
    // genuinely best-effort cleanup: the swap already succeeded, so a
    // cleanup failure must not fail the compaction
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) ls(p).foreach(rm)
      Files.deleteIfExists(p)
    }
    try rm(backup)
    catch { case _: java.io.IOException => () }

    val after = ls(path)
      .count(_.getFileName.toString.endsWith(".parquet"))
    (before, after)
  }
}
