package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  /** Read a persisted-index logical subtree through its manifest
    * pointer (rewrites move the physical dir — [[graft.sink
    * .IndexManifest]]). */
  def idxDf(path: String, logical: String)
      : org.apache.spark.sql.DataFrame =
    spark.read.parquet(
      graft.sink.IndexLayout.resolve(spark, path, logical))

  /** Does a logical subtree physically exist right now? */
  def idxDirExists(path: String, logical: String): Boolean =
    graft.sink.IndexLayout.dirExists(spark,
      graft.sink.IndexLayout.resolve(spark, path, logical))
}
