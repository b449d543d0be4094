package graft.examples

import graft.core.Sessions
import graft.sink.ParquetTarget

/** Runnable port of the reference's example driver
  * (reference example/run_example.py): executes [[FactCustomerTask]]
  * against the fixture CSVs and prints both output tables.
  *
  * Usage: sbt "runMain graft.examples.RunExample <fixturesDir> <outDir>"
  */
object RunExample {
  def main(args: Array[String]): Unit = {
    val fixturesDir =
      if (args.length > 0) args(0) else "src/test/resources/fixtures"
    val outDir =
      if (args.length > 1) args(1) else
        java.nio.file.Files.createTempDirectory("graft_example").toString
    val spark = Sessions.local(4)
      .appName("graft-example")
      .getOrCreate()

    val target = ParquetTarget(outDir)
    val task = new FactCustomerTask(spark,
      java.sql.Date.valueOf("2019-06-30"),
      s"$fixturesDir/customers.csv",
      s"$fixturesDir/customer_blood_groups.csv",
      s"$fixturesDir/valid_blood_groups.csv",
      target)
    task.execute()

    println("=== fact_customer ===")
    target.read(spark, task.factSpec).orderBy("customer_name").show(false)
    println("=== fact_customer_dq ===")
    target.read(spark, task.factSpec.dqSpec())
      .orderBy("customer_name", "column_name").show(50, truncate = false)
    spark.stop()
  }
}
