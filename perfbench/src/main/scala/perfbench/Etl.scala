package perfbench

import graft.core.TableSpec
import graft.examples.FactCustomerTask
import graft.sink.{ParquetTarget, TargetSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `ParquetTarget` with the sink's lifecycle calls wrapped in spans. */
final class TracedTarget(basePath: String, tracer: Tracer)
    extends TargetSpec {
  private val inner = ParquetTarget(basePath)
  override def supportsColumnComments: Boolean = inner.supportsColumnComments
  override def supportsTableComments: Boolean = inner.supportsTableComments

  override def migrate(spark: SparkSession, spec: TableSpec): Unit =
    tracer.span("migrate", spec.name)(inner.migrate(spark, spec))
  override def overwriteBatch(df: DataFrame, spec: TableSpec): Unit =
    tracer.span("overwrite", spec.name)(inner.overwriteBatch(df, spec))
  override def append(df: DataFrame, spec: TableSpec): Unit =
    inner.append(df, spec)
  override def read(spark: SparkSession, spec: TableSpec): DataFrame =
    inner.read(spark, spec)
}

/** The repo's `FactCustomerTask`, with its transform and validate steps
  * wrapped in spans. */
final class TracedFactCustomerTask(
    spark: SparkSession,
    reportDate: java.sql.Date,
    inputDir: String,
    target: TargetSpec,
    tracer: Tracer)
  extends FactCustomerTask(spark, reportDate,
    s"$inputDir/customers.csv", s"$inputDir/customer_blood_groups.csv",
    s"$inputDir/valid_blood_groups.csv", target) {

  override def transform(): Unit =
    tracer.span("transform", "fact_customer")(super.transform())
  override def validate(): Unit =
    tracer.span("validate", "fact_customer")(super.validate())
}
