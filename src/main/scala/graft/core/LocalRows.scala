package graft.core

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Driver-local frames: those whose optimized plan is ONE local relation —
  * what a session's literal-row writes (KV puts, Cypher MERGEs) build.
  * Catalyst folds filters and projections over one local relation at plan
  * time, but it does not fold a union of them: a union per write scans as
  * one partition per write and keeps filters from folding. Write paths
  * that append literal rows therefore rebuild a local frame as one
  * relation ([[frame]] over [[of]]'s rows plus the new ones), and fall back
  * to a union for any other frame (parquet, joins, checkpoints). The rows
  * already live on the driver, so a rebuild copies them, O(rows) per
  * write. */
object LocalRows {

  /** The frame's rows when it is driver-local (collecting it runs no
    * Spark job); None for any other frame. */
  def of(df: DataFrame): Option[Array[Row]] =
    if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) Some(df.collect())
    else None

  /** One local relation holding `rows`, in `df`'s column order and schema. */
  def frame(df: DataFrame, rows: Seq[Row]): DataFrame =
    df.sparkSession.createDataFrame(rows.asJava, df.schema)
}
