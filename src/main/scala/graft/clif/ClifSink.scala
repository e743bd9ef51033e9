package graft.clif

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.ops.Scalars

/** CLIF output sinks (SURVEY.md §2.1 S5/S6):
  *  - parquet, partitioned by event-time date when the table has an
  *    event-time column (P8 date filters prune), rows in plan order;
  *  - CSV renders timestamps as the reference's "yyyy-MM-dd HH:mm:ss"
  *    strings (internal representation stays TimestampType).
  * The encounter-bucketed, sorted layout is a separate opt-in copy:
  * [[ClifEtl.publishBucketed]].
  */
object ClifSink {

  /** Write partitioned parquet. `eventTimeCol`, when given, derives a
    * `p_date` partition column — at 100 TB the date partition is what
    * makes time-range queries not scan the world. */
  def parquet(df: DataFrame, path: String,
              eventTimeCol: Option[String] = None): Unit = {
    val (out, partCols) = eventTimeCol match {
      case Some(t) =>
        (df.withColumn("p_date", to_date(col(t))), Seq("p_date"))
      case None => (df, Nil)
    }
    val w = out.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(path)
  }

  /** Write header CSV, timestamps formatted like the reference's sinks. */
  def csv(df: DataFrame, path: String): Unit = {
    val rendered = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampType)
        d.withColumn(f.name, Scalars.tsToString(col(f.name)))
      else d
    }
    rendered.write.mode("overwrite").option("header", true).csv(path)
  }
}
