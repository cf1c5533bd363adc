package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Conditional-sum "profile" aggregations — the attendance-histogram shape
  * (reference `services/attendance_service.py:31-46`: 7 conditional sums +
  * total + derived rate) and the per-party vote-breakdown shape
  * (`votes_service.py:265-280`). One hash aggregation however many
  * conditional buckets are requested; map-side partials keep the shuffle
  * at |groups| rows.
  */
object Profiles {

  /** groupBy(keys) with one `count(code == bucket)` column per bucket plus a
    * total count. Bucket column name = bucket value lowercased + "_cnt".
    */
  def categoricalProfile(
      df: DataFrame,
      keys: Seq[String],
      codeCol: String,
      buckets: Seq[String]): DataFrame = {
    val aggs = buckets.map { b =>
      sum(when(col(codeCol) === b, 1).otherwise(0)).cast("long")
        .as(s"${b.toLowerCase(java.util.Locale.ROOT)}_cnt")
    } :+ count(lit(1)).as("total_cnt")
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
