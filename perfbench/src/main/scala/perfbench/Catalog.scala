package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkEntry

/** The `catalog` workload: a fixed slice of `SparkEntry.queries` (the
  * heavy tail and the queries `spread()` helps or taxes), timed after a
  * JVM warm-up and a JIT quiet wait, in seed-permuted order, for the
  * run's seconds (at least one pass). Each query is timed as a
  * full-column digest, so column pruning cannot skip work, and every
  * digest is checked against the committed ones.
  */
object Catalog {

  /** The 4-core steady heavy tail. */
  val HeavyTail: Seq[String] = Seq("q200_knob_pick_capstone",
    "q192_dedup_drain_capstone", "q206_knob_pick_extension",
    "q183_span_cap_audit", "q167_curation_pipeline3", "q158_curation_pipeline2")
  /** Queries the `spread()` loader repartition speeds up at 4 cores. */
  val SpreadHelped: Seq[String] = Seq("q160_cms_heavy_hitters", "q64_knn_graph",
    "q114_canonical_dhash", "q178_hyperplane_recall_audit")
  /** Cheap queries the same repartition taxes. */
  val SpreadTaxed: Seq[String] = Seq("q86_wav_decode", "q96_audio_dedup",
    "q73_pii_mask", "q88_nfc_normalize")

  /** The three costliest heavy-tail queries (about 60 s together in a
    * fresh 4-core JVM) are timed by the traced run only, after the window,
    * so an untraced run fits the benchmark's time budget.
    */
  val TracedOnly: Seq[String] = Seq("q206_knob_pick_extension", "q200_knob_pick_capstone",
    "q192_dedup_drain_capstone")
  /** The queries every run times. */
  val Timed: Seq[String] = (HeavyTail ++ SpreadHelped ++ SpreadTaxed).filterNot(TracedOnly.contains)

  /** Row count and an order-insensitive hash of every column. */
  final case class Digest(rows: Long, hash: String)

  private def hashable(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
    t match {
      // map entry order is not part of a map's value
      case _: MapType => array_sort(map_entries(c))
      case _ if hasMap(t) => to_json(c)
      case _ => c
    }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  def digestFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h =
      if (cols.isEmpty) lit(0L)
      else xxhash64(cols: _*)
    named.select(h.as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
  }

  /** The digest of `df` and the digest query that computed it. */
  def digest(df: DataFrame): (Digest, DataFrame) = {
    val d = digestFrame(df)
    val r = d.collect()(0)
    (Digest(r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0")), d)
  }
}
