package graft.psp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.VectorOps

/** Voting-similarity analytics (reference
  * `services/similarity_service.py`): vote encoding (F9: A→1, B→-1,
  * else 0), the MPs×votes matrix (M1), PCA coords (M2), cross-party
  * cosine top-k (M3).
  *
  * Scale design: the PCA path materializes per-MP feature arrays (fine —
  * rows ≪ items after aggregation); the cross-party similarity path NEVER
  * pivots — it is the long-form self-join + sum aggregation
  * (VectorOps.cosinePairs), which survives arbitrary member/item
  * cardinality.
  */
object Similarity {

  /** Long-form encoded votes: (id_poslanec, id_hlasovani, v ∈ {1,-1,0}),
    * void votes excluded. NO mp_info join here — the reference pivots ALL
    * mp_votes rows and attaches names/parties afterwards (left join,
    * missing party → "N/A"); an inner join would silently drop MPs absent
    * from the period's mandate table and shift PCA column means.
    */
  def encodedVotes(mpVotes: DataFrame, voidVotes: DataFrame): DataFrame =
    mpVotes
      .join(voidVotes, Seq("id_hlasovani"), "left_anti")
      .withColumn("v",
        when(col("vysledek") === VoteResult.Yes, 1.0)
          .when(col("vysledek") === VoteResult.No, -1.0)
          .otherwise(0.0))

  /** PCA 2-component coords per MP (mp_name, party, x, y). Component signs
    * are arbitrary (SVD) — compare sign-invariantly.
    *
    * The item list drives a pivot and must be collected for it, so the
    * collect is CAPPED at `itemLimit` (the reference's whole item space
    * is ~10⁴ votes); past the cap the matrix is assembled long-form
    * ([[VectorOps.matrixFromLongForm]] — value-identical, no driver
    * materialization of the item list). Either way the SVD's Gramian is
    * items², which is the true mathematical bound on this analysis.
    */
  def computePcaCoords(mpVotes: DataFrame, voidVotes: DataFrame,
      mpInfo: DataFrame, itemLimit: Int = 20000): DataFrame = {
    val enc = encodedVotes(mpVotes, voidVotes)
    val items = enc.select("id_hlasovani").distinct()
      .orderBy("id_hlasovani").limit(itemLimit + 1)
      .collect().map(_.getLong(0)).toSeq
    val matrix =
      if (items.length <= itemLimit)
        VectorOps.pivotMatrix(enc, "id_poslanec", "id_hlasovani", "v", items)
      else
        VectorOps.matrixFromLongForm(enc, "id_poslanec", "id_hlasovani", "v")
    VectorOps.pca2(matrix, "id_poslanec", "features")
      .join(broadcast(mpInfo), Seq("id_poslanec"), "left")
      .select(
        coalesce(concat_ws(" ", col("jmeno"), col("prijmeni")), lit("")).as("mp_name"),
        coalesce(col("party"), lit("N/A")).as("party"),
        col("pc1").as("x"), col("pc2").as("y"))
  }

  /** Top-k most-similar cross-party MP pairs (cosine over encoded votes,
    * zero-norm guarded), long-form — no matrix materialization.
    */
  def crossPartySimilarity(
      mpVotes: DataFrame, voidVotes: DataFrame, mpInfo: DataFrame,
      top: Int = 20): DataFrame =
    narrow(base(mpVotes, voidVotes, mpInfo), top)

  /** The widest answer any request can ask for: the top
    * [[Analyzer.MaxTop]] cross-party pairs by (cosine desc, m_a, m_b),
    * names attached. An MP without a party pairs with no one.
    */
  def base(mpVotes: DataFrame, voidVotes: DataFrame, mpInfo: DataFrame): DataFrame = {
    val enc = encodedVotes(mpVotes, voidVotes)
      .select(col("id_poslanec"), col("id_hlasovani"), col("v"))
      // zero entries contribute nothing to dots or norms - drop them to
      // shrink the self-join (the reference's dense matrix keeps them;
      // cosine is unchanged)
      .filter(col("v") =!= 0.0)
    val names = mpInfo.select(
      col("id_poslanec"),
      concat_ws(" ", col("jmeno"), col("prijmeni")).as("mp_name"),
      col("party"))
    VectorOps.cosinePairs(enc, "id_poslanec", "id_hlasovani", "v")
      .join(broadcast(names.select(col("id_poslanec").as("m_a"),
        col("mp_name").as("mp1_name"), col("party").as("mp1_party"))), Seq("m_a"))
      .join(broadcast(names.select(col("id_poslanec").as("m_b"),
        col("mp_name").as("mp2_name"), col("party").as("mp2_party"))), Seq("m_b"))
      // the reference's cross-party filter (similarity_service.py:96); a
      // null party compares as null, so its pairs drop out too
      .filter(col("mp1_party") =!= col("mp2_party"))
      .orderBy(col("cosine").desc, col("m_a").asc, col("m_b").asc)
      .limit(Analyzer.MaxTop)
      .select("m_a", "m_b", "mp1_name", "mp1_party", "mp2_name", "mp2_party", "cosine")
  }

  /** A request's answer from [[base]]: its first `top` pairs, in order.
    * `top` past [[Analyzer.MaxTop]] is refused: the base holds no more.
    */
  def narrow(base: DataFrame, top: Int): DataFrame = {
    require(1 <= top && top <= Analyzer.MaxTop,
      s"top must be in [1, ${Analyzer.MaxTop}], was $top")
    base
      .orderBy(col("cosine").desc, col("m_a").asc, col("m_b").asc)
      .limit(top)
      .select("mp1_name", "mp1_party", "mp2_name", "mp2_party", "cosine")
  }
}
