package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's linear-algebra core (SURVEY §2.10): the MPs×votes matrix
  * (M1), its 2-component PCA embedding (M2), and cosine-similarity top-k
  * pairs (M3, reference `services/similarity_service.py`).
  *
  * Two formulations:
  *  - pivot path (reference parity; valid while the matrix is ~members ×
  *    10⁴ votes),
  *  - long-form path (the 100 TB design: never materialize the matrix —
  *    similarity is a self-join + sum aggregation on the long fact table,
  *    shuffling on the vote key only).
  */
object VectorOps {

  /** M1: long (member, item, value) → wide matrix rows
    * (member, features array), via pivot + first + fill(0) — exactly the
    * reference's `pivot(aggregate_function="first").fill_null(0)`.
    * `items` must be the ordered distinct item list (collected — pivot
    * needs it; bounded by the item-cardinality cap the caller enforces).
    */
  def pivotMatrix(
      df: DataFrame, memberCol: String, itemCol: String, valueCol: String,
      items: Seq[Any]): DataFrame = {
    val wide = df.groupBy(col(memberCol))
      .pivot(itemCol, items)
      .agg(first(col(valueCol)))
      .na.fill(0)
    wide.select(col(memberCol),
      array(items.map(i => col(s"`$i`").cast("double")): _*).as("features"))
  }

  /** `computeSVD` without U, serialized: the JVM ARPACK port it calls
    * keeps its solver work state in shared statics, so two concurrent
    * solves corrupt each other ("No shifts could be applied", index out
    * of bounds). Every SVD in this object runs under this one lock.
    */
  private def serialSvd(mat: org.apache.spark.mllib.linalg.distributed.RowMatrix, k: Int) =
    SvdLock.synchronized(mat.computeSVD(k, computeU = false))

  private object SvdLock

  /** M2: 2-component PCA scores (U·S scaling, matching the reference's
    * `np.linalg.svd` usage: mean-center columns, SVD, coords = U[:,:2]*S[:2]).
    * Sign of each component is arbitrary — consumers must compare
    * sign-invariantly (SURVEY §7.4). Uses mllib RowMatrix SVD, which for
    * small feature dims solves the Gramian locally; rows stay distributed.
    */
  def pca2(df: DataFrame, idCol: String, featCol: String): DataFrame = {
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val spark = df.sparkSession
    val rows = df.select(col(idCol).cast("long"), col(featCol).cast("array<double>"))
      .rdd.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    CacheRegistry.trackRdd(rows.cache())
    val dim = rows.first()._2.length
    val n = rows.count().toDouble
    val means = rows.map(_._2).treeAggregate(new Array[Double](dim))(
      (acc, v) => { var i = 0; while (i < dim) { acc(i) += v(i); i += 1 }; acc },
      (a, b) => { var i = 0; while (i < dim) { a(i) += b(i); i += 1 }; a })
      .map(_ / n)
    val bMeans = spark.sparkContext.broadcast(means)
    val centered = rows.mapValues { v =>
      val m = bMeans.value
      val out = new Array[Double](dim)
      var i = 0; while (i < dim) { out(i) = v(i) - m(i); i += 1 }
      out
    }.cache()
    CacheRegistry.trackRdd(centered)
    val mat = new RowMatrix(centered.values.map(OldVectors.dense))
    val svd = serialSvd(mat, math.min(2, dim))
    // `centered` is materialized by the SVD's actions — `rows` is no
    // longer needed by anything downstream
    rows.unpersist(blocking = false)
    // dim x (at most 2): a rank-deficient matrix (one vote column, or
    // constant columns) yields fewer components; a missing one scores 0,
    // as its zero singular value does in the reference's full SVD
    val v = svd.V
    def comp(i: Int, j: Int) = if (j < v.numCols) v(i, j) else 0.0
    val bV = spark.sparkContext.broadcast((0 until dim).map(i => (comp(i, 0), comp(i, 1))).toArray)
    import spark.implicits._
    centered.map { case (id, c) =>
      val vv = bV.value
      var x = 0.0; var y = 0.0; var i = 0
      while (i < dim) { x += c(i) * vv(i)._1; y += c(i) * vv(i)._2; i += 1 }
      (id, x, y)
    }.toDF(idCol, "pc1", "pc2")
  }

  /** PCA invariant audit (VERDICT r14 order #1e — retires the q34
    * `no_oracle` row): PCA values themselves are sign-ambiguous (SVD),
    * so instead of replaying them the audit emits a (metric, value)
    * relation in which EVERY row is deterministic and oracle-checkable:
    *
    *  - invariants with provable values — component norms = 1,
    *    component orthogonality, score cross-correlation, energy
    *    conservation (scores + residuals = total), projection
    *    contraction on a bounded pair set, PCA-energy ≥ best-2-
    *    coordinate-axes energy — all emitted as round-6 defects that
    *    MUST read 0.0 (resp. 1.0) when the PCA is correct, and
    *  - data-dependent values the oracle computes independently —
    *    `total_ss` (total centered sum of squares) and
    *    `axes_energy_rel` (top-2 coordinate-axes energy share) via the
    *    exact DECIMAL-quantized sums of the house float rule, plus
    *    n_rows/n_dims.
    *
    * A broken PCA (unnormalized or non-orthogonal components, wrong
    * centering, wrong projection) moves several defect rows off 0 —
    * the same gate PcaOracleSpec applies, now in-catalog where the
    * driver's DuckDB comparison exercises it every round.
    *
    * Driver-side data is bounded: the 2×dim component matrix, dim
    * per-dimension energy decimals, five scalar accumulators, and the
    * `pairIdLimit` rows used for the contraction check.
    */
  def pcaInvariantAudit(df: DataFrame, idCol: String, featCol: String,
      pairIdLimit: Long = 32L): DataFrame = {
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val spark = df.sparkSession
    val rows = df.select(col(idCol).cast("long"), col(featCol).cast("array<double>"))
      .rdd.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    CacheRegistry.trackRdd(rows.cache())
    val head = rows.take(1)
    require(head.nonEmpty, "pcaInvariantAudit requires a non-empty relation")
    val dim = head(0)._2.length
    val n = rows.count()
    val meansF = rows.map(_._2).treeAggregate(new Array[Double](dim))(
      (acc, v) => { var i = 0; while (i < dim) { acc(i) += v(i); i += 1 }; acc },
      (a, b) => { var i = 0; while (i < dim) { a(i) += b(i); i += 1 }; a })
      .map(_ / n.toDouble)
    val bMeans = spark.sparkContext.broadcast(meansF)
    val centered = rows.mapValues { v =>
      val m = bMeans.value
      val out = new Array[Double](dim)
      var i = 0; while (i < dim) { out(i) = v(i) - m(i); i += 1 }
      out
    }.cache()
    CacheRegistry.trackRdd(centered)
    // request at most `dim` components: computeSVD refuses k > numCols,
    // and dim = 1 is a legitimate degenerate input the audit must survive
    val svd = serialSvd(new RowMatrix(centered.values.map(OldVectors.dense)),
      math.min(2, dim))
    rows.unpersist(blocking = false)
    val v = svd.V
    // rank-deficient input (dim = 1, or a zero/constant matrix whose
    // near-zero singular values rCond filters out) can return fewer
    // than 2 — or zero — components: audit the degenerate case as
    // zero axes, so v1/v2_norm_defect read 1.0 as DIAGNOSTIC rows
    // instead of the audit itself crashing on exactly the pathological
    // inputs it exists to measure
    val v1 = if (v.numCols >= 1) Array.tabulate(dim)(i => v(i, 0))
      else new Array[Double](dim)
    val v2 = if (v.numCols >= 2) Array.tabulate(dim)(i => v(i, 1))
      else new Array[Double](dim)
    val bV = spark.sparkContext.broadcast((v1, v2))

    // distributed score/residual accumulators: [Σp1², Σp2², Σp1p2,
    // Σ‖resid‖², Σ‖centered‖²]
    val acc = centered.values.treeAggregate(new Array[Double](5))(
      (a, c) => {
        val (w1, w2) = bV.value
        var p1 = 0.0; var p2 = 0.0; var i = 0
        while (i < dim) { p1 += c(i) * w1(i); p2 += c(i) * w2(i); i += 1 }
        var r2 = 0.0; var t2 = 0.0; i = 0
        while (i < dim) {
          val r = c(i) - p1 * w1(i) - p2 * w2(i)
          r2 += r * r; t2 += c(i) * c(i); i += 1
        }
        a(0) += p1 * p1; a(1) += p2 * p2; a(2) += p1 * p2
        a(3) += r2; a(4) += t2; a
      },
      (a, b) => { var i = 0; while (i < 5) { a(i) += b(i); i += 1 }; a })
    val Array(sp11, sp22, sp12, sresid, stot) = acc

    // exact-decimal per-dimension energies (the oracle's formulation):
    // mean = double(decimal sum)/n, term = (x-mean)² quantized to
    // DECIMAL(38,12), per-dim sums exact — collected (dim rows) and
    // totaled in BigDecimal so the emitted values are order-free
    val exploded = df.select(
      posexplode(col(featCol).cast("array<double>")).as(Seq("d", "x")))
    val meansDf = exploded.groupBy("d")
      .agg((sum(col("x").cast("decimal(28,12)")).cast("double") /
        count(lit(1)).cast("double")).as("mean"))
    val energies = exploded.join(broadcast(meansDf), Seq("d"))
      .select(col("d"), ((col("x") - col("mean")) * (col("x") - col("mean")))
        .cast("decimal(38,12)").as("e2"))
      .groupBy("d").agg(sum(col("e2")).as("e"))
      .collect().map(_.getAs[java.math.BigDecimal]("e"))
    val totalDec = energies.foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
    val top2Dec = energies.map(BigDecimal(_)).sorted.reverse.take(2)
      .foldLeft(java.math.BigDecimal.ZERO)((a, b) => a.add(b.bigDecimal))
    val totalSs = totalDec.doubleValue
    // 0/0 guards for the same degenerate family (constant vectors →
    // zero total energy; rank-1 → sp22 = 0): a zero denominator reports
    // the ratio as 0 rather than NaN, which r6's BigDecimal would throw on
    def safeDiv(a: Double, b: Double): Double = if (b == 0.0) 0.0 else a / b
    val axesRel = safeDiv(top2Dec.doubleValue, totalSs)

    // bounded contraction check: orthogonal projection can only shrink
    // pairwise distances (up to float tolerance)
    val sample = centered.filter(_._1 < pairIdLimit).collect()
    val (w1, w2) = (v1, v2)
    def proj(c: Array[Double]): (Double, Double) = {
      var p1 = 0.0; var p2 = 0.0; var i = 0
      while (i < dim) { p1 += c(i) * w1(i); p2 += c(i) * w2(i); i += 1 }
      (p1, p2)
    }
    val projs = sample.map { case (id, c) => (id, c, proj(c)) }
    var violations = 0L
    for (i <- projs.indices; j <- (i + 1) until projs.length) {
      val (_, ci, (pi1, pi2)) = projs(i)
      val (_, cj, (pj1, pj2)) = projs(j)
      var full = 0.0; var k = 0
      while (k < dim) { val dlt = ci(k) - cj(k); full += dlt * dlt; k += 1 }
      val pd = (pi1 - pj1) * (pi1 - pj1) + (pi2 - pj2) * (pi2 - pj2)
      if (pd > full * (1.0 + 1e-6) + 1e-9) violations += 1
    }

    def norm(a: Array[Double]) = math.sqrt(a.map(x => x * x).sum)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val metrics = Seq(
      "axes_energy_rel" -> r6(axesRel),
      "contraction_violations" -> violations.toDouble,
      "energy_defect_rel" ->
        r6(safeDiv(math.abs(sp11 + sp22 + sresid - stot), stot)),
      "n_dims" -> dim.toDouble,
      "n_rows" -> n.toDouble,
      "pca_ge_axes" ->
        (if (sp11 + sp22 >= top2Dec.doubleValue * (1.0 - 1e-9)) 1.0 else 0.0),
      "score_cross_corr" ->
        r6(safeDiv(math.abs(sp12), math.sqrt(sp11) * math.sqrt(sp22))),
      "total_ss" -> r6(totalSs),
      "v1_norm_defect" -> r6(math.abs(norm(v1) - 1.0)),
      "v2_norm_defect" -> r6(math.abs(norm(v2) - 1.0)),
      "v_orthogonality" -> r6(math.abs(dot(v1, v2))))
    import spark.implicits._
    metrics.toDF("metric", "value").orderBy("metric")
  }

  /** Per-group centroid of an embedding column — the k-means/IVF training
    * primitive (a full Lloyd iteration = assignCells + this). Long form:
    * posexplode to (group, dim, x) and hash-aggregate per (group, dim) —
    * ONE shuffle whose key count is |groups|·dim regardless of row count,
    * so it scales to any corpus. Sums go through DECIMAL(28,12) so the
    * centroid is bit-identical under any partitioning/engine (IEEE double
    * accumulation is order-sensitive; decimal is exact).
    */
  def groupCentroids(
      df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col(groupCol), col("dim"))
      .agg(
        (sum(col("x").cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double")).as("centroid"),
        count(lit(1)).as("n"))

  /** M3 at scale: cosine top-k member pairs WITHOUT materializing the
    * matrix. Long form (member, item, value): dot products via self-join
    * on item + sum(v_a*v_b) grouped by pair; norms via per-member agg;
    * zero-norm guarded to 1 exactly like the reference
    * (`similarity_service.py:84`). Optional member-attribute join for a
    * cross-group filter (e.g. `party_a != party_b`).
    */
  /** cosinePairsTopK with a member-attribute constraint: join a small
    * attrs table (memberCol, attrCol) and keep only pairs whose attribute
    * values are BOTH non-null and different (the reference's cross-party
    * filter, `similarity_service.py:96`), applied before top-k.
    */
  def cosinePairsTopKFiltered(
      df: DataFrame, memberCol: String, itemCol: String, valueCol: String,
      attrs: DataFrame, attrCol: String, requireDifferentAttr: Boolean,
      k: Int): DataFrame = {
    val all = cosinePairs(df, memberCol, itemCol, valueCol)
    val withAttrs = all
      .join(broadcast(attrs.select(col(memberCol).as("m_a"), col(attrCol).as("attr_a"))), Seq("m_a"))
      .join(broadcast(attrs.select(col(memberCol).as("m_b"), col(attrCol).as("attr_b"))), Seq("m_b"))
      .filter(col("attr_a").isNotNull && col("attr_b").isNotNull)
    val filtered =
      if (requireDifferentAttr) withAttrs.filter(col("attr_a") =!= col("attr_b"))
      else withAttrs
    filtered
      .orderBy(col("cosine").desc, col("m_a").asc, col("m_b").asc)
      .limit(k)
      .select("m_a", "m_b", "cosine")
  }

  /** All member-pair cosines in long form (no top-k yet). */
  def cosinePairs(
      df: DataFrame, memberCol: String, itemCol: String, valueCol: String): DataFrame = {
    val norms = df.groupBy(col(memberCol))
      .agg(sqrt(sum(col(valueCol) * col(valueCol))).as("norm"))
      .withColumn("norm", when(col("norm") > 0, col("norm")).otherwise(lit(1.0)))
    val a = df.select(col(memberCol).as("m_a"), col(itemCol).as("item"), col(valueCol).as("v_a"))
    val b = df.select(col(memberCol).as("m_b"), col(itemCol).as("item"), col(valueCol).as("v_b"))
    val dots = a.join(b, Seq("item"))
      .filter(col("m_a") < col("m_b"))
      .groupBy("m_a", "m_b")
      .agg(sum(col("v_a") * col("v_b")).as("dot"))
    dots
      .join(broadcast(norms.select(col(memberCol).as("m_a"), col("norm").as("norm_a"))), "m_a")
      .join(broadcast(norms.select(col(memberCol).as("m_b"), col("norm").as("norm_b"))), "m_b")
      .withColumn("cosine", col("dot") / (col("norm_a") * col("norm_b")))
  }

  /** M3 top-k over [[cosinePairs]]. */
  def cosinePairsTopK(
      df: DataFrame, memberCol: String, itemCol: String, valueCol: String,
      k: Int): DataFrame =
    cosinePairs(df, memberCol, itemCol, valueCol)
      .orderBy(col("cosine").desc, col("m_a").asc, col("m_b").asc)
      .limit(k)
      .select("m_a", "m_b", "cosine")

  /** Dense-vector formulation of M3 for LOW-cardinality item spaces: when
    * items are few (a 30-day window, a fixed code set), the long-form
    * self-join on item degenerates — every item matches every member, so
    * the join emits |items| * |members|² / 2 rows. Pivoting to one dense
    * vector per member and doing blocked pairwise dots emits |members|²/2
    * rows with an |items|-step fold each: same arithmetic (dot of exact
    * counts / norm product — bitwise-identical results), far less shuffle.
    * Items must be pivot-safe values (strings/numerics) and (member, item)
    * must be unique (pivot takes first(); cosinePairsTopKAuto
    * canonicalizes by summing before dispatching here).
    */
  def cosinePairsTopKDense(
      df: DataFrame, memberCol: String, itemCol: String, valueCol: String,
      k: Int, items: Seq[Any]): DataFrame = {
    val vecs = pivotMatrix(df, memberCol, itemCol, valueCol, items)
    val withNorm = vecs
      .withColumn("norm",
        sqrt(graft.plans.GraftFunctions.dotProduct(col("features"), col("features"))))
      .withColumn("norm", when(col("norm") > 0, col("norm")).otherwise(lit(1.0)))
    val a = withNorm.select(col(memberCol).as("m_a"),
      col("features").as("fa"), col("norm").as("norm_a"))
    val b = withNorm.select(col(memberCol).as("m_b"),
      col("features").as("fb"), col("norm").as("norm_b"))
    a.crossJoin(b).filter(col("m_a") < col("m_b"))
      .withColumn("dot",
        graft.plans.GraftFunctions.dotProduct(col("fa"), col("fb")))
      .withColumn("cosine", col("dot") / (col("norm_a") * col("norm_b")))
      .orderBy(col("cosine").desc, col("m_a").asc, col("m_b").asc)
      .limit(k)
      .select("m_a", "m_b", "cosine")
  }

  /** Strategy switch for M3: densify only when BOTH cardinalities are
    * small — few items (the pivot is feasible) AND few members (the dense
    * path's member×member crossJoin emits members²/2 rows, so a big
    * member space must stay long-form no matter how few items there are).
    * Both probes are bounded: items collects at most denseItemLimit+1
    * values, members counts at most denseMemberLimit+1 rows.
    */
  def cosinePairsTopKAuto(
      df: DataFrame, memberCol: String, itemCol: String, valueCol: String,
      k: Int, denseItemLimit: Int = 2048,
      denseMemberLimit: Int = 4096): DataFrame = {
    // canonicalize duplicate (member, item) rows by summing FIRST — the
    // long path sums duplicates while pivot-first() would pick one
    // arbitrarily, so without this the two branches could disagree
    val canon = df.groupBy(col(memberCol), col(itemCol))
      .agg(sum(col(valueCol)).as(valueCol))
    val items = canon.select(col(itemCol)).distinct()
      .orderBy(col(itemCol)).limit(denseItemLimit + 1)
      .collect().map(_.get(0)).toSeq
    def membersFitDense: Boolean =
      canon.select(col(memberCol)).distinct()
        .limit(denseMemberLimit + 1).count() <= denseMemberLimit
    if (items.length <= denseItemLimit && membersFitDense)
      cosinePairsTopKDense(canon, memberCol, itemCol, valueCol, k, items)
    else
      cosinePairsTopK(canon, memberCol, itemCol, valueCol, k)
  }

  /** [[pivotMatrix]] WITHOUT a driver-collected item list: items get
    * contiguous indices from a window over the DISTINCT-item relation
    * (far smaller than the fact table, and never on the driver), values
    * scatter into a map per member, and the dense feature array is a
    * `transform(sequence(...))` fill — value-identical to the pivot when
    * (member, item) is unique. Only the dimension COUNT (one scalar)
    * reaches the driver, so the assembly survives any item cardinality
    * the downstream consumer can handle.
    */
  def matrixFromLongForm(
      df: DataFrame, memberCol: String, itemCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val items = df.select(col(itemCol)).distinct()
    val dim = items.count()
    require(dim <= Int.MaxValue, s"item dimension $dim exceeds array bounds")
    val idx = items.withColumn("__idx",
      (row_number().over(Window.orderBy(col(itemCol))) - 1))
    df.join(idx, Seq(itemCol))
      .groupBy(col(memberCol))
      .agg(map_from_entries(
        collect_list(struct(col("__idx"), col(valueCol).cast("double"))))
        .as("__m"))
      .select(col(memberCol),
        transform(sequence(lit(0), lit(dim.toInt - 1)),
          i => coalesce(element_at(col("__m"), i), lit(0.0d))).as("features"))
  }

  /** Symmetric int8 quantization for vector-store compression: per
    * vector, scale = max|x| / 127 and q_i = floor(x_i / scale + 0.5), so
    * q_i ∈ [-127, 127] and dequantized q_i·scale is within scale/2 of
    * x_i. floor-based rounding because engines disagree on `round` tie
    * semantics while floor is IEEE-exact (oracle-portable); an all-zero
    * vector quantizes to zeros with scale 0. Per-row projection — no
    * shuffle, scan-speed.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = array_max(transform(col(vecCol), x => abs(x)))
    val scale = maxAbs.cast("double") / lit(127.0)
    df.select(
      col(idCol),
      scale.as("scale"),
      when(maxAbs > 0,
        transform(col(vecCol),
          x => floor(x.cast("double") / scale + lit(0.5)).cast("int")))
        .otherwise(transform(col(vecCol), _ => lit(0)))
        .as("q"))
  }
}
