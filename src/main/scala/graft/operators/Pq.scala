package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the embedding-compression
  * layer a 100 TB-scale ANN index actually stores: split each vector
  * into `m` contiguous subspaces, k-means each subspace independently
  * ([[KMeans.fitCentroids]] — the same md5-seeded, decimal-grid
  * deterministic Lloyd's every clustering tier here uses), and encode a
  * vector as `m` small centroid ids. A 64-dim float vector (256 bytes)
  * becomes `m` bytes-ish of codes; distance queries run against the
  * codes via ADC (asymmetric distance computation) — per-subspace
  * lookup tables of the query's distance to each codeword, summed —
  * never touching the original vectors.
  *
  * Every stage is bit-deterministic across engines, so both the codes
  * AND the ADC ranking are oracle-checkable cell-exact:
  *
  *  - per-subspace training is [[KMeans.fitCentroids]] verbatim (the
  *    seeds depend only on `md5(id)`, so all subspaces seed from the
  *    same rows' sub-vectors — one orderBy, not m);
  *  - encoding is the [[graft.plans.GridArgmin]] codegen expression per
  *    subspace — scale-12 decimal grid, exact integer distance math,
  *    smallest-id tie-break;
  *  - ADC lookup tables are computed on the DRIVER in exact integer
  *    arithmetic over the same grid (BigInteger sums of squared
  *    scale-12 diffs → scale-24 BigDecimal constants), and the
  *    per-row distance is a sum of `m` exact DECIMAL literals chosen
  *    by code — no float summation anywhere, so the (dist, id) order
  *    the top-k sees is identical in any engine.
  *
  * Scale shape: fit touches only `k·dims` rounded means per iteration
  * (driver traffic independent of corpus size); encode is a per-row
  * codegen expression against `m · k` broadcast-constant codewords (no
  * shuffle, no join); ADC top-k is a per-row expression + one
  * `TakeOrderedAndProject` — the classic IVF-PQ read path minus the
  * (orthogonal) IVF routing, which [[Ann.ivfTopK]] already owns.
  */
object Pq {

  /** A fitted PQ model: `codebooks(s)(j)` is subspace `s`'s codeword
    * `j` (length `subDim`), coordinates on the scale-9-rounded-double
    * centroid form [[KMeans.fitCentroids]] emits.
    */
  final case class Model(m: Int, subDim: Int,
      codebooks: Array[Array[Array[Double]]])

  private def subSlice(vecCol: String, s: Int, subDim: Int): Column =
    slice(col(vecCol).cast("array<double>"), s * subDim + 1, subDim)

  /** Train one codebook per subspace. `dim` must be divisible by `m`;
    * every input vector must have exactly `dim` coordinates (the
    * encode expression fails fast per-row otherwise, the
    * [[graft.plans.GridArgmin]] convention).
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int, k: Int, iters: Int): Model = {
    require(m > 0 && dim > 0 && dim % m == 0,
      s"dim=$dim must be a positive multiple of m=$m")
    val subDim = dim / m
    // fail FAST on a malformed training vector (the GridArgmin
    // convention): without this, a vector shorter than dim silently
    // trains later subspaces on truncated/empty slices and the model
    // degrades quietly — only encode would ever notice
    val vecType = df.select(col(vecCol)).schema.head.dataType
    val checked = when(size(col(vecCol)) === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"pq fit: vector length != dim=$dim for $idCol="),
        col(idCol).cast("string"))).cast(vecType))
    // one persist shared by all m training runs (each re-scans it)
    val src = CacheRegistry.track(
      df.select(col(idCol), checked.as(vecCol)).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val codebooks = (0 until m).map { s =>
      // lloydCentroids, not fitCentroids: the projection re-reads the
      // ONE persisted src (slicing is map-side free) instead of
      // caching m additional sliced copies of the same vectors
      KMeans.lloydCentroids(
        src.select(col(idCol), subSlice(vecCol, s, subDim).as("__sub")),
        idCol, "__sub", k, iters, exact = true)
    }.toArray
    Model(m, subDim, codebooks)
  }

  /** Encode each vector as its `m` per-subspace codeword ids:
    * `(row*, code array<int>)`.
    */
  def encode(df: DataFrame, vecCol: String, model: Model): DataFrame =
    df.withColumn("code", array((0 until model.m).map { s =>
      graft.plans.GraftFunctions.gridArgmin(
        subSlice(vecCol, s, model.subDim), model.codebooks(s))
    }: _*))

  /** The exact scale-24 squared distance between two scale-12 grid
    * points, as a BigDecimal constant (driver-side, BigInteger exact).
    */
  private def gridDist2(a: Array[Double], b: Array[Double]): java.math.BigDecimal = {
    var sum = java.math.BigInteger.ZERO
    var i = 0
    while (i < a.length) {
      val d = java.math.BigInteger.valueOf(
        graft.plans.GridArgmin.toGrid(a(i)) - graft.plans.GridArgmin.toGrid(b(i)))
      sum = sum.add(d.multiply(d))
      i += 1
    }
    new java.math.BigDecimal(sum, 24)
  }

  /** ADC top-k: the `k` ids nearest to `query` by the PQ-approximated
    * squared L2 — `Σ_s lut_s(code_s)` where `lut_s(j) = ‖query_s −
    * codebook_s(j)‖²` on the exact decimal grid. Ties (and the
    * approximation's frequent exact-distance collisions — every vector
    * sharing a code sequence shares a distance) break on the smaller
    * id, so the ranking is total and engine-independent. Returns
    * `(rank, idCol)`, rank 1-based.
    */

  /** One subspace's LUT as a PRE-FOLDED `Literal(ArrayData)` of `k`
    * exact DECIMAL(30,24) constants (built driver-side rather than as
    * a `CreateArray` for ConstantFolding to collapse — one node from
    * the start, so analysis never walks k cast subtrees). In generated
    * code that is ONE entry in the
    * codegen references array, O(1) bytecode regardless of `k`. This
    * is what deleted the old `when`-chain codegen cliff: the chain's
    * bytecode grew linearly with `m·k` (and with `nprobe·m·k` in the
    * IVFADC rankers) until janino hit its method limits at ~4k
    * branches and Spark silently fell back to interpreted rows
    * (measured: PERFORMANCE.md round-13 table; PlanQualitySpec's
    * IVFADC flat-LUT arm pins k=256 inside whole-stage codegen). The
    * array-literal LUT has no such cliff — k=256 costs the same
    * bytecode as k=4 — while keeping the same exact decimal constants,
    * so the engine-exact ranking contract is unchanged.
    */
  private def lutArrayLit(qs: Array[Double],
      codebook: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftShim.toColumn(
      org.apache.spark.sql.catalyst.expressions.Literal(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          codebook.map(cw => org.apache.spark.sql.types
            .Decimal(gridDist2(qs, cw), 30, 24): Any)),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DecimalType(30, 24),
          containsNull = false)))

  /** Guarded O(1) LUT lookup: fail FAST on a code outside
    * `[0, k)` (a codes table from a different/older model, or
    * corruption). The explicit bounds check matters beyond ANSI
    * politeness: `element_at` treats NEGATIVE indexes as from-the-end
    * lookups, so a corrupted code of −1 would silently read a wrong
    * (but valid-looking) constant — worse than the null fall-through
    * the old when-chain guarded against.
    */
  private def lutLookup(lutArr: Column, c: Column, s: Int,
      k: Int): Column =
    when(c >= 0 && c < k, element_at(lutArr, c + lit(1)))
      .otherwise(raise_error(concat(
        lit(s"pq code out of range for subspace $s (k=$k): "),
        c.cast("string"))).cast("decimal(30,24)"))

  /** The exact ADC distance expression: `Σ_s lut_s(code_s)` as a sum
    * of `m` DECIMAL(30,24) constants selected by array lookup. Shared
    * by [[adcTopK]] (whole-corpus) and, in per-cell form, by the
    * IVFADC rankers.
    *
    * DECIMAL(30,24), not (38,24): Spark widens an addition's precision
    * by one per step, and at 38 it would RE-SCALE (losing the exact
    * last digits); grid coords are < 10 so a subspace distance is
    * < 400·subDim — six integer digits of headroom keep all m-1
    * additions inside precision 38 with scale 24 intact, i.e. exact.
    * That headroom argument is exactly why callers require m ≤ 9.
    */
  private def adcDistExpr(codeCol: String, model: Model,
      query: Array[Double]): Column =
    (0 until model.m).map { s =>
      val qs = query.slice(s * model.subDim, (s + 1) * model.subDim)
      lutLookup(lutArrayLit(qs, model.codebooks(s)),
        col(codeCol).getItem(s), s, model.codebooks(s).length)
    }.reduce(_ + _)

  /** The exact-ranking contract only survives while every one of the
    * m-1 DECIMAL additions stays inside precision 38 at scale 24 —
    * true for m ≤ 9; at m ≥ 10 Spark would silently reduce the scale
    * (rounding the last digits) and the documented engine-exact
    * ranking would break WITHOUT error. Refuse loudly instead. (`k`
    * has no such ceiling: the flat-LUT array literals cost O(1)
    * bytecode at any codebook size — see [[lutArrayLit]].)
    */
  private def requireExactDecimalHeadroom(model: Model): Unit =
    require(model.m <= 9,
      s"m=${model.m} > 9 breaks the exact DECIMAL(30,24) ranking " +
        "(precision-38 headroom allows at most 8 additions); compute " +
        "the per-row sum on grid longs for larger m")

  def adcTopK(codes: DataFrame, idCol: String, codeCol: String,
      model: Model, query: Array[Double], topK: Int): DataFrame = {
    require(query.length == model.m * model.subDim,
      s"query dim ${query.length} != model dim ${model.m * model.subDim}")
    require(topK > 0, s"topK=$topK must be positive")
    requireExactDecimalHeadroom(model)
    val dist = adcDistExpr(codeCol, model, query)
    val top = codes.select(col(idCol), dist.as("__adc"))
      .orderBy(col("__adc"), col(idCol))
      .limit(topK)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__adc"), col(idCol))).cast("long"))
      .select(col("rank"), col(idCol))
  }

  /** The IVF-PQ read path — the composition a 100 TB ANN serving layer
    * actually runs ([[Ann]] owns the routing, this file the scoring):
    * route the query to its `nprobe` nearest coarse cells
    * ([[Ann.probeCells]] — driver-side, `cells`-sized), PARTITION-PRUNE
    * to those cells' rows (over [[Ann.writeCellPartitioned]]'s layout
    * this is nprobe/cells of the I/O), then rank by ADC over the PQ
    * codes — so a query touches neither the full corpus nor any full
    * vector in the probed slice. Same exact-decimal ranking contract
    * as [[adcTopK]].
    *
    * This variant scores RAW-vector codes (one global codebook, no
    * per-cell query work — the cheaper write/read path); the standard
    * IVFADC, which encodes residuals against the coarse centroids and
    * recovers measurable recall at equal code budget, is
    * [[fitResiduals]]/[[ivfAdcTopK]].
    */
  def ivfPqTopK(
      assigned: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Double])], model: Model,
      query: Array[Double], topK: Int, nprobe: Int): DataFrame =
    adcTopK(
      encode(assigned.filter(
        col("cell").isin(Ann.probeCells(centroids, query.toSeq, nprobe): _*)),
        vecCol, model),
      idCol, "code", model, query, topK)

  // ------------------------------------------------- IVFADC (residuals)

  /** The `cell → centroid` lookup as ONE pre-folded `Literal(MapData)`
    * node — NOT a `CreateMap` of per-coordinate `lit`s. The
    * distinction is plan-construction cost, not semantics: a CreateMap
    * of 16 cells × 64 doubles is a ~1000-node expression tree, and
    * every `getItem` that references it duplicates the whole tree —
    * [[encodeResiduals]]' per-coordinate form would carry `dim` copies
    * (~65k nodes) through analysis and optimization (measured round
    * 13: ~1 s of driver time per query on the q128 shape). The folded
    * literal is one node sharing one MapData however often it is
    * referenced. Same ANSI fail-fast on a missing cell id
    * (MAP_KEY_DOES_NOT_EXIST).
    */
  private def centroidMapLit(centroids: Seq[(Int, Seq[Double])]): Column = {
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.sql.types._
    val keys = new GenericArrayData(centroids.map(_._1).toArray)
    val vals = new GenericArrayData(centroids.map { case (_, c) =>
      new GenericArrayData(c.toArray): Any }.toArray)
    org.apache.spark.sql.GraftShim.toColumn(
      org.apache.spark.sql.catalyst.expressions.Literal(
        new ArrayBasedMapData(keys, vals),
        MapType(IntegerType, ArrayType(DoubleType, containsNull = false),
          valueContainsNull = false)))
  }

  /** The residual of each assigned vector against its coarse-cell
    * centroid: `x − centroid(cell)`, per coordinate in double (both
    * engines' IEEE-754 subtraction — deterministic, so the scale-12
    * grid downstream sees identical operands). The centroid lookup is
    * the pre-folded [[centroidMapLit]]; under ANSI mode a cell id
    * missing from `centroids` fails fast (MAP_KEY_DOES_NOT_EXIST)
    * instead of nulling the residual.
    */
  private def residualExpr(vecCol: String, cellCol: String,
      centroids: Seq[(Int, Seq[Double])]): Column =
    zip_with(col(vecCol).cast("array<double>"),
      element_at(centroidMapLit(centroids), col(cellCol).cast("int")),
      (x, c) => x - c)

  /** Train PQ codebooks on coarse-cell RESIDUALS — the actual IVFADC
    * of Jégou et al. (TPAMI 2011, §IV): the coarse quantizer explains
    * the between-cell variance, so the product codebooks spend their
    * k codewords on the (much smaller) within-cell displacement
    * instead of re-encoding absolute position. At equal code budget
    * this measurably improves recall over raw-vector codes (PqSpec
    * pins the improvement on a planted-cluster fixture). Same
    * determinism contract as [[fit]] — residual doubles feed the same
    * decimal grid.
    */
  def fitResiduals(
      assigned: DataFrame, idCol: String, vecCol: String, cellCol: String,
      centroids: Seq[(Int, Seq[Double])], dim: Int,
      m: Int, k: Int, iters: Int): Model =
    fit(assigned.select(col(idCol),
        residualExpr(vecCol, cellCol, centroids).as(vecCol)),
      idCol, vecCol, dim, m, k, iters)

  /** Encode each assigned vector's RESIDUAL as its `m` codeword ids —
    * the IVFADC write path ([[fitResiduals]]' model).
    *
    * NOT [[residualExpr]] + `slice`: `zip_with` is a CodegenFallback
    * higher-order function, and routing the residual through it left
    * the whole encode projection interpreted (measured round 13 — the
    * one non-codegen stage in the ADC chain). Here each subspace's
    * residual slice is a plain `CreateArray` of per-coordinate
    * subtractions (`vec[i] − centroid[i]`, same IEEE-754 operands and
    * results), so the encode stays inside whole-stage codegen;
    * subexpression elimination collapses the repeated centroid-map
    * lookup. Same fail-fast posture under ANSI: a short vector hits
    * INVALID_ARRAY_INDEX, an unknown cell id
    * MAP_KEY_DOES_NOT_EXIST.
    */
  def encodeResiduals(
      assigned: DataFrame, vecCol: String, cellCol: String,
      centroids: Seq[(Int, Seq[Double])], model: Model): DataFrame = {
    val vec = col(vecCol).cast("array<double>")
    val cent = element_at(centroidMapLit(centroids), col(cellCol).cast("int"))
    assigned.withColumn("code", array((0 until model.m).map { s =>
      graft.plans.GraftFunctions.gridArgmin(
        array((s * model.subDim until (s + 1) * model.subDim).map(i =>
          vec.getItem(i) - cent.getItem(i)): _*),
        model.codebooks(s))
    }: _*))
  }

  /** The IVFADC read path (residual codes): route to the `nprobe`
    * nearest cells, then rank by ADC where each probed cell `c` gets
    * its OWN lookup table built from the query's residual against
    * `centroid(c)` — `‖(q − c) − codeword‖²` per subspace, the
    * query-residual LUT of Jégou et al. §IV.B. Rows carry their cell,
    * so the per-row distance selects its cell's LUT by one lookup
    * into a constant-folded `cell → LUT-array` map literal
    * ([[rankByCellLuts]] — bytecode O(m), no nprobe·k codegen growth).
    * Same exact-decimal total-order contract: ties break on id, the
    * ranking is engine-independent. Grid bound: the QUERY residual
    * against every probed cell must also satisfy |coordinate| < 10
    * (the scale-12 grid's domain) — true whenever query and centroids
    * share the data's scale; fails fast in [[gridDist2]] otherwise.
    */
  def ivfAdcTopK(
      assigned: DataFrame, idCol: String, vecCol: String, cellCol: String,
      centroids: Seq[(Int, Seq[Double])], model: Model,
      query: Array[Double], topK: Int, nprobe: Int): DataFrame = {
    require(query.length == model.m * model.subDim,
      s"query dim ${query.length} != model dim ${model.m * model.subDim}")
    require(topK > 0, s"topK=$topK must be positive")
    requireExactDecimalHeadroom(model)
    val probes = Ann.probeCells(centroids, query.toSeq, nprobe)
    val codes = encodeResiduals(
      assigned.filter(col(cellCol).isin(probes: _*)),
      vecCol, cellCol, centroids, model)
    rankByCellLuts(codes, idCol, cellCol, probes, centroids, model,
      query, topK)
  }

  /** The shared IVFADC ranking tail: per-probed-cell query-residual
    * LUTs over an already-filtered `(idCol, code, cellCol)` relation.
    *
    * The per-cell LUTs live in ONE foldable map literal
    * `cell → flat array of m·k decimals` (flat layout: entry
    * `s·k + code_s` is subspace `s`'s distance for codeword
    * `code_s`) — constant-folded to a single `Literal(MapData)`, one
    * codegen reference. The per-row expression is one guarded map
    * lookup + `m` guarded array lookups: bytecode O(m), independent
    * of BOTH `nprobe` and `k`, where the old per-cell `when`-chain
    * grew O(nprobe·m·k) and fell out of whole-stage codegen past ~4k
    * branches. Same exact-decimal total order; ties break on id.
    */
  private def rankByCellLuts(
      codes: DataFrame, idCol: String, cellCol: String, probes: Seq[Int],
      centroids: Seq[(Int, Seq[Double])], model: Model,
      query: Array[Double], topK: Int): DataFrame = {
    val centById = centroids.toMap
    val k = model.codebooks.map(_.length).max
    // ONE pre-folded Literal(MapData) node (the [[centroidMapLit]]
    // rationale): the m distance terms below each reference the map,
    // and a CreateMap of nprobe·m·k decimal casts would be copied m
    // times through analysis — at the PlanQualitySpec envelope that is
    // 8 copies of a ~16k-node tree
    val cellLutMap = {
      import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
      import org.apache.spark.sql.types._
      val keys = new GenericArrayData(probes.toArray)
      val vals = new GenericArrayData(probes.map { cell =>
        val qres = query.indices.map(i => query(i) - centById(cell)(i)).toArray
        new GenericArrayData((0 until model.m).flatMap { s =>
          val qs = qres.slice(s * model.subDim, (s + 1) * model.subDim)
          val cb = model.codebooks(s)
          // pad ragged codebooks to the flat k stride; the bounds
          // guard below (per-subspace true k) keeps pads unreachable
          (0 until k).map { j =>
            val d = if (j < cb.length) gridDist2(qs, cb(j))
                    else new java.math.BigDecimal(java.math.BigInteger.ZERO, 24)
            org.apache.spark.sql.types.Decimal(d, 30, 24): Any
          }
        }.toArray): Any
      }.toArray)
      org.apache.spark.sql.GraftShim.toColumn(
        org.apache.spark.sql.catalyst.expressions.Literal(
          new ArrayBasedMapData(keys, vals),
          MapType(IntegerType,
            ArrayType(DecimalType(30, 24), containsNull = false),
            valueContainsNull = false)))
    }
    // rows can only reach here with a probed cell id (callers filter),
    // so the fall-through arm is a loud invariant check (kept explicit
    // rather than leaning on ANSI's MAP_KEY_DOES_NOT_EXIST)
    val cellC = col(cellCol).cast("int")
    val lutArr = when(cellC.isin(probes: _*),
        element_at(cellLutMap, cellC))
      .otherwise(raise_error(concat(
        lit("ivfAdc ranking: unprobed cell reached scoring: "),
        col(cellCol).cast("string")))
        .cast("array<decimal(30,24)>"))
    // index the FLAT array directly (element_at at offset s·k +
    // code + 1) — no per-row slice copies; same negative-code guard
    // as [[lutLookup]] (from-the-end indexing would read a wrong
    // constant silently)
    val dist = (0 until model.m).map { s =>
      val sk = model.codebooks(s).length
      val c = col("code").getItem(s)
      when(c >= 0 && c < sk,
          element_at(lutArr, c + lit(s * k + 1)))
        .otherwise(raise_error(concat(
          lit(s"pq code out of range for subspace $s (k=$sk): "),
          c.cast("string"))).cast("decimal(30,24)"))
    }.reduce(_ + _)
    val top = codes.select(col(idCol), dist.as("__adc"))
      .orderBy(col("__adc"), col(idCol))
      .limit(topK)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__adc"), col(idCol))).cast("long"))
      .select(col("rank"), col(idCol))
  }

  /** Persist an IVFADC index the way a 100 TB serving layer stores it:
    * rows route to their coarse cell, RESIDUAL codes are computed once
    * at write time, and the table is `(idCol, code)` partitioned by
    * `cell` — `m` small ints per vector, NO vector column at all. The
    * write-side pair of [[probeIvfAdcStore]] (the
    * [[Ann.writeCellPartitioned]] layout with codes instead of
    * vectors: nprobe/cells of the I/O per query, and what little is
    * read is codes, not floats).
    */
  def writeIvfAdcIndex(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Double])], model: Model,
      path: String): Unit =
    encodeResiduals(Ann.assignCells(df, vecCol, centroids), vecCol,
        "cell", centroids, model)
      .select(col(idCol), col("code"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Probe a [[writeIvfAdcIndex]] store: partition-pruned scan of the
    * `nprobe` probed cells' CODE rows (the vectors were never stored —
    * the scan's ReadSchema is ids and codes only, which
    * PqStoreSpec pins along with the PartitionFilters entry), then the
    * same per-cell query-residual exact-decimal ranking as
    * [[ivfAdcTopK]] — with which it agrees row-for-row on the same
    * data (spec-pinned).
    */
  def probeIvfAdcStore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, centroids: Seq[(Int, Seq[Double])], model: Model,
      query: Array[Double], topK: Int, nprobe: Int): DataFrame = {
    require(query.length == model.m * model.subDim,
      s"query dim ${query.length} != model dim ${model.m * model.subDim}")
    require(topK > 0, s"topK=$topK must be positive")
    requireExactDecimalHeadroom(model)
    val probes = Ann.probeCells(centroids, query.toSeq, nprobe)
    val codes = spark.read.parquet(path)
      .filter(col("cell").isin(probes: _*))
    rankByCellLuts(codes, idCol, "cell", probes, centroids, model,
      query, topK)
  }
}
