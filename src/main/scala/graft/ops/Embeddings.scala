package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.expr.VectorExpressions

/** Embedding-column utilities a corpus pipeline runs before/after
  * similarity search: L2 normalization (so cosine reduces to a dot —
  * halves the arithmetic of every downstream pair scoring) and
  * symmetric int8 quantization (4× smaller vectors on disk and over
  * the shuffle wire — the standard storage/recall trade for
  * billion-vector stores; recall loss is bounded by scale/2 per
  * component).
  *
  * All kernels are codegen'd Catalyst expressions
  * ([[graft.expr.VectorDivide]] & friends) — scan-stage work, no
  * shuffle, no interpreted higher-order functions on the hot path.
  */
object Embeddings {

  /** L2 norm of a vector column (sequential fold — oracle-parity). */
  def norm(vec: Column): Column = Similarity.norm(vec)

  /** vec / ||vec||₂ as array<double>. Zero vectors produce NaN
    * components (0/0) — filter them beforehand if they can occur. */
  def l2Normalize(vec: Column): Column =
    VectorExpressions.vecDiv(vec, Similarity.norm(vec))

  /** symmetric int8 scale for a vector: maxAbs/127 (0.0 stays exactly
    * 0). Zero vectors get scale 0 — quantize guards them to all-zero
    * output via the clamp, and dequantize restores all-zero exactly. */
  def int8Scale(vec: Column): Column = {
    val vd = vec.cast("array<double>")
    greatest(array_max(vd), -array_min(vd)) / lit(127.0)
  }

  /** quantize at an explicit scale (array<tinyint>). */
  def quantizeInt8(vec: Column, scale: Column): Column =
    VectorExpressions.vecQuantizeInt8(vec, scale)

  /** dequantize back to array<double>. */
  def dequantInt8(q: Column, scale: Column): Column =
    VectorExpressions.vecDequantInt8(q, scale)

  /** frame-level: replace `vec` with (`vec`_q tinyint array, `vec`_scale)
    * — the layout to WRITE; join/dequant on read. One scan, two
    * codegen'd kernels, no shuffle. */
  def quantizeEmbeddings(df: DataFrame, vec: String): DataFrame = {
    val sc = s"${vec}_scale"
    df.withColumn(sc, int8Scale(col(vec)))
      .withColumn(s"${vec}_q", quantizeInt8(col(vec), col(sc)))
      .drop(vec)
  }

  /** inverse of [[quantizeEmbeddings]]: reconstruct `vec` (lossy —
    * error ≤ scale/2 per component). */
  def dequantEmbeddings(df: DataFrame, vec: String): DataFrame =
    df.withColumn(vec, dequantInt8(col(s"${vec}_q"), col(s"${vec}_scale")))
      .drop(s"${vec}_q", s"${vec}_scale")

  /** approximate dot of two QUANTIZED vectors, scored directly on the
    * int8 arrays (integer accumulate, then × scaleA·scaleB) — reads 4×
    * less data than dequantize-then-dot and never materializes the
    * double arrays. The candidate-scoring kernel for ANN over a
    * quantized corpus. */
  def dotQuantized(qa: Column, scaleA: Column, qb: Column,
                   scaleB: Column): Column =
    VectorExpressions.dotInt8(qa, qb).cast("double") * scaleA * scaleB

  /** approximate cosine of two quantized vectors (norms likewise from
    * the integer self-dots — zero-norm inputs yield NaN). */
  def cosineQuantized(qa: Column, scaleA: Column, qb: Column,
                      scaleB: Column): Column = {
    val num = dotQuantized(qa, scaleA, qb, scaleB)
    val na = sqrt(dotQuantized(qa, scaleA, qa, scaleA))
    val nb = sqrt(dotQuantized(qb, scaleB, qb, scaleB))
    num / (na * nb)
  }

  /** population covariance matrix of a vector column, as (i, j, cov)
    * rows for the upper triangle i ≤ j — the input to PCA / whitening /
    * Mahalanobis scoring over an embedding corpus.
    *
    * ONE single-pass aggregation ([[graft.expr.VectorMomentsAgg]]):
    * each map task accumulates a d(d+1)/2-slot register of exact
    * decimal(18,6) pair-product sums and ships ONLY that buffer — no
    * explode, no self-join, no n·d² shuffle rows. The d×d result is a
    * bounded driver aggregate (the KMeans-centroids pattern);
    * cov(i,j) = P_ij/n − (S_i/n)(S_j/n), rounded to 9 dp (engine-
    * portable: the sums are exact, the final multiply-subtract chain is
    * the only fp step — q96's DuckDB oracle replays it bit-for-bit).
    *
    * Inputs should be bounded (|x_i| ≲ 1e3, e.g. normalized embeddings)
    * — the micro-sums overflow past ~9.2e12 rows at |x_i·x_j| ≤ 1 and
    * the aggregate throws (never wraps) on overflow. */
  def covarianceMatrix(df: DataFrame, vec: String, dim: Int): DataFrame = {
    import graft.expr.MomentsAggregate._
    val m = df.agg(vectorMoments(col(vec), dim).as("m"))
      .head().getSeq[Long](0).toArray
    val n = m(0)
    require(n > 0, s"covarianceMatrix: no non-null '$vec' rows")
    def r9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    val mean = (0 until dim).map(i => microsToDouble(m(1 + i)) / n)
    val rows = for { i <- 0 until dim; j <- i until dim } yield {
      val p = microsToDouble(m(1 + dim + triIndex(dim, i, j)))
      (i, j, r9(p / n - mean(i) * mean(j)))
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("i", "j", "cov")
  }

  /** top-k principal components of the embedding corpus: power
    * iteration with deflation over the collected covariance matrix
    * (d×d doubles on the driver — trivially bounded; the distributed
    * work is [[covarianceMatrix]]'s one pass). Deterministic: fixed
    * iteration count, fixed hash-seeded start vector, sign normalized
    * so the largest-|component| coordinate is positive. Returns k
    * orthonormal rows. */
  def pcaBasis(df: DataFrame, vec: String, dim: Int, k: Int,
               iters: Int = 100): Array[Array[Double]] = {
    require(k >= 1 && k <= dim, s"pcaBasis: need 1 <= k <= $dim")
    val cov = Array.ofDim[Double](dim, dim)
    covarianceMatrix(df, vec, dim).collect().foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
    }
    val basis = Array.ofDim[Double](k, dim)
    for (comp <- 0 until k) {
      // deterministic pseudo-random start (splitmix-style hash per slot)
      var v = Array.tabulate(dim) { i =>
        val h = (comp * 1000003L + i) * -7046029254386353131L
        ((h ^ (h >>> 32)).toDouble / Long.MaxValue.toDouble).abs + 1e-3
      }
      def matVec(x: Array[Double]) =
        Array.tabulate(dim)(i => (0 until dim).map(j => cov(i)(j) * x(j)).sum)
      def orthogonalize(x: Array[Double]): Array[Double] = {
        var y = x
        for (p <- 0 until comp) {
          val d = (0 until dim).map(i => y(i) * basis(p)(i)).sum
          y = Array.tabulate(dim)(i => y(i) - d * basis(p)(i))
        }
        y
      }
      def normalize(x: Array[Double]) = {
        val nrm = math.sqrt(x.map(t => t * t).sum)
        if (nrm == 0.0) x else x.map(_ / nrm)
      }
      v = normalize(orthogonalize(v))
      for (_ <- 0 until iters) v = normalize(orthogonalize(matVec(v)))
      // sign convention: largest-|coordinate| positive
      val am = v.indices.maxBy(i => math.abs(v(i)))
      basis(comp) = if (v(am) < 0) v.map(-_) else v
    }
    basis
  }

  /** project a vector column onto a (driver-side) basis: array<double>
    * of dot products, one codegen'd [[graft.expr.DotProduct]] kernel
    * per component against a literal row — scan-stage, no shuffle. The
    * dimensionality-reduction step before clustering / ANN at reduced
    * cost. */
  def project(vec: Column, basis: Array[Array[Double]]): Column =
    array(basis.toIndexedSeq.map(b => VectorExpressions.dot(vec, lit(b))): _*)

  /** frame-level PCA reduce: fit the basis, append `outCol` with the
    * k-dim projection. */
  def pcaReduce(df: DataFrame, vec: String, dim: Int, k: Int,
                outCol: String = "pca"): DataFrame =
    df.withColumn(outCol, project(col(vec), pcaBasis(df, vec, dim, k)))

  /** deterministic Johnson-Lindenstrauss sign matrix: outDim rows of
    * ±1/√outDim, signs from a splitmix64 hash of (seed, row, col) — no
    * RNG state, so every executor (and every re-run) derives the same
    * matrix from the literal seed. The data-independent alternative to
    * [[pcaBasis]] when a fit pass is too expensive or the corpus
    * distribution shifts. */
  def randomProjectionBasis(dim: Int, outDim: Int,
                            seed: Long = 42L): Array[Array[Double]] = {
    require(dim > 0 && outDim > 0, "randomProjectionBasis: positive dims")
    def mix(z0: Long): Long = {
      var z = z0 + -7046029254386353131L
      z = (z ^ (z >>> 30)) * -4658895280553007687L
      z = (z ^ (z >>> 27)) * -7723592293110705685L
      z ^ (z >>> 31)
    }
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    Array.tabulate(outDim, dim)((r, c) =>
      if (mix(seed * 1000003L + r.toLong * 65537L + c) < 0) -inv else inv)
  }

  /** JL-project a vector column to outDim dims (scan-stage, codegen'd
    * dots against the literal sign matrix — no shuffle, no fit pass).
    * E[‖proj(a)−proj(b)‖²] = ‖a−b‖², so downstream cosine/L2 ANN keeps
    * its neighborhoods in expectation. */
  def randomProject(vec: Column, dim: Int, outDim: Int,
                    seed: Long = 42L): Column =
    project(vec, randomProjectionBasis(dim, outDim, seed))

  // ---- product quantization (Jégou, Douze & Schmid 2011, IEEE TPAMI —
  // public method; the FAISS-style compress-and-search path) -------------

  /** Raw PQ codebooks from the corpus itself: subspace s's centroids
    * are the s-th subvectors of every `every`-th id (the lloydProfile
    * init convention — deterministic, SQL-replayable: q118's oracle
    * re-derives them with a WHERE clause). Returns codebooks(s)(j) =
    * j-th centroid of subspace s, j ordered by the source id. Refine
    * with [[pqTrainCodebooks]] when reconstruction error matters.
    *
    * K (= #selected ids) is capped at 256 — the byte-code regime that
    * also bounds this driver collect and the m×K ADC LUTs; a too-small
    * `every` at corpus scale fails fast (LIMIT K+1 scan, never an
    * unbounded collect) instead of OOMing the driver. */
  def pqInitCodebooks(df: DataFrame, id: String, vec: String, dim: Int,
                      m: Int, every: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"pqInitCodebooks: m=$m must divide dim=$dim")
    val sub = dim / m
    val rows = df.filter(col(id) % every === 0)
      .select(col(id), col(vec).cast("array<double>").as("v"))
      .limit(maxCodes + 1).collect().sortBy(_.getLong(0))
    require(rows.nonEmpty, "pqInitCodebooks: no centroid rows selected")
    require(rows.length <= maxCodes,
      s"pqInitCodebooks: id % $every selects > $maxCodes centroids — " +
        "PQ codes are byte-sized (K <= 256); raise `every`")
    Array.tabulate(m) { s =>
      rows.map(_.getSeq[Double](1).slice(s * sub, (s + 1) * sub).toArray)
    }
  }

  /** byte-code regime: at most 256 centroids per subspace. */
  val maxCodes = 256

  /** Lloyd-refined PQ codebooks: one [[KMeans.lloydProfile]] run per
    * subspace over the sliced vectors (exact-integer means, bit-stable
    * across partitionings). Centroid count = rows with id % every == 0;
    * cells that lose every member drop (standard Lloyd), so subspaces
    * may end with fewer codes. */
  def pqTrainCodebooks(df: DataFrame, id: String, vec: String, dim: Int,
                       m: Int, every: Int, iters: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"pqTrainCodebooks: m=$m must divide dim=$dim")
    // same K <= 256 byte-code cap as pqInitCodebooks, checked BEFORE the
    // per-subspace Lloyd runs (each of which collects K init centroids).
    val kSel = df.filter(col(id) % every === 0).limit(maxCodes + 1).count()
    require(kSel >= 1 && kSel <= maxCodes,
      s"pqTrainCodebooks: id % $every selects $kSel centroids — " +
        s"need 1 <= K <= $maxCodes (byte-code regime); adjust `every`")
    val sub = dim / m
    Array.tabulate(m) { s =>
      val sliced = df.select(col(id),
        slice(col(vec).cast("array<double>"), s * sub + 1, sub).as("sv"))
      KMeans.lloydProfile(sliced, id, "sv", every, iters)
        .collect().groupBy(_.getLong(0)).toSeq
        .map { case (cell, rs) =>
          cell -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
        }.sortBy(_._1).map(_._2).toArray
    }
  }

  /** PQ encode: per subspace, the index of the nearest centroid by
    * squared L2 (d = ||c||² − 2·x·c — the lloydProfile formula; ties →
    * smaller index). One codegen'd [[graft.expr.PqEncode]] kernel per
    * row — ||c||² pre-folds sequentially (the oracle-replayed driver
    * fold), the dot accumulates in element order, so codes are
    * bit-identical to the SQL replay (the q66 parity convention) AND to
    * the interpreted struct-argmin formulation this replaced (which
    * cost ~1.4 s of fixed expression-eval overhead at sf0.1). Returns
    * array<int>, one code per subspace: dim doubles compress to m
    * small ints. */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    VectorExpressions.pqEncode(vec, codebooks)

  /** approximate reconstruction: concatenate the coded centroids. */
  def pqDecode(codes: Column, codebooks: Array[Array[Array[Double]]]): Column =
    concat(codebooks.zipWithIndex.map { case (cb, s) =>
      element_at(typedLit(cb.map(_.toSeq).toSeq), get(codes, lit(s)) + 1)
    }: _*)

  /** per-query ADC lookup table: lut(s)(j) = exact squared L2 between
    * the query's s-th subvector and centroid j of subspace s
    * (sequential diff² fold — the SQL-replayable order). */
  private def adcLut(q: Array[Double],
                     codebooks: Array[Array[Array[Double]]]): Seq[Seq[Double]] = {
    val sub = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (cb, s) =>
      cb.map { c =>
        var d = 0.0
        var i = 0
        while (i < sub) {
          val diff = q(s * sub + i) - c(i); d += diff * diff; i += 1
        }
        d
      }.toSeq
    }.toSeq
  }

  /** ADC distance column: sum of the m LUT entries the row's codes pick. */
  private def adistCol(lut: Seq[Seq[Double]], codes: Column): Column =
    lut.indices.map(s =>
      element_at(element_at(typedLit(lut), s + 1),
        get(codes, lit(s)) + 1)).reduce(_ + _)

  /** Asymmetric-distance top-k: each query builds an m×K lookup table
    * of exact subvector distances to every centroid (driver-side —
    * queries are a bounded set, the [[Similarity.topK]] convention) and
    * a corpus row's approximate distance is the SUM of m LUT entries
    * picked by its codes — the corpus is scanned once per batch with
    * only the m-byte codes read, never the raw vectors. Returns
    * (qid, rank, id, adist), rank 1..k by ascending approximate
    * squared-L2 (ties → smaller id). */
  def pqTopK(queries: Array[(Long, Array[Double])], corpus: DataFrame,
             id: String, codes: String,
             codebooks: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val perQuery = queries.map { case (qid, q) =>
      corpus.select(lit(qid).as("qid"), col(id),
          adistCol(adcLut(q, codebooks), col(codes)).as("adist"))
        .orderBy(col("adist"), col(id)).limit(k)
    }
    val w = Window.partitionBy("qid").orderBy(col("adist"), col(id))
    perQuery.reduce(_ unionAll _)
      .withColumn("rank", row_number().over(w))
      .select(col("qid"), col("rank"), col(id), col("adist"))
  }

  /** IVF + PQ composed search (the public IVFPQ shape, e.g. FAISS's
    * IVF,PQ index — here WITHOUT residual encoding, so the same global
    * codebooks and codes serve both the flat ADC scan and this one;
    * documented trade: slightly worse quantization than per-cell
    * residuals, one code table instead of |cells| of them, and the
    * whole chain stays SQL-replayable).
    *
    * Corpus rows are assigned to their nearest coarse centroid by the
    * SAME ‖c‖²−2xc argmin the PQ encode uses — literally one
    * [[graft.expr.PqEncode]] kernel call whose single "subspace" spans
    * the full vector — so assignment is a scan-stage codegen'd column.
    * Each query probes its `nProbe` nearest cells (driver-side: the
    * coarse set is small by construction) and the ADC scan reads ONLY
    * probed-cell rows: at corpus scale the table would be written
    * partitioned/bucketed by cell, turning the probe into partition
    * pruning — locally the filter prunes at the scan. Ties everywhere
    * break toward the smaller index/id. Returns (qid, rank, id, adist),
    * rank 1..k by ascending ADC distance. */
  def pqIvfTopK(queries: Array[(Long, Array[Double])], corpus: DataFrame,
                coarse: Array[Array[Double]], id: String, codes: String,
                vec: String, codebooks: Array[Array[Array[Double]]],
                k: Int, nProbe: Int): DataFrame = {
    require(coarse.nonEmpty, "pqIvfTopK: need at least one coarse centroid")
    require(k >= 1 && nProbe >= 1, "pqIvfTopK: k and nProbe must be >= 1")
    val assigned = corpus.withColumn("__cell",
      get(VectorExpressions.pqEncode(col(vec), Array(coarse)), lit(0)))
    val perQuery = queries.map { case (qid, q) =>
      val probed = probeOrder(q, coarse).take(nProbe)
      assigned.filter(col("__cell").isin(probed: _*))
        .select(lit(qid).as("qid"), col(id),
          adistCol(adcLut(q, codebooks), col(codes)).as("adist"))
        .orderBy(col("adist"), col(id)).limit(k)
    }
    val w = Window.partitionBy("qid").orderBy(col("adist"), col(id))
    perQuery.reduce(_ unionAll _)
      .withColumn("rank", row_number().over(w))
      .select(col("qid"), col("rank"), col(id), col("adist"))
  }

  /** Coarse-cell id and RESIDUAL (v − centroid[cell]) of every row, as
    * Columns — the residual-IVFPQ building block. Cell assignment is
    * one PqEncode kernel call whose single "subspace" spans the full
    * vector (same as [[pqIvfTopK]]); the residual is a scan-stage
    * zip_with against the broadcast centroid literal. */
  def residualParts(vec: Column,
                    coarse: Array[Array[Double]]): (Column, Column) = {
    val cell = get(VectorExpressions.pqEncode(vec, Array(coarse)), lit(0))
    val cent = element_at(typedLit(coarse.map(_.toSeq).toSeq), cell + 1)
    (cell, zip_with(vec.cast("array<double>"), cent, _ - _))
  }

  /** PQ codebooks over RESIDUALS: [[pqInitCodebooks]]'s sampling, but
    * each sampled row contributes its residual vs its own coarse cell.
    * Residual distributions are centered and much tighter than raw
    * vectors, so the same K buys a finer quantization — the reason
    * FAISS's IVFPQ encodes residuals by default. */
  def pqResidualCodebooks(df: DataFrame, id: String, vec: String,
                          coarse: Array[Array[Double]], dim: Int,
                          m: Int, every: Int): Array[Array[Array[Double]]] = {
    val (_, res) = residualParts(col(vec), coarse)
    pqInitCodebooks(df.select(col(id), res.as(vec)), id, vec, dim, m, every)
  }

  /** Residual IVF+PQ search (the full FAISS IVFPQ shape): rows carry
    * (cell, residual codes); each query probes its nProbe nearest
    * cells, and for every probed cell the ADC LUT is built from the
    * RESIDUAL query (q − centroid[cell]) — so one query contributes
    * nProbe small LUTs, and the scan still reads only probed-cell rows
    * and only their m-byte codes. Distance fold order matches the
    * PqEncode kernel and the DuckDB oracle (q159) exactly. */
  def pqIvfResidualTopK(queries: Array[(Long, Array[Double])],
                        corpus: DataFrame, coarse: Array[Array[Double]],
                        id: String, vec: String,
                        codebooks: Array[Array[Array[Double]]],
                        k: Int, nProbe: Int): DataFrame = {
    require(coarse.nonEmpty, "pqIvfResidualTopK: need a coarse centroid")
    require(k >= 1 && nProbe >= 1, "pqIvfResidualTopK: k, nProbe >= 1")
    val (cell, res) = residualParts(col(vec), coarse)
    val assigned = corpus.withColumn("__cell", cell)
      .withColumn("__codes", VectorExpressions.pqEncode(res, codebooks))
    val perQueryCell = for {
      (qid, q) <- queries.toSeq
      j <- probeOrder(q, coarse).take(nProbe)
    } yield {
      val resQ = q.indices.map(i =>
        q(i) - (if (i < coarse(j).length) coarse(j)(i) else 0.0)).toArray
      assigned.filter(col("__cell") === j)
        .select(lit(qid).as("qid"), col(id),
          adistCol(adcLut(resQ, codebooks), col("__codes")).as("adist"))
        .orderBy(col("adist"), col(id)).limit(k)
    }
    val w = Window.partitionBy("qid").orderBy(col("adist"), col(id))
    perQueryCell.reduce(_ unionAll _)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(id), col("adist"))
  }

  /** probe order: cells by ascending (c² − 2 q·c), the kernel's own
    * assignment formula and fold order. */
  private def probeOrder(q: Array[Double],
                         coarse: Array[Array[Double]]): Seq[Int] =
    coarse.zipWithIndex.map { case (c, j) =>
      var c2 = 0.0
      c.foreach(x => c2 += x * x)
      var dot = 0.0
      var i = 0
      val lim = math.min(c.length, q.length)
      while (i < lim) { dot += q(i) * c(i); i += 1 }
      (c2 - 2.0 * dot, j)
    }.sortBy { case (d, j) => (d, j) }.map(_._2).toSeq

  /** Compressed-search completion (the standard two-stage pattern of
    * public PQ systems, e.g. FAISS's IVFPQ + refine): [[pqTopK]]'s ADC
    * pass shortlists `rerank`·k candidates per query reading ONLY the
    * m-byte codes, then the shortlist — |queries|·rerank·k rows, never
    * the corpus — joins back to the full vectors for an EXACT squared-L2
    * re-rank. Recall@k can only improve over ADC-only (the exact metric
    * re-orders the shortlist; differential-asserted in PqSpec).
    *
    * The exact distance is the sequential Σ(qᵢ−vᵢ)² fold via
    * aggregate(zip_with(...)) — interpreted, but only over the bounded
    * shortlist, and bit-identical to the oracle's list_sum replay (the
    * DotProduct parity convention). The per-query rank window's group
    * is rerank·k rows — bounded, never a corpus sort. Returns
    * (qid, rank, id, dist), rank 1..k ascending exact squared-L2
    * (ties → smaller id). */
  def pqTopKRerank(queries: Array[(Long, Array[Double])], corpus: DataFrame,
                   id: String, codes: String, vec: String,
                   codebooks: Array[Array[Array[Double]]], k: Int,
                   rerank: Int = 4): DataFrame = {
    require(k >= 1 && rerank >= 1, "pqTopKRerank: k and rerank must be >= 1")
    val short = pqTopK(queries, corpus, id, codes, codebooks, k * rerank)
      .select(col("qid"), col(id))
    val full = corpus.select(col(id), col(vec).cast("array<double>").as("__v"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val qdf = queries.toIndexedSeq.map { case (q, v) => (q, v.toSeq) }
      .toDF("qid", "__q")
    val w = Window.partitionBy("qid").orderBy(col("dist"), col(id))
    short.join(full, Seq(id)).join(broadcast(qdf), Seq("qid"))
      .withColumn("dist", aggregate(
        zip_with(col("__v"), col("__q"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(id), col("dist"))
  }
}
