package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column functions (SURVEY.md §2.3). Composed from
  * higher-order functions over array columns — no UDF serialization,
  * works on any array<float>/array<double> column. Accumulation is
  * sequential in element order and in double precision, matching
  * DuckDB's list_* kernels on DOUBLE[] for oracle parity.
  */
object VectorFunctions {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /** Random-hyperplane signature: `planes(p)(d)` fixed pseudo-random
    * weights; bit p = sign of dot(v, planes(p)). Returns array<int> of
    * 0/1 bits — group consecutive `bandBits` bits for LSH buckets.
    * Executes as the native [[graft.plans.VectorKernels.hyperplaneBits]] (one double
    * loop per row vs an interpreted lambda fold per plane); its HOF
    * formulation is a test reference. */
  def hyperplaneBits(v: Column, planes: Array[Array[Double]]): Column =
    graft.plans.VectorColumns.hyperplaneBits(v, planes)

  /** Deterministic pseudo-random unit-free hyperplanes (fixed seed —
    * identical on every executor without shuffling state). */
  def makePlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  def maxAbs(v: Column): Column = array_max(transform(asDouble(v), x => abs(x)))

  /** Unit-L2-normalized copy of the vector (cosine reduces to dot on
    * normalized vectors — normalize once, score many). Zero vectors
    * pass through unchanged rather than dividing by zero. */
  def unitNorm(v: Column): Column = {
    val n = norm2(v)
    when(n > 0, transform(asDouble(v), x => x / n)).otherwise(asDouble(v))
  }

  /** Matryoshka truncation (Kusupati 2022-style): keep the first
    * `dims` coordinates and L2-renormalize, so the prefix is directly
    * comparable by cosine at the reduced dimensionality — the cheap
    * coarse stage of a truncate→rerank retrieval cascade. Scan-local
    * HOF arithmetic (slice + one sequential fold + per-element
    * divide); a zero-norm prefix yields null (no direction exists).
    * The fold is left-to-right, so an oracle summing in list order
    * reproduces it bit-for-bit. */
  def truncateRenorm(v: Column, dims: Int): Column = {
    require(dims > 0, s"dims must be positive: $dims")
    val p = asDouble(slice(v, 1, dims))
    val n = sqrt(aggregate(p, lit(0.0), (a, x) => a + x * x))
    when(n > 0, transform(p, x => x / n))
  }

  /** Symmetric int8 quantization: scale = 127 / max|x|, elements
    * mapped with floor(x·scale + 0.5) — explicit half-up rounding, the
    * same arithmetic in every engine (a bare `round` differs between
    * half-up and half-even implementations). 4× smaller vectors for
    * ANN recall stages; zero vectors quantize to zeros. Executes as the
    * native [[graft.plans.VectorKernels.int8Quantize]] (the HOF form,
    * a test reference, re-evaluates max|x| per ELEMENT when interpreted
    * — O(d²) per row). */
  def int8Quantize(v: Column): Column =
    graft.plans.VectorColumns.int8Quantize(v)

  /** Per-vector QA verdict — the admission gate in front of every ANN
    * / dedup / PCA consumer: an embedding batch with NaN/Inf entries
    * poisons cosine scores silently (NaN propagates through dot
    * products into every comparison), a zero vector has no direction
    * (cosine undefined), and a wrong-length vector breaks subspace
    * encoders (PQ slices) at runtime. First failing rule in fixed
    * order: `null_vec` → `wrong_dim` → `non_finite` → `zero` → `ok` —
    * all scan-local HOF/aggregate arithmetic over the array, zero
    * shuffles; filter on `= "ok"` before indexing, aggregate the
    * reasons for the batch report. NaN needs the explicit `isnan`
    * probe — Spark SQL (like DuckDB) defines NaN = NaN as TRUE, so
    * the classic `x != x` test silently never fires; ±Inf is caught
    * by `abs(x) > 1e308`. */
  def vectorQaReason(v: Column, expectedDim: Int): Column = {
    val vd = asDouble(v)
    val nonFinite = exists(vd, x => isnan(x) || abs(x) > lit(1e308))
    when(v.isNull, lit("null_vec"))
      .when(size(v) =!= expectedDim, lit("wrong_dim"))
      .when(nonFinite, lit("non_finite"))
      .when(!exists(vd, x => x =!= lit(0.0)), lit("zero"))
      .otherwise(lit("ok"))
  }
}
