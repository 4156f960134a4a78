package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Dense-vector math over `array<float>` embedding columns, composed from
 * codegen'd higher-order functions (`zip_with`/`aggregate`/`transform`).
 * Accumulation is in double regardless of storage type.
 */
object VectorFunctions {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via the native codegen'd kernel (ArrayKernels.scala);
    * requires [[GraftFunctions.register]] on the session (all engine
    * entry points do). [[dotHof]] is the dependency-free fallback. */
  def dot(a: Column, b: Column): Column = GraftFunctions.graftDot(a, b)

  /** Builtin-composed dot product (interpreted HOF; tests/reference). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]; 0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d  = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0.0, lit(0.0)).otherwise(d / nn)
  }

  /**
   * Unit-normalized copy of `v` given its *materialized* norm column
   * (stage `norm(v)` in a prior projection — HOF lambdas re-evaluate
   * captured non-attribute expressions per element). Zero vectors pass
   * through unchanged. After normalization, cosine = [[dot]] — one array
   * pass per pair instead of three.
   */
  def normalized(v: Column, nrm: Column): Column =
    when(nrm === 0.0, transform(v, x => x.cast("double")))
      .otherwise(transform(v, x => x.cast("double") / nrm))

  /** Codegen'd one-shot unit normalization (norm + divide in one native
    * node, bit-identical to `normalized(v, norm(v))`). Use THIS for any
    * column other expressions will reference: the HOF form above is a
    * CodegenFallback that re-runs interpreted per REFERENCING
    * expression when CSE can't fuse them — measured 30× on the PQ
    * encode projection (see [[graft.functions.expressions.UnitVector]]). */
  def unitVec(v: Column): Column = GraftFunctions.graftUnitVec(v)

  /**
   * Random-hyperplane (SimHash) LSH bucket id for a vector: `bits` sign
   * bits against pseudo-random hyperplanes derived deterministically from
   * (seed, bit, dim) via a hash — no stored model, identical on every
   * executor. Cosine-similar vectors land in the same bucket with
   * probability (1 - θ/π)^bits; use several tables (seeds) for recall.
   *
   * Scale path: bucketing turns the O(N²) all-pairs cosine join into a
   * per-bucket join — the 100 TB-safe ANN pattern (bucket sizes bounded,
   * shuffle keyed by bucket).
   */
  def lshBucket(v: Column, bits: Int, seed: Int): Column = {
    val dv = asDouble(v)
    val bitCols = (0 until bits).map { b =>
      // hyperplane component for (seed,b,dim i): hash → [-0.5, 0.5)
      val proj = aggregate(
        zip_with(dv, sequence(lit(0), size(v) - 1),
          (x, i) => x * (pmod(hash(lit(seed), lit(b), i), lit(1000003)).cast("double") / 1000003.0 - 0.5)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bitCols.reduce(_.bitwiseOR(_))
  }

  /**
   * [[lshBucket]] with plan-time hyperplane LITERALS
   * ([[PortableHash.planes]]) instead of per-row hash-derived
   * components: the same constants embed in the generated oracle SQL, so
   * bucket assignment is cross-engine replayable. Feed the RAW vector —
   * sign bits are scale-invariant, so bucketing before normalization
   * saves a pass AND spares the oracle from mirroring fp normalization.
   */
  def lshBucketPlanes(v: Column, planes: Seq[Seq[Double]]): Column = {
    val dv = asDouble(v)
    val dim = planes.head.size
    val bitCols = planes.zipWithIndex.map { case (w, b) =>
      val proj = aggregate(zip_with(dv, typedlit(w), (x, wc) => x * wc),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    // dimension guard: zip_with null-pads a length mismatch, which
    // would silently send EVERY vector to bucket 0 and turn the bucket
    // join into an all-pairs product (review finding) — fail loudly.
    when(size(v) === dim, bitCols.reduce(_.bitwiseOR(_)))
      .otherwise(raise_error(concat(
        lit(s"lshBucketPlanes: plane dim $dim != vector dim "), size(v).cast("string"))))
  }
}
