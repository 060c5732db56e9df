package graft.functions

import graft.functions.expressions.{DotProductFloat, DotProductInt}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns
  * (SURVEY.md §2.2). The hot path — Σ a_i·b_i — is a native codegen
  * Catalyst expression (`DotProductFloat`); Spark's higher-order
  * functions are interpreted and dominate similarity profiles
  * otherwise. Arithmetic is double-widened per element with a fixed
  * left-to-right summation order so Spark and the DuckDB `Sql`
  * mirrors produce bit-identical results.
  *
  * Driver-held models (learned centroids, PQ codebooks, lattice rows
  * as data) are applied by [[VectorModel]], the one place for the
  * scoring order and the tie-break; the literal lattice weights below
  * come from [[VectorModel.latticeWeight]].
  *
  * Query-shape rule for 100 TB: precompute `norm` once per vector
  * *before* any join (it's O(dim) per row), so each candidate pair
  * costs exactly one dot product.
  */
object VectorFunctions {

  /** Σ a_i·b_i in double precision, index order (codegen'd). */
  def dot(a: Column, b: Column): Column = DotProductFloat(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine from raw vectors — for one-shot use. Inside joins, prefer
    * `dot(a, b) / (normA * normB)` with precomputed norm columns.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Per-vector symmetric int8 scale: 127 / max|aᵢ|. The max-abs
    * element maps to ±127 exactly; float→double promotion is exact, so
    * the scale is bit-identical across engines. ONLY the exact-zero
    * vector is special-cased (denominator 1 → finite scale, all-zero
    * codes): without it, Spark's 127/0 = Inf feeds floor(0·Inf + 0.5)
    * = floor(NaN) → silently NULL codes while the DuckDB mirror hard
    * errors casting NaN. A magnitude floor (e.g. greatest(m, 1e-30))
    * would instead silently zero the codes of tiny-but-nonzero
    * vectors, breaking the ±127 invariant — the guard must not touch
    * any nonzero magnitude.
    */
  def quantScale(a: Column): Column = {
    val m = array_max(transform(a, x => abs(x))).cast("double")
    lit(127.0) / when(m === 0.0, lit(1.0)).otherwise(m)
  }

  /** Symmetric int8 quantization: floor(x·scale + 0.5) per element.
    * floor-plus-half, NOT round(): round's tie direction differs
    * between engines (and Spark's own HALF_UP vs HALF_EVEN modes),
    * while floor is floor everywhere — the formula is deterministic
    * and identical in the DuckDB mirror by construction.
    */
  def quantize(a: Column, scale: Column): Column =
    transform(a, x => floor(x * scale + lit(0.5)).cast("int"))

  /** Σ aᵢ·bᵢ over int8 code arrays — exact in Long (codegen'd). */
  def dotInt(a: Column, b: Column): Column = DotProductInt(a, b)

  /** Random-hyperplane LSH bucket id: k sign bits of dot products with
    * the deterministic integer-lattice hyperplanes
    * [[VectorModel.latticeWeight]](h, j), h = 0 until k (the divide-
    * then-mod family keeps bits h and h+7 distinct — needed once
    * buckets are sliced into multi-bit LSH bands). The bucket is
    * computable identically in the SQL oracle; the sign of a double
    * dot product flips only within ~1e-12 of 0.
    */
  def lshBucket(a: Column, dim: Int, k: Int): Column = {
    val bits = (0 until k).map { h =>
      val plane = array((1 to dim).map(j => lit(VectorModel.latticeWeight(h, j))): _*)
      when(dot(a, plane) > 0, lit(1L << h)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Deterministic coarse-quantizer (IVF) centroid dot products:
    * centroid j (0-based) takes the lattice weights of row h = 1000 + j
    * ([[VectorModel.latticeModel]]'s rows, offset so centroids and
    * hyperplanes are decorrelated).
    * Returns [dot(a, c₀), …, dot(a, cₙ₋₁)]; argmax is the vector's
    * IVF cell (max-inner-product assignment), oracle-computable
    * because the weights are exact integers. At production scale the
    * lattice centroids are replaced by k-means centroids learned
    * offline; only this column changes, not the query shape.
    */
  def centroidDots(a: Column, dim: Int, n: Int): Column =
    array((0 until n).map { j =>
      dot(a, array((1 to dim).map(i => lit(VectorModel.latticeWeight(1000 + j, i))): _*))
    }: _*)

  object Sql {
    def centroidDots(a: String, dim: Int, n: Int): String =
      (0 until n).map { j =>
        val h = 1000 + j
        s"list_reduce(list_prepend(0.0::DOUBLE, " +
          s"[$a[i]::DOUBLE * (((($h*1000003 + i) * 2654435761) // 1024) % 7 - 3)::DOUBLE " +
          s"for i in range(1, ${dim + 1})]), (acc, v) -> acc + v)"
      }.mkString("[", ", ", "]")

    // 127.0 is a DECIMAL literal in DuckDB and DECIMAL/FLOAT → FLOAT32
    // — both operands must be DOUBLE to match Spark's double division.
    // The CASE mirrors the exact-zero-only guard above.
    def quantScale(a: String): String = {
      val m = s"CAST(list_max([abs(x) for x in $a]) AS DOUBLE)"
      s"127.0::DOUBLE / (CASE WHEN $m = 0 THEN 1.0::DOUBLE ELSE $m END)"
    }
    def quantCodes(a: String, scale: String, dim: Int): String =
      s"[CAST(floor($a[i] * $scale + 0.5) AS INT) for i in range(1, ${dim + 1})]"
    def dotInt(a: String, b: String, dim: Int): String =
      s"CAST(list_sum([$a[i]::BIGINT * $b[i] for i in range(1, ${dim + 1})]) AS BIGINT)"
    def dot(a: String, b: String, dim: Int): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, " +
        s"[$a[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, ${dim + 1})]), (acc, v) -> acc + v)"
    def norm(a: String, dim: Int): String = s"sqrt(${dot(a, a, dim)})"
    def cosine(a: String, b: String, dim: Int): String =
      s"${dot(a, b, dim)} / (${norm(a, dim)} * ${norm(b, dim)})"
    def lshBucket(a: String, dim: Int, k: Int): String =
      (0 until k).map { h =>
        val d = s"list_reduce(list_prepend(0.0::DOUBLE, " +
          s"[$a[i]::DOUBLE * (((($h*1000003 + i) * 2654435761) // 1024) % 7 - 3)::DOUBLE " +
          s"for i in range(1, ${dim + 1})]), (acc, v) -> acc + v)"
        s"(CASE WHEN $d > 0 THEN ${1L << h} ELSE 0 END)"
      }.mkString("(", " + ", ")")
  }
}
