package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Driver-held vector models (IVF coarse quantizers, PQ codebooks,
  * lattice hyperplanes) and the arithmetic that applies them — the ONE
  * place for the scoring order and the tie-break every model-applying
  * entry shares with its DuckDB oracle:
  *
  *   - a dot is a left fold in double, index-ascending, each float
  *     operand widened first — the order of `DotProductFloat` and of
  *     the oracle's `list_reduce`;
  *   - a nearest centroid minimizes `cc − 2·x·c` (|x|² is common to
  *     every cell, so it is never computed), strict-less keep-first
  *     over cell-sorted centroids — the oracle's ROW_NUMBER over
  *     (score ASC, cell ASC) and Spark's `array_position(s,
  *     array_min(s))`;
  *   - Lloyd's UPDATE sums exact fixed-point lane lifts, so the mean
  *     is order-independent and bit-identical under any partitioning.
  *
  * The loops are plain JVM code over primitive arrays: no boxing and
  * no allocation per centroid. They run inside `mapPartitions` with the
  * model in the task closure (the MLlib pattern), because k literal
  * dot expressions cross janino's generated-method limit past
  * k ≈ 128 and silently fall back to interpreted eval. The expression
  * spellings below ([[scores]], [[assign]], [[probe2]]) serve the
  * fixed-k entries whose plans keep model application in codegen.
  */
object VectorModel {

  /** One centroid or codeword: subspace `s` (0 for a whole-vector
    * model), the cell id it refines, its float coordinates, and the
    * Σc² term of its assignment score.
    */
  final case class Centroid(s: Int, cell: Int, cf: Array[Float]) {
    val cc: Double = dot(cf, 0, cf)
  }

  /** Σ a(off+i)·b(i) over `b.length` lanes: a double left fold in
    * index order, each operand widened first — bit-identical to
    * `DotProductFloat` on the same lanes.
    */
  def dot(a: Array[Float], off: Int, b: Array[Float]): Double = {
    var d = 0.0
    var i = 0
    while (i < b.length) { d += a(off + i).toDouble * b(i).toDouble; i += 1 }
    d
  }

  /** x − c per lane, subtracted in double and rounded to float — the
    * one residual spelling both engines share.
    */
  def residual(x: Array[Float], c: Array[Float]): Array[Float] = {
    val r = new Array[Float](c.length)
    var i = 0
    while (i < c.length) { r(i) = (x(i).toDouble - c(i).toDouble).toFloat; i += 1 }
    r
  }

  /** Integer-lattice weight w(h, j) = (((h·1000003 + j)·2654435761)
    * div 1024) mod 7 − 3, j 1-based. Divide-then-mod breaks the mod-7
    * periodicity a plain polynomial family has (rows h and h+7 would
    * be identical). The product stays inside int64 for h < 3474 (the
    * largest row used is 1000 + 2047), exact in a Scala Long and a
    * DuckDB BIGINT, so the oracle computes the same weight.
    */
  def latticeWeight(h: Long, j: Long): Float =
    ((h * 1000003L + j) * 2654435761L / 1024L % 7L - 3L).toFloat

  /** Lattice row h over `dim` lanes: a hyperplane (h < 1000) or the
    * coordinates of lattice centroid h − 1000.
    */
  def latticeRow(h: Long, dim: Int): Array[Float] =
    Array.tabulate(dim)(i => latticeWeight(h, i + 1))

  /** The deterministic lattice centroids for any k, cell j+1 at row
    * 1000 + j — the weights `VectorFunctions.centroidDots` unrolls as
    * literal expressions, built as data so k can track the corpus.
    */
  def latticeModel(k: Int, dim: Int): Seq[Centroid] =
    (0 until k).map(j => Centroid(0, j + 1, latticeRow(1000 + j, dim)))

  /** Sign bits of `e` against hyperplanes: bit h is set when
    * dot(e, planes(h)) > 0 — `VectorFunctions.lshBucket` over driver-
    * held rows.
    */
  def signBits(e: Array[Float], planes: Array[Array[Float]]): Long = {
    var bits = 0L
    var h = 0
    while (h < planes.length) {
      if (dot(e, 0, planes(h)) > 0) bits |= 1L << h
      h += 1
    }
    bits
  }

  /** The one argmin loop. Score cc − 2·x·c (or −x·c for the max-dot
    * choice), strict-less keep-first over `model` in its (cell-sorted)
    * order. Returns the best index in the high 32 bits and the
    * runner-up — the first index of the minimum over the others — in
    * the low 32 (equal to the best when the model has one centroid).
    */
  private def argmin2(x: Array[Float], off: Int, model: Array[Centroid], byDot: Boolean): Long = {
    var b1 = 0; var s1 = Double.MaxValue
    var b2 = 0; var s2 = Double.MaxValue
    var j = 0
    while (j < model.length) {
      val c = model(j)
      val d = dot(x, off, c.cf)
      val sc = if (byDot) -d else c.cc - 2.0 * d
      if (sc < s1) { b2 = b1; s2 = s1; b1 = j; s1 = sc }
      else if (sc < s2) { b2 = j; s2 = sc }
      j += 1
    }
    (b1.toLong << 32) | (b2.toLong & 0xffffffffL)
  }

  /** Index of x's nearest centroid (lanes from `off`). */
  def nearest(x: Array[Float], off: Int, model: Array[Centroid]): Int =
    (argmin2(x, off, model, byDot = false) >>> 32).toInt

  /** Indices of x's two nearest centroids, (score ASC, index ASC) —
    * the masked-argmin pair of [[probe2]].
    */
  def nearest2(x: Array[Float], off: Int, model: Array[Centroid]): (Int, Int) = {
    val p = argmin2(x, off, model, byDot = false)
    ((p >>> 32).toInt, p.toInt)
  }

  /** Index of the max-dot centroid, keep-first — the lattice warm
    * start's `array_position(dots, array_max(dots))`.
    */
  def nearestByDot(x: Array[Float], model: Array[Centroid]): Int =
    (argmin2(x, 0, model, byDot = true) >>> 32).toInt

  /** A model as executors apply it: per subspace its centroids,
    * cell-sorted (a whole-vector model is subspace 0 alone), and a
    * cell-indexed table for code lookup. Subspace s covers lanes
    * [s·lanes, (s+1)·lanes) of a vector.
    */
  final class Codebook(cents: Seq[Centroid]) extends Serializable {
    val subspaces: Array[Array[Centroid]] =
      Array.tabulate(cents.map(_.s).max + 1)(s =>
        cents.filter(_.s == s).sortBy(_.cell).toArray)
    private val lanes = cents.head.cf.length
    private val byCell: Array[Array[Array[Float]]] = subspaces.map { cs =>
      val t = new Array[Array[Float]](cs.last.cell + 1)
      cs.foreach(c => t(c.cell) = c.cf)
      t
    }

    def codeword(s: Int, cell: Int): Array[Float] = byCell(s)(cell)

    /** ENCODE: the nearest codeword's cell in every subspace. */
    def encode(x: Array[Float]): Array[Int] = {
      val codes = new Array[Int](subspaces.length)
      var s = 0
      while (s < codes.length) {
        val cs = subspaces(s)
        codes(s) = cs(nearest(x, s * lanes, cs)).cell
        s += 1
      }
      codes
    }

    /** ADC: init + Σ_s q_s·codeword(s, codes(s)), added in subspace
      * order — the literal addition order the oracle mirrors.
      */
    def adc(q: Array[Float], codes: Array[Int], init: Double): Double = {
      var est = init
      var s = 0
      while (s < codes.length) { est += dot(q, s * lanes, byCell(s)(codes(s))); s += 1 }
      est
    }
  }

  // ---- Lloyd UPDATE: one exact fixed-point mean per (subspace,) cell.

  val FxScale = 16777216.0 // 2²⁴ — the fixed-point lift scale

  /** Exact fixed-point lift of lane `i` (1-based): floor(x·2²⁴ + 0.5)
    * as a long. float→double is exact, ·2²⁴ is an exponent shift and
    * |x·2²⁴| < 2⁵² keeps the +0.5 and floor exact, so the lane SUMS are
    * integer arithmetic: order-independent, hence bit-identical under
    * any partitioning or shuffle order — the one order-sensitive step
    * of Lloyd's algorithm made associative.
    */
  private def fxLane(x: Column, i: Int): Column =
    floor(element_at(x, i).cast("double") * FxScale + lit(0.5)).cast("long")

  /** One Lloyd UPDATE: per-key exact integer lane sums + count, one
    * shuffle partial-aggregated to ≤ |cells| rows, collected as the
    * driver-held model. `keys` is the cell column, optionally preceded
    * by the subspace column; `vec` holds `lanes` floats. Each lane
    * (s/n)/2²⁴ is rounded to float (the oracle's CAST(… AS FLOAT)), so
    * ASSIGN reuses the float dot. Cells that lost every member drop
    * out. Sorted by (subspace, cell).
    */
  def update(assigned: DataFrame, keys: Seq[Column], vec: Column, lanes: Int): Seq[Centroid] = {
    val aggs = count(lit(1)).as("n") +: (1 to lanes).map(i => sum(fxLane(vec, i)).as(s"s$i"))
    val nk = keys.size
    assigned.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val n = r.getLong(nk).toDouble
        val cf = Array.tabulate(lanes)(i => ((r.getLong(nk + 1 + i).toDouble / n) / FxScale).toFloat)
        Centroid(if (nk > 1) r.getAs[Number](0).intValue else 0, r.getAs[Number](nk - 1).intValue, cf)
      }
      .sortBy(c => (c.s, c.cell)).toSeq
  }

  // ---- Expression spellings of the whole-vector ASSIGN and probe:
  // one codegen'd literal-array dot per centroid, for the small fixed
  // models (8 lattice-seeded cells, one cell per label) whose entries
  // keep model application in codegen.

  private val Mask = 1e300 // argmin mask sentinel, far above any score

  /** [cc − 2·x·c] per centroid, in model order. */
  def scores(model: Seq[Centroid], x: Column): Column =
    array(model.map(c =>
      lit(c.cc) - lit(2.0) * VectorFunctions.dot(x, array(c.cf.map(lit(_)): _*))): _*)

  /** Map an argmin position (1-based, long) back to its cell id. */
  def cellAt(model: Seq[Centroid], pos: Column): Column =
    element_at(array(model.map(c => lit(c.cell)): _*), pos.cast("int"))

  /** The nearest cell: [[nearest]] as an expression. */
  def assign(model: Seq[Centroid], x: Column): Column = {
    val s = scores(model, x)
    cellAt(model, array_position(s, array_min(s)))
  }

  /** nprobe = 2 as expressions: adds `probes` = array(nearest cell,
    * runner-up), the runner-up being the argmin with the first masked
    * out — [[nearest2]] as a query-side projection.
    */
  def probe2(df: DataFrame, model: Seq[Centroid], x: Column): DataFrame =
    df.withColumn("sc", scores(model, x))
      .withColumn("pp1", array_position(col("sc"), array_min(col("sc"))))
      .withColumn("masked", transform(sequence(lit(1), lit(model.size)),
        i => when(i.cast("long") === col("pp1"), lit(Mask))
          .otherwise(element_at(col("sc"), i))))
      .withColumn("pp2", array_position(col("masked"), array_min(col("masked"))))
      .withColumn("probes", array(cellAt(model, col("pp1")), cellAt(model, col("pp2"))))
      .drop("sc", "masked", "pp1", "pp2")
}
