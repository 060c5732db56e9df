package graft.functions

import graft.functions.expressions.SortedIntersectSize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The verify half of every near-dup entry, written once: candidate
  * `(doc_a, doc_b)` ids come from some cheap index (LSH bands, a
  * prefix-filter inverted index, a same-source group, an embedding
  * band), then each candidate fetches both documents' sorted feature
  * sets and is scored exactly. This is the filter-and-refine split:
  * the index may over-generate, the verify never approximates.
  *
  *   - [[sets]] is the per-doc `(doc_id, set, sz)` table. The feature
  *     must be a sorted, distinct int or long array (`PackedTrigrams`,
  *     `SortedShingleHashes`), which makes `SortedIntersectSize` an
  *     allocation-free two-pointer merge per pair.
  *   - [[sides]] joins the candidates to a side table on `doc_a` and
  *     to a side table on `doc_b`, prefixing every side column `a_` or
  *     `b_`; columns beyond the set (signatures, embeddings, norms)
  *     ride along under the same prefix.
  *   - [[scored]] adds `inter` = |A ∩ B| to any frame of pair rows
  *     carrying `a_set`, `a_sz`, `b_set` and `b_sz`; [[pairs]] is
  *     [[sides]] then [[scored]]. [[jaccard]] and [[containment]] read
  *     `inter` with the sizes: |A ∪ B| is `a_sz + b_sz − inter` on
  *     distinct sets, so both engines divide the same integers.
  *
  * Division is `try_divide`: a pair of two empty sets (or an empty
  * side, for containment) scores NULL, which no threshold keeps —
  * the DuckDB oracles' `x / 0 = NULL` — instead of failing the query
  * under ANSI mode.
  */
object NearDup {

  /** `(doc_id, set, sz)` of `docs` under `feature`. */
  def sets(docs: DataFrame, feature: Column): DataFrame =
    docs.select(col("doc_id"), feature.as("set")).withColumn("sz", size(col("set")))

  /** `cand` joined to `a` on `doc_a = a_doc_id` and to `b` on
    * `doc_b = b_doc_id`, every side column prefixed `a_` or `b_`.
    */
  def sides(cand: DataFrame, a: DataFrame, b: DataFrame): DataFrame = {
    def prefixed(side: DataFrame, p: String) =
      side.select(side.columns.map(c => col(c).as(s"${p}_$c")).toIndexedSeq: _*)
    cand
      .join(prefixed(a, "a"), col("doc_a") === col("a_doc_id"))
      .join(prefixed(b, "b"), col("doc_b") === col("b_doc_id"))
  }

  def sides(cand: DataFrame, sets: DataFrame): DataFrame = sides(cand, sets, sets)

  /** `paired` plus `inter` = |a_set ∩ b_set|. */
  def scored(paired: DataFrame): DataFrame =
    paired.withColumn("inter", SortedIntersectSize(col("a_set"), col("b_set")))

  def pairs(cand: DataFrame, a: DataFrame, b: DataFrame): DataFrame = scored(sides(cand, a, b))

  def pairs(cand: DataFrame, sets: DataFrame): DataFrame = pairs(cand, sets, sets)

  /** |A ∩ B| / |A ∪ B| over a [[pairs]] row. */
  val jaccard: Column =
    try_divide(col("inter").cast("double"), col("a_sz") + col("b_sz") - col("inter"))

  /** (|A ∩ B| / |A|, |A ∩ B| / |B|) over a [[pairs]] row. */
  val containment: (Column, Column) =
    (try_divide(col("inter").cast("double"), col("a_sz")),
      try_divide(col("inter").cast("double"), col("b_sz")))

  /** The candidates of `cand` whose [[jaccard]] is at least `t`, as
    * `(doc_a, doc_b, jac)` with `jac` rounded to 6 places.
    */
  def verified(cand: DataFrame, sets: DataFrame, t: Double): DataFrame =
    pairs(cand, sets)
      .filter(jaccard >= t)
      .select(col("doc_a"), col("doc_b"), round(jaccard, 6).as("jac"))
}
