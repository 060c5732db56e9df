package graft.queries

import graft.Tables
import graft.functions.{VectorFunctions, VectorModel}
import graft.functions.VectorModel.{Centroid, Codebook, FxScale}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2.2): brute-force cosine top-k as the exact baseline,
  * and a random-hyperplane-LSH bucketed variant as the scale path.
  *
  * Scale shape: the query set is always the *small* side — broadcast
  * it, score partition-parallel against the corpus, take per-query
  * top-k with a window (or per-partition top-k + merge when k·|Q| is
  * large). The LSH variant replaces the full corpus scan per query
  * with a bucket-equi-join: shuffle on bucket id, score only within
  * buckets — the same shape IVF takes with learned centroids instead
  * of hyperplanes.
  *
  * Every learned or lattice model here is a driver-held
  * [[VectorModel]]: its centroid type, Lloyd UPDATE, nearest-centroid
  * loop, sign bits and ADC lookup are the one place for the scoring
  * order and the tie-break, so the k-generic (scaled) entries and the
  * fixed-k ones cannot drift apart.
  */
object SimilarityQueries {

  private val Dim = 64
  private val MatDim = 16 // matryoshka prefix dimension (Dim/4)
  private val MatRecallDims = Seq(8, 16, 32) // recall-curve head widths
  private val K = 10
  private val LshBits = 8
  private val IvfCentroids = 8
  private val IvfMask = -1e300 // argmax mask sentinel, far below any dot
  private val SemTau = 0.35 // SemDeDup within-cell cosine threshold
  private val KmIters = 2 // Lloyd rounds after the lattice init

  // ---- Scaled-IVF sizing: the cell count TRACKS the corpus. ----
  // Fixed k makes IVF candidate volume Q·N/k — quadratic in N once
  // queries scale with the corpus (measured: knn_ivf_kmeans sf1→sf10
  // ratio 49.8× for 10× data). k = N/CellTarget bounds every cell at
  // ~CellTarget vectors, so candidates per query stay constant and
  // within-cell pair expansions (SemDeDup) stay linear in N. The cap
  // keeps the closed-form lattice weights inside int64 on both
  // engines; past it, the next tier is an ANN index over the
  // centroids themselves (the FAISS coarse-quantizer ladder).
  private val CellTarget = 2500L // target vectors per cell
  private val KScaledMin = 8
  private val KScaledMax = 2048
  private val TrainPerCell = 100L // training-sample budget per cell

  private[graft] def scaledK(n: Long): Int =
    math.max(KScaledMin, math.min(KScaledMax, (n / CellTarget).toInt))

  /** Deterministic training-sample stride: vec_id % m == 0 keeps
    * ~TrainPerCell·k vectors, so Lloyd's per-round cost is bounded by
    * the model budget, not the corpus (the FAISS max_points_per_
    * centroid convention) — at 100 TB training reads a fixed-size
    * sample while only the one-pass final ASSIGN scans everything.
    */
  private[graft] def trainStride(n: Long, k: Int): Long =
    math.max(1L, n / (TrainPerCell * k))

  /** Every 50th vector is a query — deterministic on both engines.
    * Norms ride along so each scored pair costs one dot product.
    */
  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("nrm", VectorFunctions.norm(col("embedding")))

  private def queriesOf(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))

  private def cosCol = VectorFunctions.dot(col("q_emb"), col("embedding")) /
    (col("q_nrm") * col("nrm"))

  private def cosWindow = Window.partitionBy(col("query_id"))
    .orderBy(col("cos").desc, col("vec_id").asc)

  /** Exact top-K by cosine over a candidate relation carrying
    * (query_id, q_emb, q_nrm, vec_id, embedding, nrm): rank by
    * (cos DESC, vec_id ASC) — the oracle's ROW_NUMBER — and emit
    * (query_id, neighbor_id, rnk, cos_r).
    */
  private def topKByCos(cands: DataFrame): DataFrame =
    cands.withColumn("cos", cosCol)
      .withColumn("rnk", row_number().over(cosWindow))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos_r"))

  /** [[topKByCos]] over the broadcast query rows `q` joined to the
    * corpus rows of `emb` that share `key` (bucket or cell), self
    * excluded: the probe shape of every bucketed or celled entry.
    */
  private def probeTopK(q: DataFrame, emb: DataFrame, key: String): DataFrame =
    topKByCos(broadcast(q).join(emb, Seq(key)).filter(col("query_id") =!= col("vec_id")))

  /** A model exported lane by lane: (s, cell, lane, c). */
  private def laneRows(s: SparkSession, cents: Seq[Centroid]): DataFrame = {
    import s.implicits._
    cents.flatMap(c => c.cf.iterator.zipWithIndex.map { case (v, i) => (c.s, c.cell, i + 1, v) })
      .toDF("s", "cell", "lane", "c")
  }

  /** One Lloyd UPDATE of the whole-vector (IVF) model from `cell`. */
  private def ivfUpdate(assigned: DataFrame): Seq[Centroid] =
    VectorModel.update(assigned, Seq(col("cell")), col("embedding"), Dim)

  /** Learned IVF centroids: init from the deterministic lattice cells
    * (refining an existing coarse quantizer — the production warm-start
    * shape), then [[KmIters]] fixed-count Lloyd rounds. Each round is
    * one broadcast-free narrow ASSIGN pass (literal centroids, no
    * join) plus one UPDATE shuffle that partial-aggregates to ≤ 8
    * rows — the per-round cost at 100 TB is one corpus scan, the same
    * as MLlib's KMeans iteration. Cells that lose all members simply
    * drop out of the centroid list (both engines derive the list from
    * the same groupBy). Fixed iteration count + exact-integer update
    * sums + IEEE-defined assign scores make the whole training run
    * deterministic and therefore DuckDB-expressible, CTE per round.
    */
  private def learnedCentroids(emb: DataFrame): Seq[Centroid] = {
    val a0 = emb
      .withColumn("dots", VectorFunctions.centroidDots(col("embedding"), Dim, IvfCentroids))
      .withColumn("cell", array_position(col("dots"), array_max(col("dots"))))
    var cents = ivfUpdate(a0)
    for (_ <- 1 until KmIters)
      cents = ivfUpdate(emb.withColumn("cell", VectorModel.assign(cents, col("embedding"))))
    require(cents.size >= 2, s"k-means degenerated to ${cents.size} cell(s)")
    cents
  }

  /** Model-side ASSIGN for arbitrary k: per row the max-dot cell
    * (init, mirroring the lattice warm start's list_max) or the
    * nearest cell (Lloyd rounds) by the [[VectorModel]] loop. The
    * assign loop is N·k dots of CPU, but the embeddings table is
    * bytes-SMALL (64 floats/row): a 200 k-row corpus is one 51 MB scan
    * split, so without an explicit fan-out the whole model application
    * — and every stage pipelined after it — runs on ONE core
    * (measured: 29× for 10× data at sf10). Partition by compute, not
    * bytes; values are row-local, so the round-robin exchange cannot
    * change results.
    */
  private def modelAssign(emb: DataFrame, cents: Seq[Centroid],
      byMaxDot: Boolean): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m = cents.toArray // cell-sorted
    emb.select(col("vec_id"), col("embedding"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, e) =>
        val j = if (byMaxDot) VectorModel.nearestByDot(e, m) else VectorModel.nearest(e, 0, m)
        (id, e, m(j).cell)
      }).toDF("vec_id", "embedding", "cell")
  }

  /** Query-side nprobe=2 by the [[VectorModel.nearest2]] loop — the
    * (score ASC, cell ASC) pair the oracle's rn ≤ 2 and the fixed-k
    * entries' [[VectorModel.probe2]] pick.
    */
  private def modelProbe2(qs: DataFrame, cents: Seq[Centroid]): DataFrame = {
    val spark = qs.sparkSession
    import spark.implicits._
    val m = cents.toArray
    qs.select(col("query_id"), col("q_emb"), col("q_nrm"))
      .as[(Long, Array[Float], Double)]
      .mapPartitions(_.flatMap { case (id, e, nrm) =>
        val (j1, j2) = VectorModel.nearest2(e, 0, m)
        Iterator((id, e, nrm, m(j1).cell), (id, e, nrm, m(j2).cell))
      }).toDF("query_id", "q_emb", "q_nrm", "cell")
  }

  /** The fixed-k query probe: [[VectorModel.probe2]]'s expression pair
    * exploded to (probe_rank, cell) rows.
    */
  private def exprProbe2(qs: DataFrame, cents: Seq[Centroid]): DataFrame =
    VectorModel.probe2(qs, cents, col("q_emb"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"), posexplode(col("probes")))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        (col("pos") + 1).as("probe_rank"), col("col").as("cell"))

  /** Scaled training run: k from the corpus count, Lloyd on the
    * deterministic `vec_id % m` subsample (m = [[trainStride]]), the
    * exact fixed-point UPDATE unchanged — so the whole run stays
    * bit-deterministic and oracle-checkable at any k.
    */
  private def learnedCentroidsScaled(emb: DataFrame): Seq[Centroid] = {
    val n = emb.count()
    val k = scaledK(n)
    val train = emb.filter(col("vec_id") % trainStride(n, k) === 0)
    var cents = ivfUpdate(modelAssign(train, VectorModel.latticeModel(k, Dim), byMaxDot = true))
    for (_ <- 1 until KmIters)
      cents = ivfUpdate(modelAssign(train, cents, byMaxDot = false))
    require(cents.size >= 2, s"scaled k-means degenerated to ${cents.size} cell(s)")
    cents
  }

  /** SemDeDup over an assignment (vec_id, embedding, nrm, cell): a
    * vector survives unless some LOWER-id same-cell vector is ≥ SemTau
    * cosine. The assignment is checkpointed once; both self-join sides
    * rename columns up front (qualified-attribute resolution fails on
    * a deduplicated self-join of the same checkpointed plan — same
    * pitfall as CC's pointer-jump join).
    */
  private def semDedup(assigned: DataFrame): DataFrame = {
    val asg = assigned.select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      .localCheckpoint()
    val l = asg.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("nrm").as("a_nrm"), col("cell"))
    val r = asg.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("nrm").as("b_nrm"), col("cell"))
    val dom = l.join(r, Seq("cell"))
      .filter(col("a_id") < col("b_id") &&
        VectorFunctions.dot(col("a_emb"), col("b_emb")) /
          (col("a_nrm") * col("b_nrm")) >= SemTau)
      .select(col("b_id").as("vec_id")).distinct()
    asg.join(dom.withColumn("dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        (lit(1) - coalesce(col("dup"), lit(0))).as("is_kept"))
  }

  // ---- Product quantization (PQ): the vector-store compression tier
  // beyond scalar int8. The 64-dim space splits into PqM = 8
  // subspaces of PqSub = 8 dims; each subspace learns its own
  // 16-codeword codebook by the SAME exact fixed-point Lloyd
  // machinery as the IVF coarse quantizer (sign-pattern warm start,
  // KmIters rounds, integer lane sums → order-independent → oracle-
  // checkable), trained in ONE dataflow over the exploded (vec_id,
  // subspace, subvector) relation — 128 codewords learned in one
  // groupBy per round, not 8 jobs. A vector stores 8 nibble codes
  // (4 B) instead of 64 floats (256 B): 64× compression. Retrieval
  // is ADC (asymmetric distance): the query stays float, each corpus
  // vector scores as Σ_s q_s·codebook[s][code_s] — at scale the
  // codebook is a driver-held model (the MLlib pattern, 128×8
  // floats) and scoring reads 8 codes per row, never the floats.

  private val PqM = 8 // subspaces
  private val PqSub = 8 // dims per subspace

  /** The exploded subvector relation: one row per (vector, subspace). */
  private def pqSubvectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(array(
      (0 until PqM).map(s => slice(col("embedding"), s * PqSub + 1, PqSub)): _*)))
      .select(col("vec_id"), col("pos").cast("int").as("s"), col("col").as("sub"))

  /** Deterministic warm start: the 4 sign bits of the subvector's
    * leading lanes → cell 1..16 (the hyperplane-lattice idea per
    * subspace; float > 0 is exact on both engines).
    */
  private def pqInitCell(sub: Column): Column =
    (0 until 4).map(j =>
      when(element_at(sub, j + 1) > lit(0.0f), lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _) + lit(1)

  /** One PQ Lloyd UPDATE: ≤ 128 (subspace, cell) rows. */
  private def pqUpdate(assigned: DataFrame): Seq[Centroid] =
    VectorModel.update(assigned, Seq(col("s"), col("cell")), col("sub"), PqSub)

  /** ENCODE: per vector the 8 nearest-codeword codes — a pure
    * partition-local map; output keeps the embedding so training's
    * UPDATE can slice subvectors without a join.
    */
  private[queries] def pqEncode(emb: DataFrame, cents: Seq[Centroid]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cb = new Codebook(cents)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, e) => (id, e, cb.encode(e)) })
      .toDF("vec_id", "embedding", "codes")
  }

  /** Encoded rows re-exploded to the (vec_id, s, sub, cell) shape the
    * Lloyd UPDATE aggregates — cheap slice/zip expressions, no model
    * math.
    */
  private def pqAssigned(encoded: DataFrame): DataFrame =
    encoded.select(col("vec_id"), posexplode(arrays_zip(
        array((0 until PqM).map(s =>
          slice(col("embedding"), s * PqSub + 1, PqSub)): _*).as("sub"),
        col("codes").as("cell"))))
      .select(col("vec_id"), col("pos").cast("int").as("s"),
        col("col.sub").as("sub"), col("col.cell").as("cell"))

  /** IVF residual table: each vector's nearest LEARNED coarse cell
    * plus the float residual x − c. This is the input PQ trains on in
    * the FAISS IVF-PQ architecture: residuals are centered around the
    * coarse cells, exactly the clustered distribution PQ codes well.
    * One partition-local map, never materialized: each training round
    * and the encode pass ([[ivfPqEncode]]) recompute it from the scan.
    */
  private def ivfResiduals(emb: DataFrame, coarse: Codebook): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m = coarse.subspaces(0)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, e) =>
        val c = m(VectorModel.nearest(e, 0, m))
        (id, c.cell, VectorModel.residual(e, c.cf))
      })
      .toDF("vec_id", "cell", "embedding")
  }

  /** One-pass IVF-PQ corpus ENCODE: coarse cell + the 8 residual
    * nibble codes, straight from the original vectors (residuals
    * computed in the same pipelined pass, never materialized) — the
    * persisted index of the FAISS IVF-PQ shape: (cell, 4 B of codes)
    * per vector.
    */
  private def ivfPqEncode(emb: DataFrame, coarse: Codebook, rcb: Codebook): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    ivfResiduals(emb, coarse).as[(Long, Int, Array[Float])]
      .map { case (id, cell, r) => (id, cell, rcb.encode(r)) }
      .toDF("vec_id", "cell", "codes")
  }

  /** (query_id, neighbor_id, score) candidate rows of a retrieval. */
  private type ScoredPairs = Dataset[(Long, Long, Double)]

  /** Per-query bounded top-k: (query_id, topk) by TopKByScore partial
    * aggregation — each partition moves ≤ k rows per query.
    */
  private def topKOf(scored: ScoredPairs, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.groupByKey(_._1)
      .mapValues(t => graft.functions.Scored(t._2, t._3))
      .agg(new graft.functions.TopKByScore(k).toColumn)
      .toDF("query_id", "topk")
  }

  /** Bounded top-k finisher shared by the approximate retrieval
    * entries: ranked (query_id, neighbor_id, rnk, <scoreCol>) rows.
    */
  private def topKSelect(scored: ScoredPairs, k: Int, scoreCol: String): DataFrame =
    topKOf(scored, k)
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.vec_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        round(col("col.cos"), 6).as(scoreCol))

  /** [[topKSelect]] of K by exact cosine over candidate rows carrying
    * (query_id, q_emb, q_nrm, vec_id, embedding, nrm): the rows are
    * projected to (ids, score) before ranking, so the bounded partial
    * aggregation moves skinny rows, never the embedding arrays.
    */
  private def cosTopK(cands: DataFrame): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    topKSelect(cands.select(col("query_id"), col("vec_id"), cosCol.as("cos"))
      .as[(Long, Long, Double)], K, "cos_r")
  }

  /** Recall@K per `level` of retrieved (level, query_id, neighbor_id)
    * rows against the [[K]] exact neighbors of knn_brute: the hits by
    * semi-join, and hits / (nq·K) as one exact rational division.
    */
  private def recallAtK(levels: DataFrame, level: String, s: SparkSession,
      dir: String): DataFrame = {
    val nQ = Tables.embeddings(s, dir).filter(col("vec_id") % 50 === 0).count()
    val brute = queries("knn_brute")(s, dir).select(col("query_id"), col("neighbor_id"))
    levels.join(brute, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col(level))
      .agg(count(lit(1)).as("n_hits"))
      .select(col(level), col("n_hits"),
        round(col("n_hits").cast("double") / lit((nQ * K).toDouble), 6).as("recall_r"))
  }

  /** Two-stage finisher shared by every re-rank entry: a k′ = 3K
    * shortlist from the approximate scores (bounded TopKByScore
    * partial agg), then exact float cosine over ONLY shortlist rows
    * via the broadcast point-lookup join — Q×3K float reads, never a
    * second corpus scan. Approximation error is confined below rank
    * 3K; the emitted top-K ordering is exact-cosine.
    */
  private def exactRerank(scored: ScoredPairs, s: SparkSession, dir: String): DataFrame = {
    val shortlist = topKOf(scored, 3 * K)
      .select(col("query_id"), explode(col("topk.vec_id")).as("vec_id"))
    val emb = corpus(s, dir)
    val cands = broadcast(shortlist).join(emb, Seq("vec_id"))
      .join(broadcast(queriesOf(emb)), Seq("query_id"))
    topKByCos(cands)
  }

  /** The raw-PQ ADC scored relation (train → encode → broadcast-query
    * scan over 8-int code rows) — shared by the single-stage and
    * re-ranked retrieval entries.
    */
  private def pqAdcScored(s: SparkSession, dir: String): ScoredPairs = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = pqCodebooks(emb)
    val cb = new Codebook(cents)
    val codes = pqEncode(emb, cents).select(col("vec_id"), col("codes"))
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    broadcast(q).join(codes, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_emb"), col("vec_id"), col("codes"))
      .as[(Long, Array[Float], Long, Array[Int])]
      .mapPartitions(_.map { case (qid, qEmb, vid, cds) => (qid, vid, cb.adc(qEmb, cds, 0.0)) })
  }

  /** The int8 scored relation (quantize → broadcast-query scan →
    * rescaled integer dot) — shared by the single-stage and re-ranked
    * entries. The integer dot is exact in a Long, so the ranking
    * input is deterministic bit-for-bit.
    */
  private def int8Scored(s: SparkSession, dir: String): ScoredPairs = {
    import s.implicits._
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.quantScale(col("embedding")).as("scale"))
      .select(col("vec_id"), col("scale"),
        VectorFunctions.quantize(col("embedding"), col("scale")).as("codes"))
    val q = base.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("scale").as("q_scale"),
        col("codes").as("q_codes"))
    broadcast(q).join(base, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (VectorFunctions.dotInt(col("q_codes"), col("codes")).cast("double") /
          (col("q_scale") * col("scale"))).as("est"))
      .as[(Long, Long, Double)]
  }

  /** The matryoshka (prefix-dim) scored relation: cosine over ONLY
    * the first [[MatDim]] of [[Dim]] lanes — the dimension-truncation
    * serving lever of MRL-trained embeddings (Kusupati et al. 2022),
    * where the head prefix of the vector is itself a usable
    * lower-fidelity embedding. At 100 TB the head lives as its OWN
    * column (a 4×-narrower columnar scan — pruning does the
    * compression, no codec needed); here the slice stands in for that
    * projection and the scoring anatomy is knn_brute's (broadcast
    * queries, codegen float kernel over the sliced arrays, bounded
    * TopKByScore partial agg downstream).
    */
  private def matryoshkaScored(s: SparkSession, dir: String): ScoredPairs =
    matryoshkaScoredAt(s, dir, MatDim)

  private def matryoshkaScoredAt(s: SparkSession, dir: String, matDim: Int): ScoredPairs = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), slice(col("embedding"), 1, matDim).as("head"))
      .withColumn("hnrm", VectorFunctions.norm(col("head")))
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("head").as("q_head"),
        col("hnrm").as("q_hnrm"))
    broadcast(q).join(emb, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (VectorFunctions.dot(col("q_head"), col("head")) /
          (col("q_hnrm") * col("hnrm"))).as("est"))
      .as[(Long, Long, Double)]
  }

  /** The IVF-PQ scored relation: train the coarse model with `train`
    * and the residual PQ codebooks on its residuals → one-pass encode
    * → nprobe=2 query cells from `probe` → cell equi-join → coarse +
    * residual ADC terms (coarse term first, then the 8 residual terms
    * in subspace order — the literal addition order the oracle
    * mirrors). The fixed-k form trains [[learnedCentroids]] and probes
    * by expressions; the scaled form trains the corpus-tracking
    * [[learnedCentroidsScaled]] (k = N/CellTarget bounds candidates
    * per query at ~2·CellTarget at any N) and probes by the model loop.
    */
  private def ivfPqScored(
      s: SparkSession, dir: String,
      train: DataFrame => Seq[Centroid],
      probe: (DataFrame, Seq[Centroid]) => DataFrame): ScoredPairs = {
    import s.implicits._
    val emb0 = corpus(s, dir)
    val ivfCents = train(emb0)
    val coarse = new Codebook(ivfCents)
    val emb = Tables.embeddings(s, dir)
    val rcb = new Codebook(pqCodebooks(ivfResiduals(emb, coarse)))
    val index = ivfPqEncode(emb, coarse, rcb)
    val q = probe(queriesOf(emb0), ivfCents)
      .select(col("query_id"), col("q_emb"), col("cell"))
    broadcast(q).join(index, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_emb"), col("cell"), col("vec_id"),
        col("codes"))
      .as[(Long, Array[Float], Int, Long, Array[Int])]
      .mapPartitions(_.map { case (qid, qEmb, cell, vid, cds) =>
        (qid, vid, rcb.adc(qEmb, cds, VectorModel.dot(qEmb, 0, coarse.codeword(0, cell))))
      })
  }

  /** Full PQ training run: warm start + KmIters Lloyd rounds, one
    * corpus scan (encode) + one ≤128-row update shuffle per round.
    * Nothing is checkpointed: the subvector relation is read once
    * (round 1), and `emb` — raw vectors or IVF residuals, a pure map
    * of the scan — is cheaper to recompute per round than to pin.
    */
  private[queries] def pqCodebooks(emb: DataFrame): Seq[Centroid] = {
    var cents = pqUpdate(pqSubvectors(emb).withColumn("cell", pqInitCell(col("sub"))))
    for (_ <- 1 until KmIters)
      cents = pqUpdate(pqAssigned(pqEncode(emb, cents)))
    require(cents.size >= PqM, s"PQ training degenerated to ${cents.size} codewords")
    cents
  }


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The learned PQ codebook itself, lane-by-lane — pins the full
    // per-subspace training run (sign warm start + KmIters exact
    // fixed-point Lloyd rounds over the exploded subvector relation)
    // against the oracle's CTE-per-round mirror.
    "pq_codebooks" -> ((s, dir) => laneRows(s, pqCodebooks(Tables.embeddings(s, dir)))),

    // ENCODE the corpus: 8 nibble codes per vector (the 64×-smaller
    // representation a 100 TB vector store actually persists); pure
    // map over the scan, no shuffle.
    "embedding_pq_codes" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = pqCodebooks(emb)
      pqEncode(emb, cents)
        .select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), col("pos").cast("int").as("s"),
          col("col").as("code"))
    }),

    // ADC retrieval over the PQ codes — knn_brute's scale anatomy
    // (broadcast queries, bounded TopKByScore partial agg) over a
    // corpus that is 8 ints per row instead of 64 floats; the
    // PQ-reconstruction error vs exact cosine is the trade the 64×
    // compression buys (re-rank against floats recovers it, the
    // knn_int8_rerank pattern).
    "knn_pq_adc" -> ((s, dir) => topKSelect(pqAdcScored(s, dir), K, "est_r")),

    // PQ two-stage retrieval — the production shape 64× compression
    // actually ships in: the ADC scan produces a k′ = 3K shortlist
    // per query (bounded TopKByScore partial agg over 8-int rows),
    // then ONLY shortlist rows re-rank by exact float cosine via a
    // broadcast point-lookup join into the float corpus (Q×3K float
    // reads, never a second full scan — the knn_int8_rerank anatomy).
    // PQ reconstruction error is confined below rank 3K; the emitted
    // top-K ordering is exact-cosine over the shortlist — the
    // shortlist-then-rerank pattern is WHY coarse codes are usable
    // (single-stage ADC recall measured in SCALE.md).
    "knn_pq_rerank" -> ((s, dir) => exactRerank(pqAdcScored(s, dir), s, dir)),

    // The RESIDUAL codebooks of the IVF-PQ index, lane-by-lane —
    // pins the full composed training run: learned coarse quantizer
    // (kmeansCtes) → per-vector residual x − c (double subtract,
    // float round — the one spelling both engines share) → PQ Lloyd
    // rounds over the residual subvectors. Residuals center around
    // the coarse cells, exactly the clustered distribution PQ codes
    // well — WHY the composition beats PQ-on-raw at equal bits.
    "ivfpq_codebooks" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      laneRows(s, pqCodebooks(ivfResiduals(emb, new Codebook(learnedCentroids(emb)))))
    }),

    // IVF-PQ retrieval — the canonical billion-scale ANN index
    // (FAISS IVFPQ) assembled from this engine's own parts: queries
    // probe their nprobe=2 learned coarse cells (the knn_ivf_kmeans
    // probe anatomy), candidates come from ONE cell equi-join (the
    // scan is cell-bounded), and each candidate scores by
    // q·c_cell + Σ_s q_s·rcb[s][code_s] — the ADC form over the
    // coarse reconstruction + residual codes, reading 4 B of codes
    // per row, never the floats. Cell-bounded AND 64×-compressed:
    // both scale levers composed. Scoring runs in mapPartitions over
    // the driver-held models (coarse term first, then subspace terms
    // in order — the oracle mirrors the literal addition order).
    "knn_ivfpq" -> ((s, dir) => topKSelect(ivfPqScored(s, dir, learnedCentroids, exprProbe2), K, "est_r")),

    // IVF-PQ in its PRODUCTION form — the FAISS serving shape end to
    // end: cell-bounded ADC scan (nprobe=2 probed cells, 4 B codes)
    // produces a k′ = 3K shortlist per query, then ONLY shortlist
    // rows re-rank by exact float cosine via the broadcast
    // point-lookup join. Completes the rerank family (int8 4×, raw
    // PQ 64×, IVF-PQ cell-bounded 64×): coarse-code error confined
    // below rank 3K, emitted ordering exact-cosine over what the
    // probes reached.
    "knn_ivfpq_rerank" -> ((s, dir) => exactRerank(ivfPqScored(s, dir, learnedCentroids, exprProbe2), s, dir)),

    // Matryoshka (prefix-dim) retrieval — the dimension-truncation
    // serving lever: score by cosine over the first 16 of 64 lanes
    // (a 4×-narrower scan when the head is stored as its own column;
    // see [[matryoshkaScored]]). Completes the compression-lever
    // matrix: int8 quantizes lanes, PQ codes subspaces, matryoshka
    // DROPS lanes — the only one needing zero auxiliary model.
    "knn_matryoshka" -> ((s, dir) => topKSelect(matryoshkaScored(s, dir), K, "est_r")),

    // Matryoshka two-stage retrieval — the MRL serving shape: the
    // 16-lane scan produces the 3K shortlist, then ONLY shortlist
    // rows re-rank by full-64-lane exact cosine via the broadcast
    // point-lookup join (the knn_int8_rerank anatomy). Truncation
    // error is confined below rank 3K; emitted top-K ordering is
    // full-fidelity.
    "knn_matryoshka_rerank" -> ((s, dir) => exactRerank(matryoshkaScored(s, dir), s, dir)),

    // MATRYOSHKA RECALL CURVE — the truncation analogue of
    // knn_ivf_recall: recall@K of the prefix-dim scan against the
    // full-dim brute ground truth, at head widths 8/16/32. This is
    // the number an MRL deployment tunes on ("how many lanes does the
    // coarse stage need") — MEASURED, not assumed; on the untrained
    // fixture it quantifies the lever's worst case. One bounded top-K
    // scan per level; ground truth is knn_brute by definition.
    "knn_matryoshka_recall" -> ((s, dir) => {
      val levels = MatRecallDims.map { md =>
        topKSelect(matryoshkaScoredAt(s, dir, md), K, "est_r")
          .select(lit(md).as("mat_dim"), col("query_id"), col("neighbor_id"))
      }.reduce(_ unionAll _)
      recallAtK(levels, "mat_dim", s, dir)
    }),

    // Exact top-k: broadcast queries × corpus scored partition-local,
    // then a bounded top-k *aggregator* per query — partial aggregation
    // reduces each partition to ≤ k rows per query before the shuffle
    // (Q×k×partitions moved, not Q×N as a rank window would).
    "knn_brute" -> ((s, dir) => {
      val emb = corpus(s, dir)
      cosTopK(broadcast(queriesOf(emb)).join(emb, col("query_id") =!= col("vec_id")))
    }),

    // LSH ANN with multi-probe: score within the query's hyperplane
    // bucket PLUS its 8 Hamming-1 neighbor buckets (9 probes/query) —
    // the recall lever at scale: a near-neighbor differing on one
    // marginal sign bit is recovered without widening buckets. Probes
    // explode on the (small, broadcast) query side, so the corpus-side
    // plan stays a bucket equi-join — no OR-join, no extra corpus
    // pass. Probe values are distinct, so a corpus vector matches a
    // query through at most one probe (no dedup needed).
    "knn_lsh" -> ((s, dir) => {
      val emb = corpus(s, dir)
        .withColumn("bucket", VectorFunctions.lshBucket(col("embedding"), Dim, LshBits))
      val probes = col("bucket0") +:
        (0 until LshBits).map(b => col("bucket0").bitwiseXOR(lit(1L << b)))
      val q = queriesOf(emb)
        .withColumn("bucket0", VectorFunctions.lshBucket(col("q_emb"), Dim, LshBits))
        .withColumn("bucket", explode(array(probes: _*)))
        .drop("bucket0")
      probeTopK(q, emb, "bucket")
    }),

    // Symmetric int8 quantization of the embedding corpus — the 4×
    // compression step a 100 TB vector store runs before anything
    // else (float32 → int8 on the wire, in cache, in executor
    // memory). Per-vector scale 127/max|x|; codes by floor(x·s+0.5)
    // (floor-plus-half, deterministic in both engines — round() tie
    // semantics are not). Pure map over the scan, no shuffle; codes
    // posexploded to (vec_id, lane, code) rows so the driver compares
    // exact integers, not array columns.
    "embedding_quantize" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          VectorFunctions.quantScale(col("embedding")).as("scale"))
      e.select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
          posexplode(VectorFunctions.quantize(col("embedding"), col("scale"))))
        .select(col("vec_id"), col("scale_r"),
          (col("pos") + 1).cast("int").as("lane"), col("col").as("code"))
    }),

    // ANN in the COMPRESSED domain: brute-force max-inner-product over
    // the int8 codes, rescaled back by the two per-vector scales
    // (est ≈ float dot; the integer dot itself is exact in a Long, so
    // the ranking input is deterministic bit-for-bit). Same scale
    // anatomy as knn_brute — broadcast queries, codegen'd DotProductInt
    // kernel, bounded TopKByScore partial aggregation — but the corpus
    // side it scans is 4× smaller. The est/exact-cosine gap is the
    // quantization error a production store accepts for the memory
    // win (recall is re-ranked against float vectors for the top
    // candidates when it matters).
    // Distributed Gram matrix over the int8 codes — the scale-hard
    // half of PCA ([[graft.functions.GramAggregator]]): one data pass,
    // per-partition flat-Long-array accumulation, only dim(dim+1)/2
    // numbers cross the wire; the dim×dim eigensolve downstream is
    // driver-trivial and deliberately out of scope. Exact integer
    // domain → the full matrix hash-checks cross-engine.
    "embedding_gram" -> ((s, dir) => {
      import s.implicits._
      val codes = Tables.embeddings(s, dir)
        .select(VectorFunctions.quantize(col("embedding"),
          VectorFunctions.quantScale(col("embedding"))).as("codes"))
        .as[Seq[Int]]
      codes.select(new graft.functions.GramAggregator(Dim).toColumn)
        .toDF("gram")
        .select(explode(col("gram")).as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"), col("e.g").as("g"))
    }),

    "knn_int8" -> ((s, dir) => topKSelect(int8Scored(s, dir), K, "est_r")),

    // IVF ANN: coarse-quantizer cells instead of hyperplane buckets —
    // the inverted-file shape (corpus partitioned by nearest centroid,
    // queries probe their nprobe=2 nearest cells). Same scale anatomy
    // as knn_lsh: probes explode on the broadcast query side, the
    // corpus-side plan stays one cell equi-join; nprobe is the
    // recall/cost dial. Deterministic lattice centroids stand in for
    // learned k-means (see VectorFunctions.centroidDots) — swapping in
    // trained centroids changes the assignment column only, so the
    // oracle pins the engine-side plan exactly.
    "knn_ivf" -> ((s, dir) => {
      val emb = corpus(s, dir)
        .withColumn("dots", VectorFunctions.centroidDots(col("embedding"), Dim, IvfCentroids))
        .withColumn("cell", array_position(col("dots"), array_max(col("dots"))))
        .drop("dots")
      // nprobe=2: nearest cell + runner-up (argmax, then argmax with
      // the first masked out — first-occurrence tie-break on both
      // engines makes the probe pair deterministic)
      val q = queriesOf(emb)
        .withColumn("dots", VectorFunctions.centroidDots(col("q_emb"), Dim, IvfCentroids))
        .withColumn("p1", array_position(col("dots"), array_max(col("dots"))))
        .withColumn("masked", transform(sequence(lit(1), lit(IvfCentroids)),
          i => when(i.cast("long") === col("p1"), lit(IvfMask))
            .otherwise(element_at(col("dots"), i))))
        .withColumn("p2", array_position(col("masked"), array_max(col("masked"))))
        .withColumn("cell", explode(array(col("p1"), col("p2"))))
        .drop("dots", "masked", "p1", "p2")
      probeTopK(q, emb, "cell")
    }),

    // Two-stage retrieval — the production pattern the knn_int8
    // scaladoc names: the 4×-smaller int8 corpus produces a k′ = 3K
    // shortlist per query (cheap scan, bounded TopKByScore partial
    // agg), then ONLY the shortlist rows are re-ranked by exact float
    // cosine. Stage 2 touches Q×3K vectors instead of Q×N — the float
    // corpus is joined by vec_id against the broadcast shortlist, so
    // at 100 TB the expensive float reads are a point-lookup join, not
    // a second full scan. Quantization error now only matters below
    // rank 3K; the emitted top-K ordering is exact-cosine.
    "knn_int8_rerank" -> ((s, dir) => exactRerank(int8Scored(s, dir), s, dir)),

    // IVF RECALL CURVE — the measured retrieval-quality diagnostic
    // (the dedup_lsh_scurve idea applied to ANN): recall@K of the
    // learned-cell IVF against the brute-force ground truth, at
    // nprobe = 1 and 2. This is the number an IVF deployment actually
    // tunes on — "how much recall does the second probe buy" — and
    // the answer is MEASURED, not assumed. Anatomy: the probe
    // relation carries its rank (argmin cell, masked runner-up), each
    // nprobe level filters probes ≤ rank and re-ranks its own
    // candidate set; hits semi-join the brute top-K; recall is one
    // exact rational division (hit count / nq·K). Corpus-side plan
    // stays one cell equi-join per level; queries broadcast.
    "knn_ivf_recall" -> ((s, dir) => {
      val emb0 = corpus(s, dir)
      val cents = learnedCentroids(emb0)
      val emb = emb0.withColumn("cell", VectorModel.assign(cents, col("embedding")))
      val probes = exprProbe2(queriesOf(emb0), cents)
      val ivf = Seq(1, 2).map { np =>
        probeTopK(probes.filter(col("probe_rank") <= np), emb, "cell")
          .select(lit(np).as("nprobe"), col("query_id"), col("neighbor_id"))
      }.reduce(_ unionAll _)
      recallAtK(ivf, "nprobe", s, dir)
    }),

    // SemDeDup (Abbas et al. 2023): semantic deduplication = cluster
    // the embedding space, then drop within-cluster near-duplicates.
    // Composes the learned k-means quantizer with a WITHIN-CELL
    // pairwise cosine — the pair expansion is bounded per cell
    // (Σ|cell|² work after ONE cell-keyed shuffle, never corpus
    // all-pairs; at 100 TB you raise the cell count so cells stay
    // bounded, exactly the IVF sizing knob). Keep rule: a vector
    // survives unless some LOWER-id same-cell vector is ≥ SemTau
    // cosine — greedy-by-id, the deterministic form of "keep one per
    // near-set" ([[semDedup]]).
    "dedup_semantic" -> ((s, dir) => {
      val emb0 = corpus(s, dir)
      semDedup(emb0.withColumn("cell",
        VectorModel.assign(learnedCentroids(emb0), col("embedding"))))
    }),

    // Nearest-centroid (Rocchio) classification — the embedding-space
    // evaluation op a labeled corpus runs before anything learned:
    // per-label centroids from the EXACT fixed-point lane sums (the
    // Lloyd UPDATE anatomy with labels as cells — one corpus scan
    // partial-aggregated to ≤ |labels| rows), assignment by
    // argmin(‖c‖²−2x·c) over driver-held model parameters (10×65
    // values, no join), and the label×prediction confusion matrix as
    // one small count shuffle. At 100 TB: two corpus scans + one
    // |labels|²-row aggregate — nothing grows with N but the scans.
    "embedding_classify" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = VectorModel.update(emb, Seq(col("label")), col("embedding"), Dim)
      emb.withColumn("pred_label", VectorModel.assign(cents, col("embedding")))
        .groupBy(col("label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
    }),

    // The learned coarse quantizer itself, exported lane-by-lane —
    // pins the full k-means training run (lattice init + KmIters Lloyd
    // rounds of exact-integer updates) against the oracle's
    // CTE-per-round mirror, independent of any retrieval on top.
    "ivf_kmeans_centroids" -> ((s, dir) =>
      laneRows(s, learnedCentroids(Tables.embeddings(s, dir))).drop("s")),

    // IVF ANN over LEARNED cells (closes the knn_ivf scaladoc's
    // stand-in): identical retrieval anatomy — probes explode on the
    // query side, corpus-side plan stays one cell equi-join — but the
    // cell column now comes from k-means, so cells fit the data
    // distribution (recall ≥ the lattice's, asserted by
    // IvfKmeansSpec). nprobe=2 via argmin + masked-argmin runner-up,
    // the min-space twin of knn_ivf's masked argmax.
    "knn_ivf_kmeans" -> ((s, dir) => {
      val emb0 = corpus(s, dir)
      val cents = learnedCentroids(emb0)
      val emb = emb0.withColumn("cell", VectorModel.assign(cents, col("embedding")))
      probeTopK(exprProbe2(queriesOf(emb0), cents), emb, "cell")
    }),

    // IVF ANN where the cell count TRACKS the corpus — the 100 TB
    // form of knn_ivf_kmeans. Fixed k makes candidate volume Q·N/k,
    // quadratic once queries scale with the corpus (measured 49.8×
    // for 10× data at k=8, SCALE.md sf10 decade); k = N/CellTarget
    // bounds candidates per query at ~2·CellTarget regardless of N.
    // Training reads only the vec_id % m subsample (~TrainPerCell·k
    // vectors, the FAISS max-points-per-centroid convention), the
    // one-pass final ASSIGN and retrieval scan the corpus once each
    // — every stage linear in N. Model application is a driver-held-
    // model mapPartitions loop (k is data-dependent; k literal dot
    // expressions would hit janino's method ceiling past ~128).
    "knn_ivf_scaled" -> ((s, dir) => {
      val emb0 = corpus(s, dir)
      val cents = learnedCentroidsScaled(emb0)
      val embA = modelAssign(emb0, cents, byMaxDot = false)
        .withColumn("nrm", VectorFunctions.norm(col("embedding")))
      val q = modelProbe2(queriesOf(emb0), cents)
      // the bounded top-k aggregator, not a rank window: candidates
      // are ~2·CellTarget per query at any N, and a window would sort
      // them carrying both embedding arrays (~550 B/row)
      cosTopK(broadcast(q).join(embA, Seq("cell")).filter(col("query_id") =!= col("vec_id")))
    }),

    // SemDeDup with corpus-tracking cells — the scale form of
    // dedup_semantic. The within-cell pair expansion is Σ|cell|²:
    // at fixed k=8 cells grow with N and pairs grow N² (measured
    // 29.2× for 10× data); at k = N/CellTarget each cell stays
    // ~CellTarget so pair volume is N·CellTarget — linear. Same
    // greedy-by-id keep rule, same one cell-keyed shuffle.
    "dedup_semantic_scaled" -> ((s, dir) => {
      val emb0 = corpus(s, dir)
      semDedup(modelAssign(emb0, learnedCentroidsScaled(emb0), byMaxDot = false)
        .withColumn("nrm", VectorFunctions.norm(col("embedding"))))
    }),

    // LSH ANN with corpus-tracking bucket width — the 100 TB form of
    // knn_lsh. Fixed 8 hyperplane bits = 256 buckets forever, so
    // candidates per query grow ∝ N and total work ∝ Q·N/256 —
    // quadratic once queries scale with the corpus (the
    // dedup_embedding_pairs trap, measured 108× for 10× data on the
    // banded form). bits = smallest b with 2^b·250 ≥ N (the shared
    // exact integer search), so candidates per query stay
    // ~(bits+1)·250 at any N. Probes stay exact-bucket + Hamming-1,
    // emitted on the (small) query side so the corpus-side plan stays
    // ONE bucket equi-join; hyperplanes are the same closed-form
    // lattice family as driver-held model rows; ranking is the
    // bounded TopKByScore partial agg (the knn_ivf_scaled anatomy).
    "knn_lsh_scaled" -> ((s, dir) => {
      import s.implicits._
      val emb0 = corpus(s, dir)
      val bits = DedupQueries.embBandBits(emb0.count())
      val planes = Array.tabulate(bits)(h => VectorModel.latticeRow(h, Dim))
      val emb = emb0.select(col("vec_id"), col("embedding"), col("nrm"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, Array[Float], Double)]
        .mapPartitions(_.map { case (id, e, nrm) => (id, e, nrm, VectorModel.signBits(e, planes)) })
        .toDF("vec_id", "embedding", "nrm", "bucket")
      val q = queriesOf(emb0)
        .as[(Long, Array[Float], Double)]
        .mapPartitions(_.flatMap { case (id, e, nrm) =>
          val b0 = VectorModel.signBits(e, planes)
          Iterator.single((id, e, nrm, b0)) ++
            Iterator.tabulate(planes.length)(b => (id, e, nrm, b0 ^ (1L << b)))
        }).toDF("query_id", "q_emb", "q_nrm", "bucket")
      cosTopK(broadcast(q).join(emb, Seq("bucket")).filter(col("query_id") =!= col("vec_id")))
    }),

    // IVF-PQ retrieval with the corpus-tracking coarse quantizer —
    // the billion-scale FAISS serving shape (cell-bounded ADC scan →
    // 3K shortlist → exact-cosine re-rank) with BOTH scale levers
    // sized to the data: cells track N (candidates per query stay
    // ~2·CellTarget at any corpus), codes stay 4 B per candidate.
    // Completes the port SCALE.md's second-decade table queued: the
    // fixed-k twin measured 30× for 10× data; this form's per-stage
    // costs are linear in N (training reads the fixed subsample,
    // encode and retrieval scan once each).
    "knn_ivfpq_scaled" -> ((s, dir) =>
      exactRerank(ivfPqScored(s, dir, learnedCentroidsScaled, modelProbe2), s, dir))
  )

  /** CTE chain mirroring [[learnedCentroids]] round for round: fx =
    * the fixed-point lift, a0 = lattice init, then per Lloyd round an
    * UPDATE (exact BIGINT lane sums) and an ASSIGN (row_number over
    * score asc, cell asc = Spark's first-occurrence argmin). Ends with
    * centroid CTE `c$KmIters` and assignment CTE `a$KmIters`.
    */
  // DuckDB fragments of the exact fixed-point centroid math, shared by
  // the k-means mirror and the nearest-centroid classifier oracle.
  private val fxList = s"[CAST(floor(embedding[i]::DOUBLE * $FxScale + 0.5) AS BIGINT) " +
    s"for i in range(1, ${Dim + 1})]"
  private val laneSums = (1 to Dim).map(i => s"SUM(fx[$i])").mkString("[", ", ", "]")
  private val centList = s"[CAST((s[i]::DOUBLE / n::DOUBLE) / $FxScale AS FLOAT) " +
    s"for i in range(1, ${Dim + 1})]"
  private val ccExpr = "list_reduce(list_prepend(0.0::DOUBLE, " +
    s"[c[i]::DOUBLE * c[i]::DOUBLE for i in range(1, ${Dim + 1})]), (acc, v) -> acc + v)"

  // The three Lloyd-round fragments, parameterized over the relation
  // they scan (shared by the fixed-k mirror and the scaled-k mirror;
  // the fixed-k texts are byte-identical to their pre-factoring form).
  private def kmUpdateSql(prev: String): String =
    s"(SELECT cell, COUNT(*) AS n, $laneSums AS s FROM $prev GROUP BY cell)"
  private def kmCentsSql(m: String): String =
    s"(SELECT cell, c, $ccExpr AS cc FROM (SELECT cell, n, $centList AS c FROM $m))"
  private def kmAssignSql(c: String, fxRel: String): String =
    s"(${nearestCellSql("vec_id, embedding, fx, cell", "f.vec_id, f.embedding, f.fx",
      "f.vec_id", "f.embedding", Dim, s"$fxRel f CROSS JOIN $c c", "rn = 1")})"

  // ---- The oracle vocabulary of the retrieval family: every ranked
  // select of the oracles is one of these two, so the DuckDB mirrors
  // spell the Spark side's tie-breaks once. ----

  /** Nearest cell(s) per row: the rows `f` of `from` ranked against
    * their cells `c` (columns cell, c, cc) by ‖c‖² − 2·x·c ASC, then
    * cell ASC — the first-occurrence argmin of [[VectorModel.nearest]]
    * — within each `part` group. `cols` of f and c.cell come out as
    * `out` where `keep` holds: rn = 1 assigns, rn <= 2 is the
    * nprobe = 2 probe pair of [[VectorModel.nearest2]].
    */
  private def nearestCellSql(out: String, cols: String, part: String, x: String,
      dim: Int, from: String, keep: String): String =
    s"""SELECT $out FROM (
       |  SELECT $cols, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY $part ORDER BY
       |      c.cc - 2 * ${VectorFunctions.Sql.dot(x, "c.c", dim)} ASC,
       |      c.cell ASC) AS rn
       |  FROM $from) WHERE $keep""".stripMargin

  /** Per-group top-k: the rows of `from` ranked by `score` DESC, then
    * `id` ASC — the order of [[topKByCos]] and TopKByScore — within
    * each `part` group, kept while rnk <= k. `cols` come out as `keep`;
    * a non-empty `out` adds rnk and ROUND(score, 6) AS out.
    */
  private def topKSql(keep: String, cols: String, part: String, score: String, id: String,
      from: String, k: Int, out: String = ""): String = {
    val (outer, rounded) =
      if (out.isEmpty) (keep, "") else (s"$keep, rnk, $out", s",\n    ROUND($score, 6) AS $out")
    s"""SELECT $outer FROM (
       |  SELECT $cols,
       |    ROW_NUMBER() OVER (PARTITION BY $part
       |      ORDER BY $score DESC, $id ASC) AS rnk$rounded
       |  FROM $from) WHERE rnk <= $k""".stripMargin
  }

  /** [[topKSql]] over query rows `q` and corpus rows `e` of `from`. */
  private def pairTopKSql(score: String, from: String, k: Int, out: String = "",
      keep: String = "query_id, neighbor_id"): String =
    topKSql(keep, "q.vec_id AS query_id, e.vec_id AS neighbor_id", "q.vec_id", score,
      "e.vec_id", from, k, out)

  /** Every query × every other corpus vector. */
  private val allPairs =
    "embeddings q JOIN embeddings e ON q.vec_id % 50 = 0 AND q.vec_id != e.vec_id"

  private def cosQE(dim: Int): String =
    VectorFunctions.Sql.cosine("q.embedding", "e.embedding", dim)

  /** Exact top-k by cosine over the first `dim` lanes of all pairs. */
  private def bruteTopKSql(dim: Int, k: Int, out: String = "",
      keep: String = "query_id, neighbor_id"): String =
    pairTopKSql(cosQE(dim), allPairs, k, out, keep)

  /** [[topKSql]] over the approximate scores `est` of candidate CTE
    * `sc(query_id, nid, est)`.
    */
  private def scTopKSql(k: Int, out: String = ""): String =
    topKSql("query_id, neighbor_id", "query_id, nid AS neighbor_id", "query_id", "est", "nid",
      "sc", k, out)

  /** The two-stage tail: CTE `sl` = `shortlist` (query_id,
    * neighbor_id), then the exact-cosine top-K over shortlist rows only.
    */
  private def rerankSql(shortlist: String): String = {
    val rows = """sl JOIN embeddings qe ON sl.query_id = qe.vec_id
                 |          JOIN embeddings ne ON sl.neighbor_id = ne.vec_id""".stripMargin
    s"""sl AS (
       |  $shortlist)
       |${topKSql("query_id, neighbor_id", "sl.query_id, sl.neighbor_id", "sl.query_id",
         VectorFunctions.Sql.cosine("qe.embedding", "ne.embedding", Dim), "sl.neighbor_id",
         rows, K, "cos_r")}""".stripMargin
  }

  /** The ADC tail: the 3K shortlist of `sc`, re-ranked by cosine. */
  private def adcRerankSql: String = rerankSql(scTopKSql(3 * K))

  /** The recall@K tail over CTE body `levels` (`level`, query_id,
    * neighbor_id): hits against the brute top-K, over nq·K.
    */
  private def recallSql(level: String, levels: String): String =
    s"""lv AS (
       |$levels),
       |brute AS (
       |  ${bruteTopKSql(Dim, K)}),
       |nq AS (SELECT COUNT(*)::DOUBLE AS n FROM embeddings WHERE vec_id % 50 = 0)
       |SELECT lv.$level, COUNT(*) AS n_hits,
       |  ROUND(COUNT(*)::DOUBLE / (nq.n * $K), 6) AS recall_r
       |FROM lv JOIN brute USING (query_id, neighbor_id) CROSS JOIN nq
       |GROUP BY lv.$level, nq.n""".stripMargin

  /** The nprobe = 2 probe CTE `qp`: each query row of `fxRel` against
    * the cells of `centsRel`.
    */
  private def probeCte(fxRel: String, centsRel: String, out: String = "vec_id, cell"): String =
    s"""qp AS (
       |  ${nearestCellSql(out, "f.vec_id", "f.vec_id", "f.embedding", Dim,
         s"$fxRel f CROSS JOIN $centsRel c WHERE f.vec_id % 50 = 0", "rn <= 2")})""".stripMargin

  /** Probed candidate pairs: `qp` rows with their vectors from `fxRel`
    * as q, the rows of assignment `asgRel` in the probed cell as e.
    */
  private def probedPairs(fxRel: String, asgRel: String,
      qpCols: String = "qp.vec_id, qp.cell"): String =
    s"""(SELECT $qpCols, f.embedding
       |        FROM qp JOIN $fxRel f ON qp.vec_id = f.vec_id) q
       |  JOIN $asgRel e ON q.cell = e.cell AND q.vec_id != e.vec_id""".stripMargin

  /** IVF retrieval over a Lloyd chain: probes, then exact cosine top-K. */
  private def ivfKnnSql(chain: String, fxRel: String, centsRel: String, asgRel: String): String =
    s"""WITH $chain,
       |${probeCte(fxRel, centsRel)}
       |${pairTopKSql(cosQE(Dim), probedPairs(fxRel, asgRel), K, "cos_r")}""".stripMargin

  /** SemDeDup over assignment `asgRel`: a vector is kept unless a
    * lower-id vector of its cell is at least [[SemTau]] cosine.
    */
  private def semDedupSql(chain: String, asgRel: String): String =
    s"""WITH $chain,
       |g AS (SELECT vec_id, embedding, cell FROM $asgRel),
       |dom AS (
       |  SELECT DISTINCT b.vec_id FROM g a JOIN g b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${VectorFunctions.Sql.cosine("a.embedding", "b.embedding", Dim)} >= $SemTau)
       |SELECT g.vec_id, g.cell,
       |  CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS is_kept
       |FROM g LEFT JOIN dom d ON g.vec_id = d.vec_id""".stripMargin

  private def kmeansCtes: String = {
    val rounds = (1 to KmIters).map { r =>
      s"""m$r AS ${kmUpdateSql(s"a${r - 1}")},
         |c$r AS ${kmCentsSql(s"m$r")},
         |a$r AS ${kmAssignSql(s"c$r", "fx")}""".stripMargin
    }.mkString(",\n")
    s"""fx AS (
       |  SELECT vec_id, embedding, $fxList AS fx,
       |    ${VectorFunctions.Sql.centroidDots("embedding", Dim, IvfCentroids)} AS dots
       |  FROM embeddings),
       |a0 AS (SELECT vec_id, embedding, fx,
       |         list_position(dots, list_max(dots)) AS cell FROM fx),
       |$rounds""".stripMargin
  }

  /** The SCALED k-means mirror: identical Lloyd machinery, but the
    * cell count k derives from COUNT(*) (k = clamp(N/[[CellTarget]],
    * [[KScaledMin]], [[KScaledMax]])) and training runs on the
    * deterministic `vec_id % m = 0` subsample (m sized for
    * ~[[TrainPerCell]]·k training vectors — the FAISS convention that
    * keeps training cost independent of N). The lattice init builds
    * centroids as ROWS from the same closed-form weight formula
    * [[VectorFunctions.centroidDots]] unrolls textually, so the whole
    * chain is generic over k: no SQL text depends on the data-derived
    * cell count. `sall` is the final full-corpus assignment.
    * [[KScaledMax]] = 2048 keeps (1000+j)·1000003·2654435761 inside
    * int64 on BOTH engines (Scala Long would silently wrap and DuckDB
    * BIGINT would raise past j ≈ 2400).
    */
  private def kmeansCtesScaled: String = {
    val w = "((((1000 + j) * 1000003 + i) * 2654435761) // 1024) % 7 - 3"
    val rounds = (1 to KmIters).map { r =>
      s"""sm$r AS ${kmUpdateSql(s"sa${r - 1}")},
         |sc$r AS ${kmCentsSql(s"sm$r")},
         |sa$r AS ${kmAssignSql(s"sc$r", "strain")}""".stripMargin
    }.mkString(",\n")
    s"""kk AS (SELECT GREATEST($KScaledMin, LEAST($KScaledMax,
       |         CAST(COUNT(*) // $CellTarget AS INT))) AS k,
       |       GREATEST(1, CAST(COUNT(*) // ($TrainPerCell * GREATEST($KScaledMin,
       |         LEAST($KScaledMax, CAST(COUNT(*) // $CellTarget AS INT)))) AS BIGINT)) AS m
       |       FROM embeddings),
       |l0 AS (SELECT cell, c, $ccExpr AS cc FROM (
       |         SELECT CAST(j + 1 AS INT) AS cell,
       |           [($w)::FLOAT for i in range(1, ${Dim + 1})] AS c
       |         FROM (SELECT unnest(range(0, k)) AS j FROM kk))),
       |sfx AS (SELECT vec_id, embedding, $fxList AS fx FROM embeddings),
       |strain AS (SELECT * FROM sfx WHERE vec_id % (SELECT m FROM kk) = 0),
       |sa0 AS (${topKSql("vec_id, embedding, fx, cell", "f.vec_id, f.embedding, f.fx, c.cell",
         "f.vec_id", VectorFunctions.Sql.dot("f.embedding", "c.c", Dim), "c.cell",
         "strain f CROSS JOIN l0 c", 1)}),
       |$rounds,
       |sall AS ${kmAssignSql(s"sc$KmIters", "sfx")}""".stripMargin
  }

  // DuckDB fragments of the PQ training mirror — the kmeansCtes
  // anatomy over the exploded (vec_id, sp, sub) relation: fixed-point
  // lifts, per-(sp, cell) BIGINT lane sums, float centroid lists, and
  // row_number argmin assignment partitioned by (vec_id, sp).
  private val pqFxList =
    s"[CAST(floor(sub[i]::DOUBLE * $FxScale + 0.5) AS BIGINT) " +
      s"for i in range(1, ${PqSub + 1})]"
  private val pqLaneSums = (1 to PqSub).map(i => s"SUM(fx[$i])").mkString("[", ", ", "]")
  private val pqCentList = s"[CAST((ls[i]::DOUBLE / n::DOUBLE) / $FxScale AS FLOAT) " +
    s"for i in range(1, ${PqSub + 1})]"
  private val pqCcExpr = "list_reduce(list_prepend(0.0::DOUBLE, " +
    s"[c[i]::DOUBLE * c[i]::DOUBLE for i in range(1, ${PqSub + 1})]), (acc, v) -> acc + v)"

  /** Per-(vector, subspace) nearest codeword of the rows `from`. */
  private def pqAssignSql(out: String, cols: String, from: String): String =
    nearestCellSql(out, cols, "f.vec_id, f.sp", "f.sub", PqSub, s"$from ON f.sp = c.sp", "rn = 1")

  private[queries] def pqCtes(src: String = "embeddings"): String = {
    def update(prev: String) =
      s"(SELECT sp, cell, COUNT(*) AS n, $pqLaneSums AS ls FROM $prev GROUP BY sp, cell)"
    def cents(m: String) =
      s"(SELECT sp, cell, c, $pqCcExpr AS cc FROM (SELECT sp, cell, n, $pqCentList AS c FROM $m))"
    def assign(c: String) =
      s"(${pqAssignSql("vec_id, sp, sub, fx, cell", "f.vec_id, f.sp, f.sub, f.fx",
        s"pfx f JOIN $c c")})"
    val rounds = (1 to KmIters).map { r =>
      s"""pm$r AS ${update(s"pa${r - 1}")},
         |pc$r AS ${cents(s"pm$r")},
         |pa$r AS ${assign(s"pc$r")}""".stripMargin
    }.mkString(",\n")
    val initBits = (0 until 4).map(j =>
      s"(CASE WHEN sub[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
    s"""psub AS (
       |  SELECT vec_id, t.sp,
       |    embedding[(t.sp*$PqSub+1):(t.sp*$PqSub+$PqSub)] AS sub
       |  FROM $src, range(0, $PqM) t(sp)),
       |pfx AS (SELECT vec_id, sp, sub, $pqFxList AS fx FROM psub),
       |pa0 AS (SELECT vec_id, sp, sub, fx, $initBits + 1 AS cell FROM pfx),
       |$rounds""".stripMargin
  }

  /** ADC score mirror: explicit per-subspace terms added in literal
    * subspace order (matching the Spark reduce's left fold), each
    * term the dim-8 dot of the query's slice with the joined
    * codeword.
    */
  private def pqAdcScoreCte: String = {
    val joins = (0 until PqM).map { s =>
      s"""JOIN pa$KmIters a$s ON a$s.vec_id = e.vec_id AND a$s.sp = $s
         |JOIN pc$KmIters b$s ON b$s.sp = $s AND b$s.cell = a$s.cell""".stripMargin
    }.mkString("\n")
    val terms = (0 until PqM).map { s =>
      VectorFunctions.Sql.dot(
        s"(q.embedding[${s * PqSub + 1}:${s * PqSub + PqSub}])", s"b$s.c", PqSub)
    }.mkString(" + ")
    s"""sc AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS nid, $terms AS est
       |  FROM embeddings q JOIN embeddings e
       |    ON q.vec_id % 50 = 0 AND q.vec_id != e.vec_id
       |  $joins)""".stripMargin
  }

  /** Residual table mirror: each vector's assigned coarse cell (the
    * kmeansCtes assignment) and x − c in the shared double-subtract
    * float-round spelling. Parameterized over the assignment and
    * centroid relations so the fixed-k chain (a/c of kmeansCtes) and
    * the scaled-k chain (sall/sc of kmeansCtesScaled) share one text.
    */
  private def ivfpqResCteFor(asgRel: String, centsRel: String): String =
    s"""res AS (
       |  SELECT a.vec_id, a.cell,
       |    [CAST(a.embedding[i]::DOUBLE - c.c[i]::DOUBLE AS FLOAT)
       |     for i in range(1, ${Dim + 1})] AS embedding
       |  FROM $asgRel a JOIN $centsRel c ON a.cell = c.cell)""".stripMargin

  private def ivfpqResCte: String = ivfpqResCteFor(s"a$KmIters", s"c$KmIters")

  /** Oracle for the streaming vector-index ingest
    * (`embedding_ingest_stream`): codebooks train on the index subset
    * only (vec_id % 10 ≠ 9), then the WHOLE corpus assigns against
    * the frozen pc-codebooks — the batch equivalent of
    * freeze-and-append.
    */
  private[queries] def frozenEncodeAllSql: String =
    s"""WITH ${pqCtes("(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 != 9) idxsrc")},
       |allsub AS (
       |  SELECT vec_id, t.sp,
       |    embedding[(t.sp*$PqSub+1):(t.sp*$PqSub+$PqSub)] AS sub
       |  FROM embeddings, range(0, $PqM) t(sp)),
       |allasg AS (
       |  ${pqAssignSql("vec_id, sp, cell", "f.vec_id, f.sp", s"allsub f JOIN pc$KmIters c")})
       |SELECT vec_id, CAST(sp AS INT) AS s, CAST(cell AS INT) AS code,
       |  CASE WHEN vec_id % 10 = 9 THEN 'delta' ELSE 'index' END AS origin
       |FROM allasg""".stripMargin

  /** The cell-bounded ADC score CTEs of the IVF-PQ index (probe
    * relation `qp` at nprobe = 2 + scored candidate relation `sc`:
    * coarse term + 8 residual terms added in literal order) — shared
    * by the single-stage and re-ranked retrieval oracles, and
    * parameterized over the lifted-corpus and coarse-centroid
    * relations so the scaled-k chain (sfx/sc of kmeansCtesScaled)
    * reuses the exact score text of the fixed-k chain (fx/c).
    */
  private def ivfpqScoreCtesFor(fxRel: String, centsRel: String): String = {
    val joins = (0 until PqM).map { s =>
      s"""JOIN pa$KmIters a$s ON a$s.vec_id = r.vec_id AND a$s.sp = $s
         |JOIN pc$KmIters b$s ON b$s.sp = $s AND b$s.cell = a$s.cell""".stripMargin
    }.mkString("\n")
    val terms = (0 until PqM).map { s =>
      VectorFunctions.Sql.dot(
        s"(q.embedding[${s * PqSub + 1}:${s * PqSub + PqSub}])", s"b$s.c", PqSub)
    }.mkString(" + ")
    s"""${probeCte(fxRel, centsRel)},
       |sc AS (
       |  SELECT q.vec_id AS query_id, r.vec_id AS nid,
       |    ${VectorFunctions.Sql.dot("q.embedding", "civ.c", Dim)} + $terms AS est
       |  FROM (SELECT qp.vec_id, qp.cell, f.embedding
       |        FROM qp JOIN $fxRel f ON qp.vec_id = f.vec_id) q
       |  JOIN res r ON q.cell = r.cell AND q.vec_id != r.vec_id
       |  JOIN $centsRel civ ON civ.cell = r.cell
       |  $joins)""".stripMargin
  }

  /** The ADC retrieval select: top-K of `sc` by its estimate. */
  private def pqAdcSelect: String = scTopKSql(K, "est_r")

  /** The IVF-PQ chain over a Lloyd chain: residuals, residual PQ
    * training and the cell-bounded ADC score CTE `sc`.
    */
  private def ivfpqCtes(chain: String, fxRel: String, asgRel: String, centsRel: String): String =
    s"""$chain,
       |${ivfpqResCteFor(asgRel, centsRel)},
       |${pqCtes("res")},
       |${ivfpqScoreCtesFor(fxRel, centsRel)}""".stripMargin

  private def ivfpqCtesFixed: String = ivfpqCtes(kmeansCtes, "fx", s"a$KmIters", s"c$KmIters")

  /** The int8 codes CTE `qz` and the rescaled integer-dot estimate. */
  private val int8Cte =
    s"""qz AS (
       |  SELECT vec_id, scale,
       |    ${VectorFunctions.Sql.quantCodes("embedding", "scale", Dim)} AS codes
       |  FROM (SELECT vec_id, embedding,
       |          ${VectorFunctions.Sql.quantScale("embedding")} AS scale
       |        FROM embeddings))""".stripMargin
  private def int8TopKSql(k: Int, out: String = ""): String =
    pairTopKSql(
      s"${VectorFunctions.Sql.dotInt("q.codes", "e.codes", Dim)}::DOUBLE / (q.scale * e.scale)",
      "qz q JOIN qz e ON q.vec_id % 50 = 0 AND q.vec_id != e.vec_id", k, out)

  val oracleSql: Map[String, String] = Map(
    "pq_codebooks" ->
      s"""WITH ${pqCtes()}
         |SELECT CAST(sp AS INT) AS s, CAST(cell AS INT) AS cell,
         |  CAST(t.i AS INT) AS lane, c[t.i] AS c
         |FROM pc$KmIters, range(1, ${PqSub + 1}) t(i)""".stripMargin,
    "embedding_pq_codes" ->
      s"""WITH ${pqCtes()}
         |SELECT vec_id, CAST(sp AS INT) AS s, CAST(cell AS INT) AS code
         |FROM pa$KmIters""".stripMargin,
    "knn_pq_adc" ->
      s"""WITH ${pqCtes()},
         |$pqAdcScoreCte
         |$pqAdcSelect""".stripMargin,
    "ivfpq_codebooks" ->
      s"""WITH $kmeansCtes,
         |$ivfpqResCte,
         |${pqCtes("res")}
         |SELECT CAST(sp AS INT) AS s, CAST(cell AS INT) AS cell,
         |  CAST(t.i AS INT) AS lane, c[t.i] AS c
         |FROM pc$KmIters, range(1, ${PqSub + 1}) t(i)""".stripMargin,
    "knn_ivfpq" ->
      s"""WITH $ivfpqCtesFixed
         |$pqAdcSelect""".stripMargin,
    "knn_ivfpq_rerank" ->
      // stage 1 = the cell-bounded ADC score CTE at rnk ≤ 3K;
      // stage 2 = exact-cosine re-rank over shortlist rows only
      s"""WITH $ivfpqCtesFixed,
         |$adcRerankSql""".stripMargin,
    "knn_pq_rerank" ->
      // stage 1 = the ADC score CTE at rnk ≤ 3K; stage 2 = exact-
      // cosine re-rank over shortlist rows only (the knn_int8_rerank
      // mirror with PQ codes as the shortlist engine)
      s"""WITH ${pqCtes()},
         |$pqAdcScoreCte,
         |$adcRerankSql""".stripMargin,
    "knn_brute" -> bruteTopKSql(Dim, K, "cos_r"),
    // prefix-dim cosine: the same brute anatomy with the lane range
    // cut at MatDim (Sql.cosine's range end IS the truncation)
    "knn_matryoshka" -> bruteTopKSql(MatDim, K, "est_r"),
    "knn_matryoshka_rerank" ->
      // stage 1 = the prefix-dim shortlist at rnk ≤ 3K; stage 2 =
      // full-dim exact-cosine re-rank over shortlist rows only
      s"WITH ${rerankSql(bruteTopKSql(MatDim, 3 * K))}",
    "knn_matryoshka_recall" -> {
      // one UNION ALL branch per head width (the lane range is a
      // literal in Sql.cosine, as in the Spark plan's slice)
      val levels = MatRecallDims.map(md =>
        "  " + bruteTopKSql(md, K, keep = s"$md AS mat_dim, query_id, neighbor_id"))
      s"WITH ${recallSql("mat_dim", levels.mkString("\nUNION ALL\n"))}"
    },
    "embedding_quantize" ->
      s"""SELECT e.vec_id, ROUND(scale, 6) AS scale_r, CAST(t.i AS INT) AS lane,
         |  CAST(floor(e.embedding[t.i] * scale + 0.5) AS INT) AS code
         |FROM (SELECT vec_id, embedding,
         |        ${VectorFunctions.Sql.quantScale("embedding")} AS scale
         |      FROM embeddings) e, range(1, ${Dim + 1}) t(i)""".stripMargin,
    "embedding_gram" ->
      s"""WITH qz AS (
         |  SELECT ${VectorFunctions.Sql.quantCodes("embedding", "scale", Dim)} AS codes
         |  FROM (SELECT embedding,
         |          ${VectorFunctions.Sql.quantScale("embedding")} AS scale
         |        FROM embeddings))
         |SELECT CAST(ti.i AS INT) AS i, CAST(tj.j AS INT) AS j,
         |  CAST(SUM(CAST(codes[ti.i + 1] AS BIGINT) * codes[tj.j + 1]) AS BIGINT)
         |    AS g
         |FROM qz, range(0, $Dim) ti(i), range(0, $Dim) tj(j)
         |WHERE tj.j >= ti.i
         |GROUP BY 1, 2""".stripMargin,
    "knn_int8" ->
      s"""WITH $int8Cte
         |${int8TopKSql(K, "est_r")}""".stripMargin,
    "knn_lsh" -> {
      // same probe set as the Spark plan: exact bucket + Hamming-1
      val probeXors = (0L +: (0 until LshBits).map(1L << _).map(_.toLong))
        .mkString("(", ", ", ")")
      val probed =
        s"""(SELECT vec_id, embedding, bucket FROM b WHERE vec_id % 50 = 0) q
           |  JOIN b e ON xor(q.bucket, e.bucket) IN $probeXors AND q.vec_id != e.vec_id""".stripMargin
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |    ${VectorFunctions.Sql.lshBucket("embedding", Dim, LshBits)} AS bucket
         |  FROM embeddings)
         |${pairTopKSql(cosQE(Dim), probed, K, "cos_r")}""".stripMargin
    },
    "knn_ivf" ->
      // mirrors the Spark plan: cell = argmax centroid dot
      // (first-occurrence list_position = Spark array_position
      // tie-break), query probes = argmax + masked-argmax runner-up
      s"""WITH d AS (
         |  SELECT vec_id, embedding,
         |    ${VectorFunctions.Sql.centroidDots("embedding", Dim, IvfCentroids)} AS dots
         |  FROM embeddings),
         |c AS (
         |  SELECT vec_id, embedding,
         |    list_position(dots, list_max(dots)) AS cell
         |  FROM d),
         |q1 AS (
         |  SELECT vec_id, embedding, dots,
         |    list_position(dots, list_max(dots)) AS p1
         |  FROM d WHERE vec_id % 50 = 0),
         |q2 AS (
         |  SELECT vec_id, embedding, p1,
         |    list_position(m, list_max(m)) AS p2
         |  FROM (SELECT vec_id, embedding, p1,
         |          [CASE WHEN i = p1 THEN -1e300 ELSE dots[i] END
         |           for i in range(1, ${IvfCentroids + 1})] AS m
         |        FROM q1))
         |${pairTopKSql(cosQE(Dim),
           "q2 q JOIN c e ON (e.cell = q.p1 OR e.cell = q.p2) AND q.vec_id != e.vec_id",
           K, "cos_r")}""".stripMargin,
    "knn_int8_rerank" ->
      // stage 1 = the knn_int8 shortlist CTE at rnk ≤ 3K; stage 2 =
      // exact-cosine re-rank over shortlist rows only
      s"""WITH $int8Cte,
         |${rerankSql(int8TopKSql(3 * K))}""".stripMargin,
    "embedding_classify" ->
      // label-as-cell instance of the kmeansCtes fragments: exact
      // BIGINT lane sums → float centroid → argmin assignment
      s"""WITH fx AS (
         |  SELECT vec_id, label, embedding, $fxList AS fx FROM embeddings),
         |m AS (
         |  SELECT label AS cell, COUNT(*) AS n, $laneSums AS s
         |  FROM fx GROUP BY label),
         |cc AS (SELECT cell, c, $ccExpr AS cc
         |       FROM (SELECT cell, $centList AS c FROM m)),
         |a AS (
         |  ${nearestCellSql("vec_id, label, cell AS pred_label", "f.vec_id, f.label", "f.vec_id",
           "f.embedding", Dim, "fx f CROSS JOIN cc c", "rn = 1")})
         |SELECT label, pred_label, COUNT(*) AS n
         |FROM a GROUP BY label, pred_label""".stripMargin,
    "ivf_kmeans_centroids" ->
      s"""WITH $kmeansCtes
         |SELECT cell, CAST(t.i AS INT) AS lane, c[t.i] AS c
         |FROM c$KmIters, range(1, ${Dim + 1}) t(i)""".stripMargin,
    // probes = rn ≤ 2 over (score asc, cell asc) — identical pair to
    // Spark's argmin + position-masked runner-up (the mask removes
    // the POSITION, not the value, so score ties resolve to the two
    // lowest cell ids on both engines)
    "knn_ivf_kmeans" -> ivfKnnSql(kmeansCtes, "fx", s"c$KmIters", s"a$KmIters"),
    "knn_ivf_recall" -> {
      // each nprobe level ranks the candidates of its first nprobe probes
      val levels = probedPairs("fx", s"a$KmIters", "qp.vec_id, qp.cell, qp.rn") +
        """
          |    CROSS JOIN (SELECT unnest([1, 2]) AS nprobe) np
          |    WHERE q.rn <= np.nprobe""".stripMargin
      s"""WITH $kmeansCtes,
         |${probeCte("fx", s"c$KmIters", "vec_id, cell, rn")},
         |${recallSql("nprobe", "  " + topKSql("nprobe, query_id, neighbor_id",
           "np.nprobe, q.vec_id AS query_id, e.vec_id AS neighbor_id", "np.nprobe, q.vec_id",
           cosQE(Dim), "e.vec_id", levels, K))}""".stripMargin
    },
    "dedup_semantic" -> semDedupSql(kmeansCtes, s"a$KmIters"),
    "knn_ivf_scaled" -> ivfKnnSql(kmeansCtesScaled, "sfx", s"sc$KmIters", "sall"),
    "dedup_semantic_scaled" -> semDedupSql(kmeansCtesScaled, "sall"),
    "knn_lsh_scaled" -> {
      // bits-generic mirror (the dedup_embedding_scaled machinery on
      // one bucket of bb bits): nb = exact integer width search, hp =
      // hyperplane rows, bk = per-vector bucket fold. The probe set
      // "exact bucket + Hamming-1" is bits-generic as a PREDICATE:
      // xor = 0 OR bit_count(xor) = 1 (both buckets < 2^bb, so any
      // one-bit xor is a probe bit) — no SQL text depends on bb.
      val dotW = s"list_reduce(list_prepend(0.0::DOUBLE, " +
        s"[e.embedding[i]::DOUBLE * hp.w[i]::DOUBLE for i in range(1, ${Dim + 1})]), " +
        "(acc, v) -> acc + v)"
      val probed = """(SELECT * FROM be WHERE vec_id % 50 = 0) q
                     |  JOIN be e ON (xor(q.bucket, e.bucket) = 0
                     |                OR bit_count(xor(q.bucket, e.bucket)) = 1)
                     |    AND q.vec_id != e.vec_id""".stripMargin
      s"""WITH nb AS (
         |  SELECT COALESCE(MIN(bb), ${DedupQueries.EmbBitsMax}) AS bb
         |  FROM (SELECT unnest(range(${DedupQueries.EmbBitsMin}, ${DedupQueries.EmbBitsMax + 1})) AS bb) t,
         |       (SELECT COUNT(*) AS n FROM embeddings) c
         |  WHERE (1::BIGINT << bb) * ${DedupQueries.EmbBucketTarget} >= c.n),
         |hp AS (
         |  SELECT h, [((((h*1000003 + i) * 2654435761) // 1024) % 7 - 3)::FLOAT
         |             for i in range(1, ${Dim + 1})] AS w
         |  FROM (SELECT unnest(range(0, (SELECT bb FROM nb))) AS h)),
         |sb AS (
         |  SELECT e.vec_id, hp.h,
         |    CASE WHEN $dotW > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM embeddings e CROSS JOIN hp),
         |bk AS (
         |  SELECT vec_id, CAST(SUM(bit << h) AS BIGINT) AS bucket
         |  FROM sb GROUP BY vec_id),
         |be AS (
         |  SELECT b.vec_id, b.bucket, e.embedding
         |  FROM bk b JOIN embeddings e USING (vec_id))
         |${pairTopKSql(cosQE(Dim), probed, K, "cos_r")}""".stripMargin
    },
    "knn_ivfpq_scaled" ->
      // the knn_ivfpq_rerank mirror on the scaled chain: scaled Lloyd
      // (kmeansCtesScaled: sall = full assignment, sc2 = centroids) →
      // residuals → residual-PQ training → cell-bounded ADC at
      // rnk ≤ 3K → exact-cosine re-rank over shortlist rows only
      s"""WITH ${ivfpqCtes(kmeansCtesScaled, "sfx", "sall", s"sc$KmIters")},
         |$adcRerankSql""".stripMargin
  )
}
