package graft.queries

import graft.Tables
import graft.functions.{MinHash, NearDup, PairGraph, TextFunctions, VectorFunctions, VectorModel}
import graft.functions.PairGraph.{KCoreK, KCoreRounds, LpRounds, PrIters, PrScale}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings`
  * (SURVEY.md §2.2, driver north star): exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup. Every variant avoids the
  * O(n²) all-pairs trap — pairs are only materialized inside small
  * buckets (LSH band, source, label), which is the property that
  * survives a 100 TB corpus.
  */
object DedupQueries {

  private val Dim = 64 // embedding dimensionality of the driver tables
  private val EmbBands = 4 // hyperplane-LSH bands for embedding dedup
  private val EmbBandBits = 8 // independent sign bits per band (32-bit bucket)

  // ---- Scaled embedding-LSH sizing: band WIDTH tracks the corpus. ----
  // Fixed band bits make per-band bucket count constant (2^bits per
  // label), so bucket occupancy grows ∝ N and the in-bucket pair
  // expansion Σ|bucket|² grows N² — the same fixed-knob trap the IVF
  // family measured at 30-50× for 10× data (SCALE.md second decade).
  // Growing bits with the corpus keeps ~EmbBucketTarget rows per
  // bucket, so candidate volume stays ~N·target — linear. Band COUNT
  // stays fixed (the OR over bands is the recall contract); width is
  // the occupancy knob, exactly minhash-LSH's rows-per-band.
  private[queries] val EmbBucketTarget = 250L
  private[queries] val EmbBitsMin = 4
  private[queries] val EmbBitsMax = 20

  /** Smallest b in [[EmbBitsMin]], [[EmbBitsMax]]] with
    * 2^b · [[EmbBucketTarget]] ≥ n — EXACT integer arithmetic, so both
    * engines agree by construction (a float ceil(log2(n/target))
    * could disagree by one ulp exactly at the power-of-two boundaries
    * where the answer changes).
    */
  private[graft] def embBandBits(n: Long): Int = {
    var b = EmbBitsMin
    while (b < EmbBitsMax && (1L << b) * EmbBucketTarget < n) b += 1
    b
  }

  /** dedup_ngram_jaccard's similarity threshold t. The prefix length
    * (sz − ⌈t·sz⌉ + 1) and the size-ratio conjunct
    * (min·(1 + 1/t) ≥ |A| + |B|) are both DERIVED from it — changing
    * one without the others silently breaks prefix-filter completeness,
    * so t is encoded exactly once.
    */
  private val NgramJaccardT = 0.5
  // dedup_lsh_scurve ground-truth floor. The fixture's same-source
  // pairs sit at shingle-J 0.1–0.3 plus one true dup at 0.9 — 0.1
  // keeps thousands of sub-inflection pairs (capture ≈ 1−(1−J⁴)⁴,
  // fractions of a percent — the cheapness the index buys) AND the
  // near-certain capture at the top, so the report shows both sigmoid
  // tails
  private val ScurveMinJac = 0.1
  // dedup_lsh_scurve per-group sample cap. The diagnostic is
  // quadratic PER GROUP by design and its capture estimate converges
  // per group — pairs beyond a fixed sample are pure waste, and
  // source-group depth grows with the corpus while group count does
  // not (measured 27x cost at 10x data before the cap). 250 = the
  // sf0.1 max group size, so every driver SF is byte-identical
  // (the cap binds only beyond sf0.1); the rank hash is salted
  // independently of every other sampling draw.
  private val ScurveGroupCap = 250
  private val NgramSizeRatio = 1.0 + 1.0 / NgramJaccardT

  /** doc_id + 16 minhash signature columns, computed in one pass by
    * the native MinHashSignature expression (see its scaladoc for the
    * measured alternatives: interpreted HOF chain ~4 s, explode +
    * 16-min-aggregates ~16× worse — shuffle + per-row agg overhead).
    * No shuffle at all in this form.
    */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    minhashSigsOf(Tables.documents(s, dir))

  /** Signature relation over an arbitrary (doc_id, text, …) frame —
    * `text_curation_neardup` feeds the quality-gated subset through
    * the same pipeline.
    */
  private[queries] def minhashSigsOf(docs: DataFrame): DataFrame = {
    val withSig = docs
      .select(col("doc_id"),
        graft.functions.expressions.MinHashSignature(col("text"), MinHash.NumHashes, 5).as("sigs"))
    val sigCols = (0 until MinHash.NumHashes).map(i =>
      element_at(col("sigs"), i + 1).as(s"sig$i"))
    withSig.select(col("doc_id") +: sigCols: _*)
  }

  private def minhashSigsSql(src: String): String = {
    val sigs = (0 until MinHash.NumHashes)
      .map(i => s"${MinHash.Sql.sig("hs", i)} AS sig$i").mkString(",\n  ")
    s"""SELECT doc_id, $sigs
       |FROM (SELECT doc_id, ${MinHash.Sql.shingleHashes("text")} AS hs FROM $src)""".stripMargin
  }

  /** doc_id, band index, band hash — the LSH bucketing relation. */
  private[queries] def minhashBands(docs: DataFrame): DataFrame =
    bandsOfSigs(minhashSigsOf(docs))

  /** Band relation from an existing (doc_id, sig0..sigN) frame. */
  private[queries] def bandsOfSigs(sigs: DataFrame): DataFrame = {
    val sigCols = (0 until MinHash.NumHashes).map(i => col(s"sig$i"))
    val bands = (0 until MinHash.NumBands).map(b =>
      struct(lit(b).as("band"), MinHash.bandHash(sigCols, b).as("bhash")))
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bhash").as("bhash"))
  }

  /** The oracle CTEs of the delta probe, shared by both incremental
    * entries and `docs_incremental_stream`: the band table, the split
    * hash `hh`, the delta-to-index candidates `cand(new_id, idx_id)`
    * and the trigram table `tg`.
    */
  private[queries] def incrementalCtes: String =
    s"""bands AS (SELECT * FROM (${minhashBandsSql("documents")})),
       |hh AS (SELECT doc_id,
       |         ${TextFunctions.Sql.tokenHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
       |       FROM documents),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
       |  FROM bands n JOIN bands i ON n.band = i.band AND n.bhash = i.bhash
       |  JOIN hh hn ON n.doc_id = hn.doc_id AND hn.h >= 90
       |  JOIN hh hi ON i.doc_id = hi.doc_id AND hi.h < 90),
       |${tgCte("documents")}""".stripMargin

  /** The relation both incremental entries must equal (the persisted
    * bucketed index cannot change it).
    */
  private def incrementalSql: String =
    s"""WITH $incrementalCtes,
       |ver AS (
       |  SELECT new_id, idx_id FROM cand
       |  JOIN tg dn ON new_id = dn.doc_id JOIN tg di ON idx_id = di.doc_id
       |  WHERE ${trigramJaccardSql("dn.tg", "di.tg", 8)} >= 0.6)
       |SELECT new_id AS doc_id, MIN(idx_id) AS dup_of, COUNT(*) AS n_dups
       |FROM ver GROUP BY new_id""".stripMargin

  /** Catalog name + external-table root of the persisted bucketed
    * band index (the dedup_incremental_bucketed layout fixture).
    */
  private[graft] val BandIdxTable = "graft_band_idx_bkt"
  // build-root-anchored ([[graft.Fixtures]]) — the fixture table lands
  // under the repo's own target/ wherever the repo is checked out and
  // whatever the launch dir was
  private[graft] val BandIdxPath = graft.Fixtures.path("bucketed/band_idx")
  private[graft] val BandIdxBuckets = 8

  /** Write the index half's band relation as a catalog table BUCKETED
    * + SORTED on the probe key, then probe it with the delta bands:
    * the sort-merge join's index side reads bucket files in place —
    * zero Exchange, zero Sort (pinned by BucketedJoinSpec); only the
    * delta side shuffles. Shared by the registered query and the
    * plan-shape spec so both pin the same construction. `hint("merge")`
    * keeps the SMJ the demonstration target at fixture scale (the
    * delta side would otherwise auto-broadcast).
    */
  private[graft] def bucketedBandProbe(spark: SparkSession, dir: String): DataFrame = {
    // Since Spark 3.0 the scan ignores write-side sortBy ordering
    // unless this flag is on (SPARK-28632) — and WITH it, ordering is
    // reported only for buckets holding exactly one file, which the
    // repartition-before-write below guarantees. Without it the probe
    // pays a redundant read-side sort of already-sorted buckets. The
    // legacy flag is plan-affecting, so it is scoped to a child
    // session (shared catalog, isolated conf, parent runtime conf
    // copied — see Tables.scopedSession) instead of mutated on the
    // caller's session.
    val s = Tables.scopedSession(spark)
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val docs = Tables.documents(s, dir).withColumn("h", TextQueries.splitHash)
    minhashBands(docs.filter(col("h") < 90))
      .select(col("band"), col("bhash"), col("doc_id").as("idx_id"))
      .repartition(BandIdxBuckets, col("band"), col("bhash"))
      .write.mode("overwrite").format("parquet")
      .option("path", BandIdxPath)
      .bucketBy(BandIdxBuckets, "band", "bhash").sortBy("band", "bhash")
      .saveAsTable(BandIdxTable)
    val bNew = minhashBands(docs.filter(col("h") >= 90))
      .select(col("band"), col("bhash"), col("doc_id").as("new_id"))
    s.table(BandIdxTable).hint("merge")
      .join(bNew, Seq("band", "bhash"))
      .select(col("new_id"), col("idx_id")).distinct()
  }

  /** Band relation from an existing sigs relation — split out of
    * [[minhashBandsSql]] so the oracle-staging tool can derive bands
    * from MATERIALIZED signatures with the same spelling (one md5
    * per band, never a re-derivation of the shingle hashes).
    */
  private[queries] def bandsFromSigsSql(sigsRel: String): String = {
    def bandExpr(b: Int): String = {
      val cols = (b * MinHash.BandSize until (b + 1) * MinHash.BandSize).map(i => s"sig$i")
      s"SELECT doc_id, $b AS band, md5(concat_ws(',', ${cols.mkString(", ")})) AS bhash FROM $sigsRel"
    }
    (0 until MinHash.NumBands).map(bandExpr).mkString("\nUNION ALL\n")
  }

  private[queries] def minhashBandsSql(src: String): String =
    s"""WITH sigs AS (${minhashSigsSql(src)})
       |${bandsFromSigsSql("sigs")}""".stripMargin

  /** Distinct, SORTED 3-char shingles *packed into ints*
    * (c1·2¹⁶ + c2·2⁸ + c3 — injective on the ASCII corpus), built by
    * the native PackedTrigrams expression (the interpreted HOF chain
    * measured 5 s/side at sf0.1), pre-sorted once per document so
    * per-pair intersection is an allocation-free codegen'd two-pointer
    * int merge (SortedIntersectSize).
    */
  private[queries] def trigrams(textCol: String): org.apache.spark.sql.Column =
    graft.functions.expressions.PackedTrigrams(col(textCol))

  /** The DuckDB trigram Jaccard of the list columns `x` and `y` (the
    * oracle spelling of [[NearDup.jaccard]]): the divisor goes on a
    * second line, aligned under column `at`, where the expression
    * starts.
    */
  private[queries] def trigramJaccardSql(x: String, y: String, at: Int): String =
    s"len(list_intersect($x, $y))::DOUBLE /\n${" " * at}len(list_distinct(list_concat($x, $y)))"

  private[queries] def trigramsSql(text: String): String =
    s"list_distinct([ascii(substring($text, i, 1)) * 65536 + " +
      s"ascii(substring($text, i + 1, 1)) * 256 + ascii(substring($text, i + 2, 1)) " +
      s"for i in range(1, greatest(length($text) - 2, 1) + 1)])"

  /** Candidate pairs from a `bands` relation — one spelling, shared
    * by the inline CTE chain and the staging tool (which runs it over
    * bhash-bucketed band batches: the join requires equal bhash, so
    * bucketing by bhash partitions the pair space exactly).
    */
  private[queries] val candFromBandsSql: String =
    """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id""".stripMargin

  private[queries] def tgCte(src: String): String =
    s"tg AS (SELECT doc_id, ${trigramsSql("text")} AS tg FROM $src)"

  /** Oracle mirrors of [[minhashVerifiedPairs]] (these CTEs, then
    * [[minhashPairsSelect]]), split so the graph entries can extend
    * the CTE chain with the recursive closure. bands' body is wrapped
    * in a derived table: under WITH RECURSIVE a CTE whose body is a
    * top-level UNION [ALL] is parsed as anchor-plus-recursive-term,
    * which breaks the nested `WITH sigs` scoping ("Table with name
    * sigs does not exist").
    */
  private[queries] def minhashPairsCtes(src: String): String =
    s"""bands AS (SELECT * FROM (${minhashBandsSql(src)})),
       |cand AS (
       |  $candFromBandsSql),
       |${tgCte(src)}""".stripMargin

  private[queries] def minhashPairsSelect: String =
    s"""SELECT doc_a, doc_b,
       |  ROUND(${trigramJaccardSql("da.tg", "db.tg", 8)}, 6) AS jac
       |FROM cand JOIN tg da ON doc_a = da.doc_id JOIN tg db ON doc_b = db.doc_id
       |WHERE ${trigramJaccardSql("da.tg", "db.tg", 6)} >= 0.6""".stripMargin

  /** ORACLE STAGING (driver-side measurement plumbing, not engine
    * code). The inline chain oracles re-derive every shingle md5
    * inside one DuckDB query; at sf10 (500 k docs ≈ 400 M md5s) that
    * blows DuckDB's memory cap before the back half even starts —
    * the r14 `dedup_kcore` capacity note. The fix is the same staging
    * the Spark side does naturally: materialize sigs → bands → cand →
    * tg → pairs to parquet IN BOUNDED BATCHES, then run each family's
    * back half over the staged relations.
    *
    * [[stageSql]] is the template each stage runs (the staging tool
    * binds the input relation names as batched views — `documents`
    * restricted by doc_id for sigs/tg, `bands` restricted by bhash
    * hash-bucket for cand, `cand` restricted by doc_a for pairs), and
    * [[stagedOracleSubstitutions]] rewrites a full oracle onto the
    * staged views by EXACT-STRING replacement of the same Scala
    * fragments the full oracle embeds — one spelling, so the staged
    * oracle can never drift from the inline one. Both are dumped by
    * [[graft.Verify]] (stage_sql.json / oracle_sql_staged.json) and
    * consumed by tools/stage_oracle.py + tools/check.py --staged.
    */
  private[graft] def stageSql: Map[String, String] = Map(
    // per-doc stages: tool batches by restricting the documents view
    "sigs" -> minhashSigsSql("documents"),
    "tg" -> s"SELECT doc_id, ${trigramsSql("text")} AS tg FROM documents",
    // bands from materialized sigs (4 md5s/doc, no shingle re-derive)
    "bands" -> bandsFromSigsSql("staged_sigs"),
    // cand over a `bands` view the tool binds per bhash-bucket
    "cand" -> candFromBandsSql,
    // pairs over `cand` (batched by doc_a) and full staged `tg`
    "pairs" -> minhashPairsSelect)

  /** Exact-string rewrite of one oracle onto the staged views. The
    * composite fragment (pairsCtes, which embeds bandsSql) is replaced
    * before the standalone bands/sigs spellings, and [[minhashPairsSelect]]
    * — which is SOURCE-BLIND (it reads whatever cand/tg are in scope) —
    * is rewritten only when the oracle's chain is over full
    * `documents`: an oracle running the chain over a gated subset
    * (e.g. text_curation_neardup's docs_g) must keep its own pairs
    * derivation, not inherit the full corpus's.
    */
  private[graft] def stagedRewrite(sql: String): String = {
    val overDocuments = sql.contains(minhashPairsCtes("documents"))
    val subs: Seq[(String, String)] =
      Seq(minhashPairsCtes("documents") ->
        """bands AS (SELECT * FROM staged_bands),
          |cand AS (SELECT * FROM staged_cand),
          |tg AS (SELECT * FROM staged_tg)""".stripMargin) ++
        (if (overDocuments)
          Seq(minhashPairsSelect -> "SELECT doc_a, doc_b, jac FROM staged_pairs")
        else Nil) ++
        Seq(
          minhashBandsSql("documents") -> "SELECT * FROM staged_bands",
          minhashSigsSql("documents") -> "SELECT * FROM staged_sigs",
          tgCte("documents") -> "tg AS (SELECT * FROM staged_tg)")
    subs.foldLeft(sql) { case (s, (from, to)) => s.replace(from, to) }
  }

  /** [[minhashPairsCtes]] over `nodes`, then `pairs` and the
    * transitive closure over them, ending with `comp(doc_id,
    * component)`; every doc of `nodes` is its own component's seed.
    */
  private[queries] def pairsClosureCtes(nodes: String): String =
    s"""${minhashPairsCtes(nodes)},
       |pairs AS ($minhashPairsSelect),
       |edges AS (SELECT * FROM (
       |  SELECT doc_a AS ea, doc_b AS eb FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs)),
       |reach AS (
       |  SELECT doc_id AS v, doc_id AS r FROM $nodes
       |  UNION
       |  SELECT reach.v, e.eb FROM reach JOIN edges e ON reach.r = e.ea),
       |comp AS (SELECT v AS doc_id, MIN(r) AS component FROM reach GROUP BY v)""".stripMargin

  /** Shared oracle CTE fragments over a `pairs(doc_a, doc_b)` CTE —
    * one spelling each, so the closure form, the LPA round count
    * (lockstepped to [[LpRounds]]), and the plurality tie-break
    * cannot drift between the oracles that embed them
    * (`dedup_components`, `dedup_representatives`,
    * `dedup_label_prop`, `dedup_community_compare`).
    * [[ccClosureCtes]] ends with `comp(v, component)`; [[lpaCtes]]
    * ends with `l{LpRounds}(v, lbl)`.
    */
  private[queries] val ccClosureCtes: String =
    s"""cedges AS (SELECT * FROM (
       |  SELECT doc_a AS ea, doc_b AS eb FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs)),
       |reach AS (
       |  SELECT doc_id AS v, doc_id AS r FROM documents
       |  UNION
       |  SELECT reach.v, e.eb FROM reach JOIN cedges e ON reach.r = e.ea),
       |comp AS (SELECT v, MIN(r) AS component FROM reach GROUP BY v)""".stripMargin

  private[queries] lazy val lpaCtes: String = {
    def round(i: Int): String =
      s"""c$i AS (SELECT v, nlbl, COUNT(*) AS c FROM (
         |  SELECT e.v, l.lbl AS nlbl FROM ledges e JOIN l${i - 1} l ON e.nbr = l.v
         |  UNION ALL SELECT v, lbl FROM l${i - 1}) GROUP BY 1, 2),
         |l$i AS (SELECT v, nlbl AS lbl FROM (
         |  SELECT v, nlbl, ROW_NUMBER() OVER (PARTITION BY v
         |    ORDER BY c DESC, nlbl ASC) AS rn FROM c$i) WHERE rn = 1)""".stripMargin
    (s"""ledges AS (
        |  SELECT doc_a AS v, doc_b AS nbr FROM pairs
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM pairs),
        |l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents)""".stripMargin
      +: (1 to LpRounds).map(round)).mkString(",\n")
  }

  /** SHUFFLE_HASH hint with an escape hatch (judge ADVICE r15 #4):
    * shuffled-hash build sides cannot spill, so a pathologically
    * skewed candidate bucket at a large scale factor could OOM an
    * executor where the former sort-merge join would have spilled.
    * `SPARK_GRAFT_NO_SHJ_HINT=true` drops every hint and restores the
    * planner's (sort-merge) choice without a code change.
    */
  private def shjHint(df: DataFrame): DataFrame =
    if (sys.env.get("SPARK_GRAFT_NO_SHJ_HINT").contains("true")) df
    else df.hint("shuffle_hash")

  /** The node set of the document graph entries. */
  private def docIds(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))

  /** The verified near-dup pair relation (doc_a < doc_b, jac): LSH
    * candidates in-bucket, then trigram-Jaccard ≥ 0.6 verification —
    * shared by `dedup_minhash_pairs` (which exports it) and every
    * [[PairGraph]] entry (which runs supersteps over it).
    */
  private[graft] def minhashVerifiedPairs(s: SparkSession, dir: String): DataFrame =
    minhashVerifiedPairsOf(Tables.documents(s, dir))

  /** LSH candidate pairs (distinct, canonical doc_a < doc_b) — the
    * shared front half of every verify variant (Jaccard, containment).
    * `FromBands` serves callers that already hold the signatures
    * ([[dedup_minhash_estimate]]'s side table), so they derive bands
    * without recomputing MinHashSignature from text.
    */
  private[queries] def lshCandidates(documents: DataFrame): DataFrame =
    lshCandidatesFromBands(minhashBands(documents))

  private[graft] def lshCandidatesFromBands(bands: DataFrame): DataFrame =
    coBucketPairs(bands, Seq("band", "bhash")).distinct()

  /** The (doc_a < doc_b) pairs of docs sharing a bucket of `rows`,
    * once per shared bucket: one shuffle, then in-group expansion of
    * each bucket of 2 to `maxDocs` doc_ids (no self-join).
    */
  private[graft] def coBucketPairs(rows: DataFrame, bucketCols: Seq[String],
                                   maxDocs: Int = Int.MaxValue): DataFrame =
    rows
      .groupBy(bucketCols.map(col): _*)
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxDocs))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1), y ->
          |    struct(least(x, y) AS a, greatest(x, y) AS b))))""".stripMargin)).as("p"))
      .filter(col("p.a") < col("p.b"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))

  private[queries] def minhashVerifiedPairsOf(documents: DataFrame): DataFrame =
    NearDup.verified(lshCandidates(documents), NearDup.sets(documents, trigrams("text")), 0.6)

  /** The incremental probe: each new doc of `cand(new_id, idx_id)`
    * with an index partner at trigram Jaccard ≥ 0.6, its canonical
    * (minimum id) partner and its match count. Shared by both
    * `dedup_incremental` entries and `docs_incremental_stream`.
    */
  private[graft] def incrementalDups(cand: DataFrame, newSets: DataFrame,
                                     idxSets: DataFrame): DataFrame =
    NearDup.pairs(cand.select(col("new_id").as("doc_a"), col("idx_id").as("doc_b")),
        newSets, idxSets)
      .filter(NearDup.jaccard >= 0.6)
      .groupBy(col("doc_a"))
      .agg(min(col("doc_b")).as("dup_of"), count(lit(1)).as("n_dups"))
      .select(col("doc_a").as("doc_id"), col("dup_of"), col("n_dups"))

  /** [[incrementalDups]] over the split-hash halves of `docs`. */
  private def incrementalDupsOf(docs: DataFrame, cand: DataFrame): DataFrame =
    incrementalDups(cand, NearDup.sets(docs.filter(col("h") >= 90), trigrams("text")),
      NearDup.sets(docs.filter(col("h") < 90), trigrams("text")))

  /** Exact cosine ≥ 0.3 over embedding candidates `(doc_a, doc_b)` of
    * vec ids, as `(id_a, id_b, cos_r)`. While the per-doc side fits
    * the broadcast threshold both fetches build on it, so the second
    * fetch reuses the first one's broadcast; left to size estimates,
    * the planner built the first fetch on the (smaller) candidates
    * and broadcast the embeddings once more for the second.
    */
  private def cosineVerified(cand: DataFrame, emb: DataFrame): DataFrame = {
    val vecs = emb.select(col("vec_id").as("doc_id"), col("embedding"),
      VectorFunctions.norm(col("embedding")).as("nrm"))
    val fits = vecs.queryExecution.optimizedPlan.stats.sizeInBytes <=
      org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    NearDup.sides(cand, if (fits) broadcast(vecs) else vecs)
      .withColumn("cos",
        VectorFunctions.dot(col("a_embedding"), col("b_embedding")) /
          (col("a_nrm") * col("b_nrm")))
      .filter(col("cos") >= 0.3)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), round(col("cos"), 6).as("cos_r"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-groupBy on content. At scale: group on
    // md5(text) (fixed-width shuffle key) instead of raw text.
    "dedup_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("content_key"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
    }),

    // Per-doc minhash signature (first 4 values exported; the full 16
    // feed the band relation below).
    "dedup_minhash_sig" -> ((s, dir) =>
      minhashSigs(s, dir).select(col("doc_id"), col("sig0"), col("sig1"), col("sig2"), col("sig3"))),

    // LSH candidate pairs → verified by trigram Jaccard ≥ 0.6.
    // Pair generation is groupBy(band bucket) → collect_list →
    // in-bucket pair expansion: ONE pass over the signature relation
    // and one shuffle keyed on band hash. (A bands-self-join computes
    // the whole signature pipeline twice and shuffles both sides.)
    // Bucket sizes are bounded by LSH design, so the local expansion
    // is small — the property that makes this shape hold at 100 TB.
    "dedup_minhash_pairs" -> ((s, dir) => minhashVerifiedPairs(s, dir)),

    // Triangle enumeration over the verified near-dup graph — the
    // cluster-cohesion diagnostic (a component rich in triangles is a
    // true duplicate clique; a triangle-free one is a chain of
    // borderline matches worth a threshold review). DEGREE-ORIENTED
    // enumeration, the scale-correct algorithm: each edge points from
    // its lower-(degree, id) endpoint to the higher, wedges expand
    // only from out-edges, so per-vertex work is bounded by
    // out-degree² ≤ O(|E|) total even on skewed (hub-heavy) graphs —
    // an id-oriented wedge join would square the hub's degree. Each
    // triangle emits exactly once (at its lowest-(deg, id) corner),
    // output canonicalized a<b<c to match the oracle's id-oriented
    // enumeration. Pairs are localCheckpointed once: three consumers
    // (degree count, orientation, closing join) otherwise re-run the
    // whole LSH+verify pipeline.
    "dedup_triangles" -> ((s, dir) => {
      val und = minhashVerifiedPairs(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
        .localCheckpoint()
      val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      // All joins below are hinted SHUFFLE_HASH: the checkpoint erased
      // `und`'s stats so every join planned as sort-merge — five Sort
      // operators over edge/wedge relations whose equality semantics a
      // per-partition hash table serves identically (guide §3.1). The
      // build sides (degree table, oriented out-edges, closing edge
      // list) are all O(|E|)-bounded and partition-local at scale.
      val oriented = und
        .join(shjHint(deg.select(col("v").as("a"), col("deg").as("da"))), "a")
        .join(shjHint(deg.select(col("v").as("b"), col("deg").as("db"))), "b")
        .select(
          when(col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("u"), col("b").as("w")))
            .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
        .select(col("e.u").as("u"), col("e.w").as("w"))
      val wedges = oriented.as("o1")
        .join(shjHint(oriented.as("o2")),
          col("o1.u") === col("o2.u") && col("o1.w") < col("o2.w"))
        .select(col("o1.u").as("u"), col("o1.w").as("x"), col("o2.w").as("y"))
      wedges.join(shjHint(und.as("e3")),
          least(col("x"), col("y")) === col("e3.a") &&
            greatest(col("x"), col("y")) === col("e3.b"))
        .select(array_sort(array(col("u"), col("x"), col("y"))).as("t"))
        .select(col("t").getItem(0).as("a"), col("t").getItem(1).as("b"),
          col("t").getItem(2).as("c"))
    }),

    // PageRank over the verified near-dup graph — centrality ranks a
    // duplicate cluster's most-connected member, the natural canonical
    // pick when min-id is arbitrary (and, on a citation/link graph,
    // the standard quality prior for corpus curation). Fixed-point
    // integer ranks, so both engines agree bit for bit; see
    // [[PairGraph.pageRank]] for the push model and its supersteps.
    "dedup_pagerank" -> ((s, dir) =>
      PairGraph.using(minhashVerifiedPairs(s, dir))(_.pageRank())),

    // Asymmetric CONTAINMENT verify over the shared LSH candidates:
    // C(A,B) = |A∩B| / |A| catches doc-contains-doc (quotes,
    // boilerplate-wrapped copies) that symmetric Jaccard under-scores
    // — a pair with J = 0.4 can still have C = 0.9 one way. Both
    // directions are emitted so the consumer sees which side subsumes
    // which. Candidate recall is the banded-Jaccard index's
    // (documented: a production subset detector stratifies the index
    // by length or uses the prefix-filter index).
    "dedup_containment" -> ((s, dir) => {
      val documents = Tables.documents(s, dir)
      val (cAb, cBa) = NearDup.containment
      NearDup.pairs(lshCandidates(documents), NearDup.sets(documents, trigrams("text")))
        .filter(greatest(cAb, cBa) >= 0.7)
        .select(col("doc_a"), col("doc_b"), round(cAb, 6).as("c_ab_r"), round(cBa, 6).as("c_ba_r"))
    }),

    // Incremental (delta-ingest) near-dup check: a NEW batch of
    // documents probed against the ALREADY-INGESTED corpus — the shape
    // every production pipeline actually runs day 2 (full-corpus
    // re-clustering is a backfill, not the steady state). The stable
    // split hash partitions the fixture: h < 90 = the index, h >= 90 =
    // the arriving batch. The batch's band table joins the index's
    // band table on (band, bhash) — at scale the index bands are a
    // PERSISTED table bucketed on the band key, so only the (small)
    // delta shuffles; candidates verify through [[incrementalDups]].
    // Output: each batch doc with a near-dup already in the index, its
    // canonical index partner, and the match count — exact integers.
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("h", TextQueries.splitHash)
      val bIdx = minhashBands(docs.filter(col("h") < 90))
        .select(col("band"), col("bhash"), col("doc_id").as("idx_id"))
      val bNew = minhashBands(docs.filter(col("h") >= 90))
        .select(col("band"), col("bhash"), col("doc_id").as("new_id"))
      incrementalDupsOf(docs, bNew.join(bIdx, Seq("band", "bhash"))
        .select(col("new_id"), col("idx_id")).distinct())
    }),

    // dedup_incremental's claimed 100 TB layout, DEMONSTRATED: the
    // band index PERSISTS as a catalog table BUCKETED (and sorted) on
    // the probe key (band, bhash) — the pay-the-shuffle-once layout
    // written at ingest time — and the delta probe plans as a
    // sort-merge join where the INDEX side has zero Exchange and zero
    // Sort: only the (small) delta shuffles, every day-2 batch,
    // forever. Identical relation and oracle as dedup_incremental
    // (layout cannot change the answer — that equality IS the check);
    // the one-exchange plan shape is pinned by BucketedJoinSpec.
    "dedup_incremental_bucketed" -> ((s, dir) =>
      incrementalDupsOf(Tables.documents(s, dir).withColumn("h", TextQueries.splitHash),
        bucketedBandProbe(s, dir))),

    // EXACT-dedup delta ingest with a BLOOM PREFILTER — the sketch-
    // prefilter + exact-verify shape every 100 TB ingest runs before
    // the near-dup machinery: the index digests compress into a
    // driver-held Bloom sketch (KBs, built in ONE index pass via
    // df.stat.bloomFilter, broadcast into the delta scan); only delta
    // rows the sketch admits (true dups + the configured ~3% false
    // positives) reach the verify join, so the shuffle carries the
    // candidate set, never the delta. Bloom false positives are
    // REMOVED by the exact digest join — the emitted is_dup relation
    // is exact, which is what makes it oracle-checkable; the sketch's
    // bite (no false negatives, FP rate near the configured fpp) is
    // pinned by BloomPrefilterSpec. The corpus has no natural exact
    // dups, so the delta is seeded with re-identified clones of every
    // 7th index doc (the seeded-fixture policy — the dup branch
    // demonstrably fires), mirrored by the oracle.
    "dedup_bloom_prefilter" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).withColumn("h", TextQueries.splitHash)
      val idxDigests = docs.filter(col("h") < 90)
        .select(md5(col("text")).as("digest"))
      val bloom = s.sparkContext.broadcast(
        idxDigests.stat.bloomFilter("digest", 2000L, 0.03))
      val delta = docs.filter(col("h") >= 90)
        .select(col("doc_id"), md5(col("text")).as("digest"))
        .unionAll(docs.filter(col("h") < 90 && col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            md5(col("text")).as("digest")))
      val candidates = delta.as[(Long, String)]
        .filter(t => bloom.value.mightContainString(t._2))
        .toDF("doc_id", "digest")
      // flag per (doc_id, digest) ROW, not per doc_id: at larger
      // fixtures a clone id (doc_id + 100000) can collide with a real
      // delta doc_id, and a doc_id-only join-back would conflate the
      // two rows' verdicts
      val confirmed = candidates
        .join(idxDigests.distinct(), Seq("digest"), "left_semi")
        .select(col("doc_id"), col("digest")).distinct()
        .withColumn("dup", lit(1))
      delta.join(confirmed, Seq("doc_id", "digest"), "left")
        .select(col("doc_id"),
          coalesce(col("dup"), lit(0)).cast("int").as("is_dup"))
    }),

    // Pair graph → duplicate CLUSTERS: connected components over the
    // verified near-dup pairs, the step that turns pairwise matches
    // into a canonical-doc assignment (keep component representative,
    // drop the rest). See [[PairGraph.components]] for the iteration's
    // scale anatomy.
    "dedup_components" -> ((s, dir) =>
      PairGraph.using(minhashVerifiedPairs(s, dir))(_.components(docIds(s, dir)))
        .withColumn("is_canonical",
          (col("doc_id") === col("component")).cast("int"))),

    // Plurality-label communities over the same pair graph — the
    // alternative clustering POLICY to dedup_components' transitive
    // closure (see [[PairGraph.communities]] for semantics + scale
    // anatomy): agrees with CC on duplicate cliques, refuses to
    // bridge long chains of borderline matches.
    "dedup_label_prop" -> ((s, dir) =>
      PairGraph.using(minhashVerifiedPairs(s, dir))(_.communities(docIds(s, dir)))),

    // Core decomposition over the same pair graph — the cohesion CUT
    // beside CC (merge everything reachable) and LPA (plurality
    // communities): the [[KCoreK]]-core keeps only docs held by ≥ K
    // surviving near-dup partners, the dense clusters safe to
    // collapse wholesale; the peel cascades chain fringe out. See
    // [[PairGraph.kCore]] for semantics + scale anatomy.
    "dedup_kcore" -> ((s, dir) =>
      PairGraph.using(minhashVerifiedPairs(s, dir))(_.kCore(docIds(s, dir), KCoreRounds))),

    // The CC-vs-LPA POLICY DIFFERENCE, measured on the real pair
    // graph (the diagnostics-family companion to dedup_label_prop's
    // claim): per CC component, how many LPA communities does it
    // split into — a histogram where n_comms = 1 rows are the
    // cliques both policies agree on and n_comms > 1 rows are
    // exactly the long-chain clusters LPA refuses to bridge (the
    // candidates a curation pass reviews before dropping whole
    // clusters). One graph feeds both clusterings — the LSH+verify
    // pipeline and the edge build run once.
    "dedup_community_compare" -> ((s, dir) => {
      val nodes = docIds(s, dir)
      PairGraph.using(minhashVerifiedPairs(s, dir))(g =>
          g.components(nodes).join(g.communities(nodes), Seq("doc_id")))
        .groupBy(col("component"))
        .agg(countDistinct(col("community")).as("n_comms"))
        .groupBy(col("n_comms"))
        .agg(count(lit(1)).as("n_components"))
    }),

    // MinHash ESTIMATOR error, measured — the companion diagnostic to
    // the S-curve (that one grades the BANDING's capture; this one
    // grades the SIGNATURE's accuracy): for every candidate pair the
    // index emits, the sig-agreement estimate ĵ = |{i : sigᵢ(A) =
    // sigᵢ(B)}| / 16 against the exact shingle Jaccard, classed by
    // ⌈10·|ĵ−J|⌉ (capped at 3). The measured result is the lesson:
    // CONDITIONED ON CANDIDACY the estimator is biased far upward
    // (avg |ĵ−J| ≈ 0.30 in the top class at sf0.01) — candidates are
    // exactly the pairs whose bands collided by luck, so their
    // agreement overstates similarity. This is the quantitative
    // reason every LSH pipeline here VERIFIES candidates with the
    // exact measure instead of trusting ĵ. Candidate pairs are
    // index-bounded (never all-pairs); per pair one exact shingle
    // Jaccard + 16 integer equality tests.
    "dedup_minhash_estimate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sh = NearDup.sets(docs, graft.functions.expressions.SortedShingleHashes(col("text"), 5))
      val side = minhashSigsOf(docs).join(sh, "doc_id").localCheckpoint()
      val agree = (0 until MinHash.NumHashes)
        .map(i => (col(s"a_sig$i") === col(s"b_sig$i")).cast("int"))
        .reduce(_ + _)
      // bands derive from the CHECKPOINTED sig columns — the text is
      // scanned (and MinHashSignature computed) exactly once; the
      // candidate path and both pair-side joins all ride `side`.
      // Both pair-side joins are hinted SHUFFLE_HASH: the checkpoint
      // erased `side`'s stats, so the planner fell back to sort-merge
      // — and SMJ SORTS both inputs, which here means sorting rows
      // that carry the full per-doc shingle-hash array (~8 KB/row)
      // three times (a-side, the a-joined intermediate, b-side).
      // Shuffled-hash keeps the identical partitioned join semantics
      // with zero sorts of array-carrying rows (guide §3.1); the
      // build side is bounded per partition by docs/partitions, which
      // scales out with the cluster, unlike a broadcast of the corpus.
      NearDup.pairs(lshCandidatesFromBands(bandsOfSigs(side)), shjHint(side))
        .withColumn("sj", NearDup.jaccard)
        .withColumn("est", agree.cast("double") / MinHash.NumHashes)
        .select(col("doc_a"), col("doc_b"),
          round(col("sj"), 6).as("sj_r"), round(col("est"), 6).as("est_r"),
          least(ceil(abs(col("est") - col("sj")) * 10).cast("int"), lit(3))
            .as("err_class"))
    }),

    // Multi-source BFS: hop distance from every doc to its
    // component's canonical (minimum id) — the cluster-GEOMETRY
    // diagnostic the label-only CC can't give: chain-connected docs
    // sit far from the representative (a long chain means "near-dup
    // of a near-dup", where transitive similarity has decayed — the
    // classic over-merging signal a curation pass inspects before
    // dropping whole clusters). One graph serves CC and the BFS; see
    // [[PairGraph.hops]] for the frontier supersteps. The fixture
    // proves the point: measured chains reach 10 hops at sf0.01 (7 at
    // sf0.1 — denser corpora merge into rounder clusters). The
    // oracle's recursive walk caps at 16, above every measured
    // diameter; the Spark loop requires convergence within
    // [[PairGraph.CcMaxIters]].
    "dedup_hop_distance" -> ((s, dir) =>
      PairGraph.using(minhashVerifiedPairs(s, dir))(g => g.hops(g.components(docIds(s, dir))))),

    // Cluster → canonical-doc collapse: the stage after connected
    // components that actually shrinks the corpus. Per multi-member
    // component, the representative is the LONGEST member (doc_id
    // tiebreak) — "keep the most complete near-duplicate", the usual
    // production rule — plus the member count the drop report needs.
    // The rank window and the rollup both key on `component`, so the
    // label table crosses ONE exchange and the groupBy reuses its
    // partitioning; only (id, int) columns flow, never text.
    "dedup_representatives" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
            val docs = Tables.documents(s, dir)
      val labels = PairGraph.using(minhashVerifiedPairs(s, dir))(
        _.components(docs.select(col("doc_id"))))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      labels.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .withColumn("rk", row_number().over(w))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rk") === 1, col("doc_id"))).as("rep_id"),
          max(when(col("rk") === 1, col("n_chars"))).as("rep_chars"))
        .filter(col("n_members") > 1)
    }),

    // 16-bit SimHash per doc as ONE native pass over the scan — zero
    // shuffle, zero aggregation state (see SimHash16's scaladoc for
    // the explode + 16-bit-sums shape it replaces and why). NULL =
    // tokenless doc, filtered to match the oracle's absent group.
    "dedup_simhash" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.expressions.SimHash16(col("text")).as("simhash"))
        .filter(col("simhash").isNotNull)
    }),

    // EXACT n-gram Jaccard near-dup via prefix filtering (the PPJoin
    // family): a pair with J(A,B) ≥ t shares ≥ ⌈t·max(|A|,|B|)⌉ ≥
    // ⌈t·|x|⌉ tokens, so under any fixed global token order each
    // side's first |x| − ⌈t·|x|⌉ + 1 tokens must contain a shared
    // token. Candidates therefore come from an inverted index on
    // *prefix* tokens (ordered rarest-first, which keeps posting
    // lists short) — complete wrt the exact oracle, no all-pairs
    // bucket anywhere. Shuffles are all linear in corpus size:
    // explode→freq, prefix rank, token equi-join, verify join.
    // The size-ratio conjunct (jac ≥ t needs min·(1+1/t) ≥ |A|+|B|)
    // prunes candidates before the exact verify.
    "dedup_ngram_jaccard" -> ((parent, dir) => {
      import org.apache.spark.sql.expressions.Window
            // Partitions-track-volume, without per-SF tuning: the verify
      // join's candidate stream grows linearly with the corpus, and at
      // 10x data the session default (32) spilled its sort (measured
      // 76.6 s -> 31.0 s at 128 — SCALE.md round-12 exponents). The
      // at-scale idiom is a HIGH initial partition count with AQE
      // coalescing down to actual bytes: small SFs coalesce back to a
      // handful of partitions (no small-task regression), big SFs keep
      // enough partitions to stay in memory. Scoped to a child session
      // (conf isolation, same pattern as the bucketed entries).
      val s = Tables.scopedSession(parent)
      // Initial partitions must TRACK VOLUME across decades, not sit at
      // one measured point: 128 was right at 5.7 MB of documents (sf1,
      // measured 76.6 → 31.0 s) but spilled again at 57 MB (sf10,
      // measured 497 s). Derive from the input's actual bytes at the
      // measured-good ratio (~45 KB of compressed docs per initial
      // partition); AQE coalescing still merges small SFs back down,
      // so the floor stays 32 and tiny inputs plan exactly as before.
      val docPath = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
      val docBytes = docPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(docPath).getLength
      val initialParts = math.max(32L, math.min(4096L, docBytes / 45000L))
      s.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialParts.toString)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), trigrams("text").as("tg"))
      val tok = docs.select(col("doc_id"), col("source"), size(col("tg")).as("sz"),
        explode(col("tg")).as("t"))
      // global rarity order; trigram domain is small → broadcast back
      val freq = tok.groupBy("t").agg(count(lit(1)).as("freq"))
      val prefixLen = (col("sz") - ceil(col("sz") * NgramJaccardT) + 1).cast("int")
      // The prefix keeps each token's rank `rn` so the self-join can
      // apply PPJoin's POSITIONAL filter: a pair with J ≥ t needs
      // overlap α = ⌈t/(1+t)·(|A|+|B|)⌉, and for the FIRST shared
      // prefix token at ranks (rnA, rnB) the remaining capacity
      // 1 + min(|A|−rnA, |B|−rnB) bounds the overlap — so requiring
      // (1 + min(szA−rnA, szB−rnB))·(1 + 1/t) ≥ szA + szB (the exact
      // rational form of "capacity ≥ α"; integer-safe, no ceil-of-
      // double wobble) keeps every true pair while cutting the raw
      // candidate stream 3.3× (17.0 M → 5.1 M rows at sf0.1 — the
      // distinct's map-side hash agg over those duplicates was this
      // entry's dominant cost, the r9 bench drift). The bound also
      // subsumes the size-ratio conjunct (rn ≥ 1 ⟹ capacity ≤
      // min(szA, szB)), so it replaces it. The prefix pipeline's
      // exchange is computed once and REUSED by both join sides
      // (ReuseExchange on identical subplans) — a localCheckpoint
      // here measured slower (it defeats that reuse and serializes
      // materialization), as did one-pass in-bucket pair expansion
      // (collect_list + explode allocates the full raw pair stream).
      val prefix = tok.join(broadcast(freq), "t")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("freq"), col("t"))))
        .filter(col("rn") <= prefixLen)
        .select(col("t"), col("doc_id"), col("source"), col("sz"), col("rn"))
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.t") === col("b.t") && col("a.source") === col("b.source") &&
            col("a.doc_id") < col("b.doc_id") &&
            (lit(1) + least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))) *
              NgramSizeRatio >= col("a.sz") + col("b.sz"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      NearDup.verified(cand, NearDup.sets(docs, col("tg")), NgramJaccardT)
    }),

    // Embedding-cosine near-dup: banded random-hyperplane LSH
    // candidates — 4 independent bands × 8 sign bits sliced from one
    // 32-bit bucket — verified by exact cosine. An 8-bit band has 256
    // values, so a random same-label pair survives some band with
    // prob ≈ 1 − (1 − 2⁻⁸)⁴ ≈ 1.6% (vs ~68% with the old 2-bit bands,
    // which were effectively all-pairs per label): no band bucket
    // holds a constant fraction of a hot label, which is what survives
    // a skewed 100 TB corpus. Norms are precomputed per vector; each
    // candidate costs one codegen'd dot product. The oracle models the
    // identical banding, so the check is exact over the LSH semantics
    // (same pattern as knn_lsh).
    // The banded-LSH S-CURVE, measured: per similarity decile of the
    // exact pair similarities IN THE INDEX'S OWN FEATURE DOMAIN
    // (5-char shingle Jaccard — the domain the signatures minhash;
    // trigram-J ground truth would misread capture, since longer
    // shingles score the same pair lower), the fraction the 4×4 band
    // index emits as candidates. This is the index-quality report a
    // dedup pipeline runs when tuning (bands × rows): capture follows
    // the 1−(1−J⁴)⁴ sigmoid — ≈ 1 for true dups, falling fast below
    // the ~0.63 inflection, which is exactly the cheapness the index
    // buys. Ground truth is inherently the quadratic exact compute —
    // bounded here per source group; at 100 TB this report runs on a
    // stable SAMPLE of groups (it is a tuning diagnostic, not a
    // production stage). Shingle sets computed once (localCheckpoint)
    // for both pair sides, which the same-source self-join carries
    // (fetching them per pair afterwards took one more job at sf0.1);
    // the capture join is one LEFT join on the canonical pair key + a
    // ≤ 8-row rollup. The sample is IN the query: a stable
    // source-hash predicate keeps 1-in-5 source
    // groups (the ':scv' salt — independent of every other sampling
    // hash), because the diagnostic's cost is quadratic per group and
    // its estimate converges per-group; the ':scv2' draw keeps the
    // corpus' duplicate-rich source so the top tail stays populated.
    "dedup_lsh_scurve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
            val sampled = TextFunctions.tokenHash(concat(col("source"), lit(":scv2"))) % 5 === 0
      val docs = Tables.documents(s, dir)
        .filter(sampled)
        .withColumn("rn", row_number().over(Window.partitionBy(col("source"))
          .orderBy(TextFunctions.tokenHash(
            concat(col("doc_id").cast("string"), lit(":scvcap"))), col("doc_id"))))
        .filter(col("rn") <= ScurveGroupCap)
        .select(col("doc_id"), col("source"),
          graft.functions.expressions.SortedShingleHashes(col("text"), 5).as("sh"))
        .withColumn("sz", size(col("sh")))
        .localCheckpoint()
      def side(p: String) = docs.select(col("source"), col("doc_id").as(s"doc_$p"),
        col("sh").as(s"${p}_set"), col("sz").as(s"${p}_sz"))
      val ex = NearDup.scored(side("a").join(side("b"), Seq("source"))
          .filter(col("doc_a") < col("doc_b")))
        .withColumn("jac", NearDup.jaccard)
        .filter(col("jac") >= ScurveMinJac)
      // candidates over the sampled docs only — pair capture is a
      // pairwise band property, unaffected by out-of-sample docs
      val cap = lshCandidates(Tables.documents(s, dir).filter(sampled))
        .withColumn("captured", lit(1))
      ex.select(col("doc_a"), col("doc_b"), col("jac"))
        .join(cap, Seq("doc_a", "doc_b"), "left")
        .withColumn("bucket", floor(col("jac") * 10).cast("int"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_true"), count(col("captured")).as("n_captured"))
        .select(col("bucket"), col("n_true"), col("n_captured"),
          round(col("n_captured").cast("double") / col("n_true"), 6).as("capture_r"))
    }),

    "dedup_embedding_pairs" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .withColumn("bucket",
          VectorFunctions.lshBucket(col("embedding"), Dim, EmbBands * EmbBandBits))
      val bandMask = (1 << EmbBandBits) - 1
      val banded = emb.select(col("vec_id").as("doc_id"), col("label"),
          explode(array((0 until EmbBands).map(k => struct(
            lit(k).as("band"),
            shiftright(col("bucket"), k * EmbBandBits).bitwiseAND(lit(bandMask.toLong))
              .as("bval"))): _*)).as("bb"))
        .select(col("doc_id"), col("label"), col("bb.band").as("band"),
          col("bb.bval").as("bval"))
      cosineVerified(coBucketPairs(banded, Seq("label", "band", "bval")).distinct(), emb)
    }),

    // Embedding-LSH near-dup mining with corpus-tracking band width —
    // the 100 TB form of dedup_embedding_pairs. bits = smallest b with
    // 2^b·EmbBucketTarget ≥ N (exact integer search, both engines), so
    // bucket occupancy stays ~EmbBucketTarget and pair expansion stays
    // ~N·target instead of N²/2^bits. Hyperplanes are the SAME
    // closed-form integer-lattice family as the fixed entry, built as
    // driver-held model rows instead of literal expressions (bit count
    // is data-dependent; 4·20 = 80 literal dot exprs would crowd
    // janino's method ceiling — the PQ-encode lesson), applied by
    // VectorModel.signBits in one compute-repartitioned mapPartitions
    // pass.
    "dedup_embedding_scaled" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val bits = embBandBits(emb.count())
      val nBands = EmbBands
      // band k's hyperplanes are lattice rows k·bits until (k+1)·bits
      val bands = Array.tabulate(nBands)(k =>
        Array.tabulate(bits)(b => VectorModel.latticeRow(k * bits + b, Dim)))
      val banded = emb.select(col("vec_id"), col("label"), col("embedding"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, Int, Array[Float])]
        .mapPartitions(_.flatMap { case (id, label, e) =>
          Iterator.tabulate(nBands)(k => (id, label, k, VectorModel.signBits(e, bands(k))))
        }).toDF("doc_id", "label", "band", "bval")
      cosineVerified(coBucketPairs(banded, Seq("label", "band", "bval")).distinct(), emb)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS content_key, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1""".stripMargin,
    "dedup_minhash_sig" ->
      s"""SELECT doc_id, sig0, sig1, sig2, sig3 FROM (${minhashSigsSql("documents")})""",
    "dedup_minhash_pairs" ->
      s"""WITH ${minhashPairsCtes("documents")}
         |$minhashPairsSelect""".stripMargin,
    // Id-oriented enumeration (each triangle once at its lowest id);
    // the Spark side's degree-oriented walk must produce the same
    // canonical a<b<c set.
    "dedup_triangles" ->
      s"""WITH ${minhashPairsCtes("documents")},
         |p AS ($minhashPairsSelect),
         |e AS (SELECT doc_a AS a, doc_b AS b FROM p)
         |SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
         |JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b""".stripMargin,
    "dedup_containment" ->
      s"""WITH ${minhashPairsCtes("documents")}
         |SELECT doc_a, doc_b,
         |  ROUND(len(list_intersect(da.tg, db.tg))::DOUBLE / len(da.tg), 6) AS c_ab_r,
         |  ROUND(len(list_intersect(da.tg, db.tg))::DOUBLE / len(db.tg), 6) AS c_ba_r
         |FROM cand JOIN tg da ON doc_a = da.doc_id JOIN tg db ON doc_b = db.doc_id
         |WHERE GREATEST(len(list_intersect(da.tg, db.tg))::DOUBLE / len(da.tg),
         |               len(list_intersect(da.tg, db.tg))::DOUBLE / len(db.tg)) >= 0.7""".stripMargin,
    // Mirrors the Spark rounds exactly: integer floor-divide shares,
    // integer sums — one CTE pair (shares, ranks) per round.
    "dedup_pagerank" -> {
      val rounds = (1 to PrIters).map { r =>
        s"""sh$r AS (SELECT r.v AS sv, (r.rank * 85) // (100 * d.deg) AS share
           |  FROM r${r - 1} r JOIN deg d ON r.v = d.v),
           |r$r AS (SELECT e.dst AS v,
           |    (15 * $PrScale) // (100 * (SELECT ng FROM n)) + SUM(s.share) AS rank
           |  FROM edges e JOIN sh$r s ON e.src = s.sv GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${minhashPairsCtes("documents")},
         |p AS ($minhashPairsSelect),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION ALL SELECT doc_b, doc_a FROM p),
         |deg AS (SELECT src AS v, COUNT(*) AS deg FROM edges GROUP BY src),
         |n AS (SELECT COUNT(*) AS ng FROM deg),
         |r0 AS (SELECT v, $PrScale // (SELECT ng FROM n) AS rank FROM deg),
         |$rounds
         |SELECT r.v AS doc_id, d.deg, CAST(r.rank AS BIGINT) AS rank
         |FROM r$PrIters r JOIN deg d ON r.v = d.v""".stripMargin
    },
    "dedup_incremental" -> incrementalSql,
    // the persisted-bucketed-index layout cannot change the relation —
    // oracle equality with the recompute-everything form IS the check
    "dedup_incremental_bucketed" -> incrementalSql,
    // the bloom is a prefilter only — false positives die in the
    // verify join, so the exact relation below IS the result
    "dedup_bloom_prefilter" ->
      s"""WITH hh AS (SELECT doc_id,
         |         ${TextFunctions.Sql.tokenHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
         |       FROM documents),
         |idx AS (SELECT md5(d.text) AS digest
         |        FROM documents d JOIN hh ON d.doc_id = hh.doc_id
         |        WHERE hh.h < 90),
         |delta AS (
         |  SELECT d.doc_id, md5(d.text) AS digest
         |  FROM documents d JOIN hh ON d.doc_id = hh.doc_id WHERE hh.h >= 90
         |  UNION ALL
         |  SELECT d.doc_id + 100000, md5(d.text)
         |  FROM documents d JOIN hh ON d.doc_id = hh.doc_id
         |  WHERE hh.h < 90 AND d.doc_id % 7 = 0)
         |SELECT doc_id,
         |  CAST(CASE WHEN digest IN (SELECT digest FROM idx)
         |       THEN 1 ELSE 0 END AS INT) AS is_dup
         |FROM delta""".stripMargin,
    "dedup_components" ->
      s"""WITH RECURSIVE ${minhashPairsCtes("documents")},
         |pairs AS ($minhashPairsSelect),
         |$ccClosureCtes
         |SELECT v AS doc_id, component,
         |  CAST(v = component AS INT) AS is_canonical
         |FROM comp""".stripMargin,
    "dedup_label_prop" ->
      // synchronous INCLUSIVE-plurality rounds, mirrored CTE-per-round
      // via the shared [[lpaCtes]] (count desc, label asc = the Spark
      // row_number; the self-vote UNION ALL branch is the inclusive
      // rule)
      s"""WITH RECURSIVE ${minhashPairsCtes("documents")},
         |pairs AS ($minhashPairsSelect),
         |$lpaCtes
         |SELECT v AS doc_id, lbl AS community FROM l$LpRounds""".stripMargin,
    "dedup_kcore" -> {
      // CTE-per-round peel, lockstepped to KCoreRounds/KCoreK — the
      // lpaCtes discipline: the fixed round count IS the contract
      def round(i: Int): String =
        s"""d$i AS (SELECT e.v, COUNT(*) AS c FROM kedges e
           |  JOIN a${i - 1} x ON e.v = x.v
           |  JOIN a${i - 1} y ON e.nbr = y.v GROUP BY e.v),
           |a$i AS (SELECT v FROM d$i WHERE c >= $KCoreK)""".stripMargin
      s"""WITH ${minhashPairsCtes("documents")},
         |pairs AS ($minhashPairsSelect),
         |kedges AS (SELECT doc_a AS v, doc_b AS nbr FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |a0 AS (SELECT DISTINCT v FROM kedges),
         |${(1 to KCoreRounds).map(round).mkString(",\n")},
         |fin AS (SELECT e.v, COUNT(*) AS core_deg FROM kedges e
         |  JOIN a$KCoreRounds x ON e.v = x.v
         |  JOIN a$KCoreRounds y ON e.nbr = y.v GROUP BY e.v)
         |SELECT d.doc_id, CAST(f.v IS NOT NULL AS INT) AS in_core,
         |  CAST(COALESCE(f.core_deg, 0) AS BIGINT) AS core_deg
         |FROM documents d LEFT JOIN fin f ON d.doc_id = f.v""".stripMargin
    },
    "dedup_community_compare" ->
      // both clusterings' shared CTE chains over ONE pairs CTE,
      // joined into the per-component community-count histogram
      s"""WITH RECURSIVE ${minhashPairsCtes("documents")},
         |pairs AS ($minhashPairsSelect),
         |$ccClosureCtes,
         |$lpaCtes
         |SELECT n_comms, COUNT(*) AS n_components FROM (
         |  SELECT comp.component, COUNT(DISTINCT l.lbl) AS n_comms
         |  FROM comp JOIN l$LpRounds l ON comp.v = l.v
         |  GROUP BY comp.component)
         |GROUP BY n_comms""".stripMargin,
    "dedup_representatives" ->
      s"""WITH RECURSIVE ${minhashPairsCtes("documents")},
         |pairs AS ($minhashPairsSelect),
         |$ccClosureCtes,
         |ranked AS (
         |  SELECT c.component, c.v AS doc_id, d.n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY c.component
         |      ORDER BY d.n_chars DESC, c.v) AS rk
         |  FROM comp c JOIN documents d ON c.v = d.doc_id)
         |SELECT component, COUNT(*) AS n_members,
         |  MAX(CASE WHEN rk = 1 THEN doc_id END) AS rep_id,
         |  MAX(CASE WHEN rk = 1 THEN n_chars END) AS rep_chars
         |FROM ranked GROUP BY component HAVING COUNT(*) > 1""".stripMargin,
    "dedup_minhash_estimate" -> {
      val agree = (0 until MinHash.NumHashes)
        .map(i => s"CASE WHEN sa.sig$i = sb.sig$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH ${minhashPairsCtes("documents")},
         |sh AS (SELECT doc_id, ${MinHash.Sql.shingleHashes("text")} AS sh
         |       FROM documents),
         |sg AS (${minhashSigsSql("documents")})
         |SELECT c.doc_a, c.doc_b,
         |  ROUND(len(list_intersect(ha.sh, hb.sh))::DOUBLE /
         |    (len(ha.sh) + len(hb.sh) - len(list_intersect(ha.sh, hb.sh))), 6)
         |    AS sj_r,
         |  ROUND(($agree)::DOUBLE / ${MinHash.NumHashes}, 6) AS est_r,
         |  CAST(LEAST(CAST(ceil(abs(($agree)::DOUBLE / ${MinHash.NumHashes} -
         |    len(list_intersect(ha.sh, hb.sh))::DOUBLE /
         |    (len(ha.sh) + len(hb.sh) - len(list_intersect(ha.sh, hb.sh)))) * 10)
         |    AS INT), 3) AS INT) AS err_class
         |FROM cand c
         |JOIN sh ha ON c.doc_a = ha.doc_id JOIN sh hb ON c.doc_b = hb.doc_id
         |JOIN sg sa ON c.doc_a = sa.doc_id JOIN sg sb ON c.doc_b = sb.doc_id""".stripMargin
    },
    "dedup_hop_distance" ->
      // the CC closure names the canonical; the bounded recursive walk
      // from canonicals along edges yields min hop distances (UNION
      // dedups (v, d) pairs; d < 16 caps cycles far above any LSH
      // clique diameter)
      s"""WITH RECURSIVE ${pairsClosureCtes("documents")},
         |walk AS (
         |  SELECT doc_id AS v, 0 AS d FROM comp WHERE doc_id = component
         |  UNION
         |  SELECT e.eb, w.d + 1 FROM walk w JOIN edges e ON w.v = e.ea
         |  WHERE w.d < 16)
         |SELECT comp.doc_id, comp.component, CAST(MIN(w.d) AS INT) AS hops
         |FROM comp JOIN walk w ON comp.doc_id = w.v
         |GROUP BY comp.doc_id, comp.component""".stripMargin,
    "dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, ${TextFunctions.Sql.tokenHash("t")} AS h
         |  FROM (SELECT doc_id, unnest(${TextFunctions.Sql.tokens("text")}) AS t FROM documents)),
         |sums AS (
         |  SELECT doc_id,
         |    ${(0 until 16).map(b => s"SUM((h >> $b) % 2 * 2 - 1) AS s$b").mkString(",\n    ")}
         |  FROM tok GROUP BY doc_id)
         |SELECT doc_id,
         |  CAST(${(0 until 16).map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS simhash
         |FROM sums""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH tg AS (SELECT doc_id, source, ${trigramsSql("text")} AS tg FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  ROUND(${trigramJaccardSql("a.tg", "b.tg", 8)}, 6) AS jac
         |FROM tg a JOIN tg b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE ${trigramJaccardSql("a.tg", "b.tg", 6)} >= $NgramJaccardT""".stripMargin,
    "dedup_lsh_scurve" ->
      // exact same-source pair Jaccard in the SHINGLE domain LEFT
      // JOIN the banded candidate set (the minhash CTEs), rolled up
      // by similarity decile; union = szA + szB − inter on distinct
      // shingle sets, so both engines divide identical integers
      s"""WITH docs_scv0 AS (
         |  SELECT * FROM documents
         |  WHERE ${TextFunctions.Sql.tokenHash("source || ':scv2'")} % 5 = 0),
         |docs_scv AS (
         |  SELECT doc_id, text, lang, source, n_chars FROM (
         |    SELECT *, row_number() OVER (PARTITION BY source
         |      ORDER BY ${TextFunctions.Sql.tokenHash("cast(doc_id AS VARCHAR) || ':scvcap'")}, doc_id) AS rn
         |    FROM docs_scv0)
         |  WHERE rn <= $ScurveGroupCap),
         |${minhashPairsCtes("docs_scv")},
         |sh AS (SELECT doc_id, source,
         |         ${MinHash.Sql.shingleHashes("text")} AS sh FROM docs_scv),
         |ex AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.sh, b.sh))::DOUBLE /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
         |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id),
         |exf AS (SELECT * FROM ex WHERE jac >= $ScurveMinJac),
         |j AS (
         |  SELECT exf.jac, CASE WHEN cand.doc_a IS NULL THEN 0 ELSE 1 END AS cap
         |  FROM exf LEFT JOIN cand
         |    ON exf.doc_a = cand.doc_a AND exf.doc_b = cand.doc_b)
         |SELECT CAST(floor(jac * 10) AS INT) AS bucket,
         |  COUNT(*) AS n_true,
         |  COUNT(*) FILTER (cap = 1) AS n_captured,
         |  ROUND((COUNT(*) FILTER (cap = 1))::DOUBLE / COUNT(*), 6) AS capture_r
         |FROM j GROUP BY bucket""".stripMargin,
    "dedup_embedding_pairs" -> {
      val bandMask = (1 << EmbBandBits) - 1
      val bandMatch = (0 until EmbBands)
        .map(k => s"((a.bucket >> ${k * EmbBandBits}) & $bandMask) = " +
          s"((b.bucket >> ${k * EmbBandBits}) & $bandMask)")
        .mkString("(", " OR ", ")")
      s"""WITH bk AS (
         |  SELECT vec_id, label, embedding,
         |    ${VectorFunctions.Sql.lshBucket("embedding", Dim, EmbBands * EmbBandBits)} AS bucket
         |  FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ROUND(${VectorFunctions.Sql.cosine("a.embedding", "b.embedding", Dim)}, 6) AS cos_r
         |FROM bk a JOIN bk b
         |  ON a.label = b.label AND a.vec_id < b.vec_id AND $bandMatch
         |WHERE ${VectorFunctions.Sql.cosine("a.embedding", "b.embedding", Dim)} >= 0.3""".stripMargin
    },
    "dedup_embedding_scaled" -> {
      // bits-generic mirror: nb computes the band width by the same
      // exact integer search (no SQL text depends on the data-derived
      // width), hp builds the closed-form hyperplanes as ROWS, sb/bd
      // fold sign bits into per-band values, and the candidate/verify
      // stages are the fixed entry's.
      val dotW = s"list_reduce(list_prepend(0.0::DOUBLE, " +
        s"[e.embedding[i]::DOUBLE * hp.w[i]::DOUBLE for i in range(1, ${Dim + 1})]), " +
        "(acc, v) -> acc + v)"
      s"""WITH nb AS (
         |  SELECT COALESCE(MIN(bb), $EmbBitsMax) AS bb
         |  FROM (SELECT unnest(range($EmbBitsMin, ${EmbBitsMax + 1})) AS bb) t,
         |       (SELECT COUNT(*) AS n FROM embeddings) c
         |  WHERE (1::BIGINT << bb) * $EmbBucketTarget >= c.n),
         |hp AS (
         |  SELECT h, [((((h*1000003 + i) * 2654435761) // 1024) % 7 - 3)::FLOAT
         |             for i in range(1, ${Dim + 1})] AS w
         |  FROM (SELECT unnest(range(0, $EmbBands * (SELECT bb FROM nb))) AS h)),
         |sb AS (
         |  SELECT e.vec_id, e.label, hp.h,
         |    CASE WHEN $dotW > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
         |  FROM embeddings e CROSS JOIN hp),
         |bd AS (
         |  SELECT vec_id, label, h // (SELECT bb FROM nb) AS band,
         |    CAST(SUM(bit << (h % (SELECT bb FROM nb))) AS BIGINT) AS bval
         |  FROM sb GROUP BY 1, 2, 3),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM bd x JOIN bd y ON x.label = y.label AND x.band = y.band
         |    AND x.bval = y.bval AND x.vec_id < y.vec_id)
         |SELECT c.id_a, c.id_b,
         |  ROUND(${VectorFunctions.Sql.cosine("a.embedding", "b.embedding", Dim)}, 6) AS cos_r
         |FROM cand c JOIN embeddings a ON c.id_a = a.vec_id
         |            JOIN embeddings b ON c.id_b = b.vec_id
         |WHERE ${VectorFunctions.Sql.cosine("a.embedding", "b.embedding", Dim)} >= 0.3""".stripMargin
    }
  )
}
