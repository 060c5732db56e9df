package graft.queries

import graft.Tables
import graft.functions.PairGraph
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis queries over the `documents` table (SURVEY.md §2.2 /
  * driver north star): per-document stats, quality scoring, language
  * ID, fingerprints, corpus token frequencies. All are narrow
  * projections + one aggregation at most — the 100 TB shape is a
  * single scan with codegen'd expressions, shuffling only the final
  * small aggregates.
  */
object TextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-doc token/char/punct stats: pure map, no shuffle.
    "text_stats" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars_actual"),
        tokenCount(col("text")).as("n_tokens"),
        punctCount(col("text")).as("n_punct"),
        (length(col("text")).cast("double") / tokenCount(col("text"))).as("chars_per_token"))
    }),

    // Quality scoring: stopword ratio + bucketing.
    "text_quality" -> ((s, dir) => {
      val sw = stopwordRatio(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        sw.as("stopword_ratio"),
        when(sw >= 0.2, "high").when(sw >= 0.05, "mid").otherwise("low").as("quality_bucket"))
    }),

    // Distribution-drift monitor (chi-square contributions) — the
    // "did my filter skew the mix?" check every curation pipeline
    // runs before shipping a gated corpus: per dimension, the
    // quality-gated subset's category counts against expectations
    // scaled from the full corpus, emitted as per-category chi-square
    // terms. Dimensions: length band (n_chars div 100) — which the
    // stopword-ratio gate REALLY drifts in this corpus (short docs
    // fail the ratio test more, measured kept-rates 0.49-0.69 band 0
    // vs 0.68-0.82 band 5 across the SF ladder, spec-pinned as the
    // monotone length effect) — and source, the quiet null. Chi-square
    // instead of KL/PSI is deliberate: terms need only +,−,×,÷ (one
    // mirrored IEEE pipeline), no libm log whose rounding differs
    // across engines. Scale: two bounded groupBys + a window over the
    // ≤ |categories| cell table; the corpus is scanned twice and never
    // joined row-to-row.
    "text_drift_chi2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .withColumn("len_band", expr("n_chars div 100").cast("string"))
      val cur = docs.filter(stopwordRatio(col("text")) >= 0.05)
      def dist(df: DataFrame, dim: String, n: String) =
        df.groupBy(col(dim).as("category")).agg(count(lit(1)).as(n))
          .withColumn("dim", lit(dim))
      val ref = dist(docs, "len_band", "n_ref").unionByName(dist(docs, "source", "n_ref"))
      val gated = dist(cur, "len_band", "n_cur").unionByName(dist(cur, "source", "n_cur"))
      val w = Window.partitionBy(col("dim"))
      ref.join(gated, Seq("dim", "category"), "left")
        .na.fill(0L, Seq("n_cur"))
        .withColumn("tr", sum(col("n_ref")).over(w))
        .withColumn("tc", sum(col("n_cur")).over(w))
        .withColumn("e", (col("n_ref").cast("double") * col("tc")) / col("tr"))
        .select(col("dim"), col("category"), col("n_ref"), col("n_cur"),
          round(((col("n_cur") - col("e")) * (col("n_cur") - col("e")))
            / col("e"), 4).as("term_r"))
    }),

    // Heuristic language ID vs the labeled lang column.
    "text_lang_id" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        col("lang"),
        langId(col("text")).as("predicted_lang"),
        langScore(col("text"), "en").cast("int").as("score_en"))
    }),

    // Order-sensitive rolling-hash fingerprint per doc.
    "text_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"))
    }),

    // BPE-ish subword tokenization: a regex lexer splitting letter
    // runs / digit runs / single punctuation — the shape of a byte-pair
    // pre-tokenizer's coarse pass. Identical regex semantics in Java
    // (Spark) and RE2 (DuckDB) for this pattern class.
    "text_bpe_tokens" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .as("n_subwords"),
        array_join(slice(
          regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)),
          1, 5), "|").as("first5"))
    }),

    // Corpus token frequencies, top 50: explode → two-phase count
    // (map-side partial agg before the shuffle), then a tiny top-k.
    "text_token_freq" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    }),

    // Deterministic split assignment + stratified sampling — the
    // train/val/test primitive of a training-data pipeline. The
    // assignment hashes the STABLE key (doc_id), not the content, so
    // re-runs and content edits never migrate a document across
    // splits (leakage). Pure map over the scan, no shuffle; the
    // 10%-per-source sample predicate composes the same way.
    "text_split_assign" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        splitCol.as("split"),
        (splitHash < 10).cast("int").as("in_sample_10pct"))
    }),

    // The composed curation DAG — the training-data pipeline's
    // endpoint run as ONE dataflow: quality gate (stopword ratio ≥
    // mid) → exact dedup keeping the lowest doc_id per content hash →
    // stable-key split assignment → per-doc manifest row. The manifest
    // columns are computed per-row BEFORE the dedup aggregation, so
    // the single shuffle carries only (md5 digest, 4 small fields) —
    // the text never crosses the exchange — and keep-lowest-doc_id is
    // a min_by aggregation with map-side partial reduction, not a
    // per-key window sort of full rows (the same window→arg-extreme
    // lesson as KeyedUpsertSink compaction). Spark plans this min_by
    // as SortAggregate, not HashAggregate — the struct buffer fails
    // UnsafeRow.isMutable so hash agg is unavailable — but the local
    // pre-agg sorts are over the narrow projected rows; the scale-
    // critical properties (reduction before the exchange, text stays
    // partition-local) hold and are pinned by PlanShapeSpec. Every
    // surviving doc is oracle-verified individually — id, source,
    // split, and token count.
    "text_curation_pipeline" -> ((s, dir) => {
      Tables.documents(s, dir)
        .filter(stopwordRatio(col("text")) >= 0.05)
        .select(
          md5(col("text")).as("chash"),
          col("doc_id"),
          struct(
            col("doc_id"), col("source"),
            splitCol.as("split"),
            tokenCount(col("text")).as("n_tokens")).as("manifest"))
        .groupBy("chash")
        .agg(min_by(col("manifest"), col("doc_id")).as("w"))
        .select(col("w.doc_id").as("doc_id"), col("w.source").as("source"),
          col("w.split").as("split"), col("w.n_tokens").as("n_tokens"))
    }),

    // The near-dup curation pipeline — cluster-then-keep, the actual
    // shape of a production dedup stage (pairwise-drop is ill-defined
    // when A~B and B~C but A≁C): quality gate → MinHash-LSH verified
    // pair graph over the SURVIVING docs → connected components →
    // keep each cluster's canonical (minimum-id) doc → stable split →
    // manifest. Composes dedup_components' superstep clustering into
    // text_curation_pipeline's gate→split→manifest frame. Scale shape:
    // the manifest columns are projected narrow BEFORE the canonical
    // semi-join, so text crosses no exchange; the cluster step inherits
    // PairGraph.components' bounded-bucket pair generation and
    // O(diameter) supersteps (in-bucket cliques → 2-3 here).
    "text_curation_neardup" -> ((s, dir) => {
      val gated = gatedDocs(s, dir)
      val manifest = gated.select(
        col("doc_id"), col("source"), splitCol.as("split"),
        tokenCount(col("text")).as("n_tokens"))
      manifest.join(canonicalOf(gated), "doc_id")
    }),

    // Repetition quality signal (Gopher-style): per doc, the dominant
    // adjacent-bigram count vs total bigrams — boilerplate/spam shows
    // as top_bigram_n/n_bigrams near 1. Integer outputs keep the hash
    // exact; the fraction is the consumer's division. One shuffle on
    // (doc_id, bg) with map-side partial counts; the two windows share
    // one doc_id exchange. Docs with < 2 tokens have no bigrams and
    // drop out (both engines).
    "text_repetition" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, dir)
        .select(col("doc_id"), explode(bigrams(col("text"))).as("bg"))
        .groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("c"))
      val byDoc = Window.partitionBy(col("doc_id"))
      counts
        .withColumn("rn", row_number().over(byDoc.orderBy(col("c").desc, col("bg").asc)))
        .withColumn("n_bigrams", sum(col("c")).over(byDoc))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("n_bigrams"),
          col("c").as("top_bigram_n"), col("bg").as("top_bigram"))
    }),

    // Sequence packing — the "pack documents into fixed-context
    // training sequences" step of an LLM data pipeline. Docs are
    // bucketed by the stable doc_id hash (so re-runs pack
    // identically), ordered by doc_id within bucket, and greedily
    // filled: a new sequence starts when the running token count
    // would exceed the budget; an over-budget doc gets a sequence of
    // its own. The scale shape is the secondary-sort pattern: ONE
    // shuffle on the bucket key carrying narrow (doc_id, bucket,
    // n_tokens) rows — the text never leaves the scan stage — a
    // partition-local sort, then a streaming pass with O(1) state.
    // The greedy reset-recurrence is inherently sequential per bucket
    // and inexpressible as a window function, so mapPartitions is the
    // honest tool here; parallelism comes from the bucket count,
    // which scales with the cluster (16 here, ~#cores×4 at 100 TB).
    // Oracle: the identical recurrence as a DuckDB recursive CTE.
    "text_pack_sequences" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          (tokenHash(col("doc_id").cast("string")) % PackBuckets).as("bucket"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        .as[(Long, Long, Long)]
        .repartition(col("bucket"))
        .sortWithinPartitions("bucket", "doc_id")
        .mapPartitions(packScan _)
        .toDF("doc_id", "bucket", "seq_idx", "n_tokens")
    }),

    // Benchmark decontamination — the "did an eval question leak into
    // the training corpus?" check every serious pretraining pipeline
    // runs (word-n-gram overlap, GPT-3 appendix-C style; 13-grams in
    // production, [[ContaminationN]] here because the synthetic docs
    // are ~55 tokens). The stable-hash test split stands in for the
    // benchmark suite. Scale contract: the benchmark side is MB-scale
    // (eval suites, not corpora), so its distinct n-grams BROADCAST
    // and the corpus side is one scan → explode → broadcast hash join
    // → one shuffle of small (doc_id, n_grams, count) partial aggs.
    // The corpus' n-grams are never collected, never distinct'd
    // corpus-wide, and text never crosses an exchange. Output: each
    // contaminated train doc with its total n-gram count and the
    // number of n-gram occurrences shared with the eval split —
    // integers, so the oracle hash is exact.
    "text_contamination" -> ((s, dir) => {
      import graft.functions.expressions.WordNgrams
      // n_grams as arithmetic on the token count, NOT size(ngrams(…)):
      // a size() over the gram array lands in the Project ABOVE the
      // Generate and re-evaluates the gram build once per EXPLODED row
      // — O(tokens²) per doc, measured 16 s at sf0.1 vs ~2 s with the
      // arithmetic form (and the pre-explode select pins it BELOW the
      // Generate). WordNgrams is the native one-pass gram builder —
      // the interpreted zip-of-slices HOF chain was the remaining cost.
      val train = Tables.documents(s, dir).filter(splitHash < 80)
        .select(col("doc_id"), col("text"),
          greatest(tokenCount(col("text")) - (ContaminationN - 1), lit(0))
            .as("n_grams"))
        .select(col("doc_id"), col("n_grams"),
          explode(WordNgrams(col("text"), ContaminationN)).as("g"))
      train.join(broadcast(evalGramsOf(s, dir)), "g")
        .groupBy(col("doc_id"), col("n_grams"))
        .agg(count(lit(1)).as("n_shared"))
    }),

    // The END-TO-END pretraining data recipe as ONE dataflow — every
    // curation stage this library implements, composed in production
    // order: quality gate → near-dup clustering (keep cluster
    // canonical) → benchmark decontamination (drop train/val docs
    // overlapping the eval suite; the eval side comes from the FULL
    // corpus' test split because a benchmark is external to curation)
    // → weighted mixture sampling → stable split → sequence packing.
    // Output: the packed-sequence manifest (doc_id, source, split,
    // bucket, seq_idx, n_tokens) a trainer would consume. Scale
    // anatomy is inherited piecewise from the component queries:
    // one gated-scan checkpoint feeds all consumers, pairs
    // materialize only in LSH buckets, eval grams broadcast, the
    // pack shuffle carries narrow rows, and the final meta join is
    // doc_id-keyed. Text never crosses an exchange anywhere.
    "text_recipe_pipeline" -> ((s, dir) => recipePipeline(s, dir)),

    // Per-doc salient terms by tf·idf — the keyword/topic signal of a
    // corpus-analysis pass. Two-phase: document frequencies from one
    // explode→distinct→count aggregation (the DF table is vocabulary-
    // sized — small, broadcast into the scoring join), then per-doc
    // term counts scored tf·(N/df) and window-ranked to the top 3.
    // idf is the RAW ratio N/df, not log(N/df): scoring is monotone
    // in it either way, and keeping the arithmetic in exact-rational
    // double (int·int/int) avoids cross-engine transcendental-libm
    // last-ulp drift that would break hash equality. Ties break on
    // token asc — deterministic both sides.
    "text_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val nDocs = docs.count() // corpus size: one tiny job, scalar
      // tf feeds BOTH the df aggregation and the scoring join —
      // checkpointed once so the corpus is scanned and explode-
      // aggregated once, not twice (same multi-consumer lineage-cut
      // policy as gatedDocs).
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val df = tf.groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token").asc)
      tf.join(broadcast(df), "token")
        .withColumn("score",
          col("tf").cast("double") * lit(nDocs.toDouble) / col("df").cast("double"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("token"),
          col("tf"), col("df"), round(col("score"), 6).as("score_r"))
    }),

    // Document chunking — fixed-size token windows with stride overlap
    // ([[ChunkSize]]/[[ChunkStride]]), the context-length splitting
    // step before embedding or training long docs. Chunk starts are
    // 1, 1+S, 1+2S, … while ≤ n_tokens (trailing chunks may be short);
    // the generator input is a cheap integer sequence and the chunk
    // text is a slice of the ALREADY-TOKENIZED array projected below
    // the Generate — per-exploded-row work is an array slice + join,
    // never re-tokenization (the text_contamination lesson). One scan,
    // no shuffle.
    "text_chunk" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 1) // sequence(1, 0) is illegal in Spark
        .select(col("doc_id"), col("t"),
          posexplode(sequence(lit(1), size(col("t")), lit(ChunkStride))))
        .select(col("doc_id"),
          col("pos").cast("int").as("chunk_idx"),
          col("col").cast("int").as("chunk_start"),
          least(lit(ChunkSize), size(col("t")) - col("col") + 1).cast("int")
            .as("n_chunk_tokens"),
          array_join(slice(col("t"), col("col"), lit(ChunkSize)), " ").as("chunk_text"))
    }),

    // Vocabulary growth curve (the Heaps'-law measurement a corpus
    // profile reports): distinct tokens seen within the first N docs,
    // at fixed N checkpoints. The scale rewrite of "cumulative
    // distinct" again (the events_cum_users first-seen trick, token
    // domain): each token contributes at its MINIMUM doc_id (one
    // explode → min agg, vocabulary-sized result), checkpoints then
    // count first-seen ids under each bound via a small explode —
    // never a per-prefix rescan. Checkpoints are literals shared with
    // the oracle.
    "text_vocab_growth" -> ((s, dir) => {
      val firstSeen = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .groupBy(col("t")).agg(min(col("doc_id")).as("first_doc"))
      firstSeen
        .select(col("first_doc"),
          explode(array(VocabCheckpoints.map(lit(_)): _*)).as("n_docs_prefix"))
        .filter(col("first_doc") < col("n_docs_prefix"))
        .groupBy(col("n_docs_prefix"))
        .agg(count(lit(1)).as("vocab"))
    }),

    // LEAKAGE-AWARE split: assign train/val/test by near-dup CLUSTER,
    // not by document. Per-doc split hashing (text_split_assign) can
    // put two near-copies on opposite sides of the train/test fence —
    // the exact contamination decontamination later has to mop up;
    // hashing the cluster's canonical id instead makes every
    // component split-pure BY CONSTRUCTION. Composes the verified
    // pair graph + connected components (their scale anatomy
    // unchanged) with a ':csplit'-salted component hash — independent
    // of the per-doc split hash, deterministic re-runs.
    "text_cluster_split" -> ((s, dir) => {
      val comp = PairGraph.using(DedupQueries.minhashVerifiedPairs(s, dir))(
        _.components(Tables.documents(s, dir).select(col("doc_id"))))
      val ch = tokenHash(concat(col("component").cast("string"), lit(":csplit"))) % 100
      comp.select(col("doc_id"), col("component"),
        when(ch < 80, "train").when(ch < 90, "val").otherwise("test").as("split"))
    }),

    // BPE vocabulary induction — TWO supersteps of actual byte-pair
    // training (count adjacent-pair frequencies over the word-
    // frequency table, adopt the most frequent pair as a merge, apply
    // it corpus-wide, repeat), the tokenizer-training op of an LLM
    // data pipeline. Scale anatomy: training runs on the WORD-
    // FREQUENCY table, not the corpus (one corpus scan → vocab-sized
    // relation, checkpointed); each superstep is one explode→sum pair
    // count plus a 1-row top-pair broadcast (crossJoin) — the learned
    // merge is model state, the IVF-centroid pattern. Applying a
    // merge is a per-word ordered LEFT-FOLD over the token sequence
    // (greedy leftmost, the EWMA anatomy: init = first token, fold
    // the rest; a merged token can never re-match its left part since
    // it got longer) — DuckDB's list_reduce mirrors the identical op
    // sequence, so the trained merges AND the merged corpus state
    // hash-match. Output: both merges with their counts + the top-5
    // tokens of the merged state.
    "text_bpe_train" -> ((s, dir) => {
      import graft.functions.expressions.WordNgrams
      val wf = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      def pairTop(seqDf: DataFrame): DataFrame = seqDf
        .select(col("freq"), explode(WordNgrams(col("seq"), 2)).as("g"))
        .groupBy(col("g")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("g").asc).limit(1)
        .select(col("g"), col("n"),
          split(col("g"), " ").getItem(0).as("ma"),
          split(col("g"), " ").getItem(1).as("mb"))
        .localCheckpoint() // 1-row model state, reused twice
      def applyMerge(seqDf: DataFrame, top: DataFrame): DataFrame = seqDf
        .crossJoin(broadcast(top.select(col("ma"), col("mb"))))
        .withColumn("t", tokens(col("seq")))
        .withColumn("seq", aggregate(
          slice(col("t"), lit(2), size(col("t")) - 1),
          element_at(col("t"), 1),
          (acc, t) => when(
            (acc === col("ma") || acc.endsWith(concat(lit(" "), col("ma")))) &&
              t === col("mb"),
            concat(acc, t)).otherwise(concat(acc, lit(" "), t))))
        .select(col("word"), col("freq"), col("seq"))
      // chars → space-joined sequence (lookahead split keeps no empties)
      val s0 = wf.withColumn("seq",
        concat_ws(" ", split(col("word"), "(?!^)(?=.)")))
      val t1 = pairTop(s0)
      val s1 = applyMerge(s0, t1)
      val t2 = pairTop(s1)
      val s2 = applyMerge(s1, t2)
      val merges = t1.select(lit("merge1").as("step"), col("g").as("item"), col("n"))
        .unionAll(t2.select(lit("merge2").as("step"), col("g").as("item"), col("n")))
      val toks = s2.select(col("freq"), explode(tokens(col("seq"))).as("tk"))
        .groupBy(col("tk")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("tk").asc).limit(5)
        .select(lit("token").as("step"), col("tk").as("item"), col("n"))
      merges.unionAll(toks)
    }),

    // Per-doc duplicated-span rate (the ExactSubstr signal of Lee et
    // al. 2022, "Deduplicating Training Data Makes Language Models
    // Better", at fixed gram width): the fraction of a doc's
    // [[DupSpanN]]-token windows that also occur in ANOTHER document.
    // Near-dup pair queries answer "which docs are copies"; this one
    // scores partial copying per doc — the filter criterion
    // ("drop docs > X% duplicated spans") a curation pass applies
    // without needing the pair graph. Scale shape: tokenize + gram-
    // hash ONCE into (doc_id, ghash) pairs (16 bytes/row,
    // localCheckpointed for the two consumers); gram→distinct-doc
    // counts via two-phase distinct agg; join-back on the hash (one
    // shuffle each side, linear in gram count); per-doc rollup. Gram
    // TEXT never crosses an exchange — only 64-bit hashes do; the
    // oracle counts on gram strings (identical modulo xxhash64
    // collisions — none at any test SF).
    "text_dup_spans" -> ((s, dir) => {
      import graft.functions.expressions.WordNgrams
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(WordNgrams(col("text"), DupSpanN)).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("gh"))
        .localCheckpoint()
      val shared = grams.groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("gh"))
      grams.join(shared.withColumn("dup", lit(1)), Seq("gh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"), count(col("dup")).as("n_dup"))
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          round(col("n_dup").cast("double") / col("n_grams"), 6).as("dup_frac_r"))
    }),

    // Token-budget data selection — "fill a B-token training budget
    // with the best documents": docs ranked by quality (stopword
    // ratio desc, doc_id asc), selected while the running token total
    // stays ≤ [[SelectBudget]]. The global ordered cumulative sum is
    // built scale-honestly (a bare SUM OVER (ORDER BY …) collapses
    // the corpus onto one task): quality range-partitions into
    // [[BudgetBands]] coarse bands (floor(ratio·bands)), positions =
    // broadcast per-band offsets (a ≤bands-row cumsum) + in-band
    // running sums (parallel window per band) — the taxi_concurrency /
    // text_global_shuffle two-level prefix-sum anatomy, equal to the
    // single window by associativity. Ordering inputs are IEEE
    // divisions of the same exact integers on both engines, so the
    // order — and the integer cumulative sums — hash-match.
    "text_budget_select" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_tokens"),
          stopwordRatio(col("text")).as("q"))
        .withColumn("band", floor(col("q") * BudgetBands).cast("int"))
      val offs = docs.groupBy(col("band")).agg(sum(col("n_tokens")).as("tok"))
        .withColumn("off", coalesce(
          sum(col("tok")).over(
            Window.orderBy(col("band").desc).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("band"), col("off"))
      docs.join(broadcast(offs), "band")
        .withColumn("cum_tokens", col("off") +
          sum(col("n_tokens")).over(Window.partitionBy(col("band"))
            .orderBy(col("q").desc, col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("cum_tokens") <= SelectBudget)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
    }),

    // Epoch upsampling — the other half of mixture composition:
    // sources weighted ABOVE 1.0 epochs ("2.5 epochs of wiki") emit
    // multiple copies per doc. n_copies = ⌊rate/100⌋ plus one more
    // when the ':epoch'-salted stable hash lands under rate mod 100 —
    // so a 250% source emits 2 copies for all docs and 3 for a
    // deterministic half. The integer division is folded into the
    // CASE literals at build time (no runtime division); the explode
    // fans out 1..n_copies with a copy index the downstream packer /
    // shuffler can key on. Pure map + generate, no shuffle, no RNG.
    "text_mixture_epochs" -> ((s, dir) => {
      val nFull = EpochRates.foldRight(lit(0): Column) {
        case ((src, r), els) => when(col("source") === src, lit(r / 100)).otherwise(els)
      }
      val frac = EpochRates.foldRight(lit(0): Column) {
        case ((src, r), els) => when(col("source") === src, lit(r % 100)).otherwise(els)
      }
      val mh = tokenHash(concat(col("doc_id").cast("string"), lit(":epoch"))) % 100
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          (nFull + (mh < frac).cast("int")).as("n_copies"))
        .filter(col("n_copies") >= 1) // sequence(1, 0) is illegal in Spark
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1), col("n_copies"))).as("copy_idx"))
    }),

    // Weighted mixture sampling — the "0.4 epochs of web" downsampling
    // half of corpus composition, as a deterministic per-source keep
    // rate. The sampling hash is the stable doc_id key salted with
    // ':mix' so it is INDEPENDENT of the split hash (sampling must not
    // correlate with train/val/test) and re-runs keep identical docs.
    // Pure map over the scan — no shuffle, no RNG; the rate table is
    // one config literal ([[MixtureRates]]) rendered into both
    // engines.
    "text_mixture_sample" -> ((s, dir) => {
      val rate = MixtureRates.foldRight(lit(0): Column) {
        case ((src, r), els) => when(col("source") === src, lit(r)).otherwise(els)
      }
      val mh = tokenHash(concat(col("doc_id").cast("string"), lit(":mix"))) % 100
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), rate.as("rate_pct"), mh.as("mh"))
        .filter(col("mh") < col("rate_pct"))
        .select(col("doc_id"), col("source"), col("rate_pct"))
    }),

    // Weighted (importance) sampling — each doc's acceptance rate is
    // proportional to a per-doc quality weight rather than a flat
    // per-source rate: the score-proportional keep that quality-aware
    // mixing (e.g. DCLM-style) runs. The weight here is the clamped
    // token count (longer docs likelier kept); any integer score slots
    // in. Deterministic via the ':wsamp'-salted stable hash —
    // independent of the split/mixture/strat hashes, zero shuffle,
    // and re-runs keep identical docs. rate_pct is exported so
    // downstream estimators can reweight by 100/rate_pct (Horvitz-
    // Thompson correction) without recomputing the weight.
    "text_weighted_sample" -> ((s, dir) => {
      val rate = least(lit(95), greatest(lit(10), tokenCount(col("text"))))
      val mh = tokenHash(concat(col("doc_id").cast("string"), lit(":wsamp"))) % 100
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), rate.as("rate_pct"), mh.as("mh"))
        .filter(col("mh") < col("rate_pct"))
        .select(col("doc_id"), col("source"), col("rate_pct"))
    }),

    // EXACT-k weighted sample — priority sampling (Duffield, Lund &
    // Thorup 2007), completing the sampling triad: rate-proportional
    // Bernoulli (text_weighted_sample — sample SIZE varies),
    // exact-quota-per-stratum (text_stratified_sample — weights
    // can't bias within a stratum), and here exactly K docs globally
    // with inclusion probability rising in the weight. Priority
    // q = w / u with u the (0, 2^32]-uniform ':prio'-salted stable
    // hash; take the top K by q. ONE double division per row —
    // IEEE-754 division is correctly rounded, so both engines
    // produce bit-identical priorities from identical (w, u) (the
    // events_anomaly mirroring argument); (q, doc_id) is a total
    // order, so the selected set is deterministic. Scale shape:
    // orderBy(...).limit(K) plans as TakeOrderedAndProject — a
    // bounded per-partition top-K heap + driver merge of K×partitions
    // rows, NEVER a global sort-shuffle (plan-pinned in
    // PlanShapeSpec; the same bounded-selection discipline as
    // TopKByScore and the KMV k-min aggregate).
    "text_priority_sample" -> ((s, dir) => {
      val u = tokenHash(concat(col("doc_id").cast("string"), lit(":prio"))) + lit(1L)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("n_chars").cast("double") / u.cast("double")).as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(PrioK)
    }),

    // Stratified sampling with EXACT per-source quotas: the balanced-
    // subset op ("exactly K docs per source") that rate-based sampling
    // ([[MixtureRates]]) can't express. Selection is the first
    // [[StratQuota]] docs per source under the ':strat'-salted stable
    // hash order — deterministic, independent of split and mixture
    // hashes, and re-runs pick identical docs. One rank window
    // partitioned by source (parallel per key; only id+hash columns
    // cross the exchange).
    "text_stratified_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("sh"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          tokenHash(concat(col("doc_id").cast("string"), lit(":strat"))).as("sh"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= StratQuota)
        .select(col("doc_id"), col("source"), col("rk"))
    }),

    // Deterministic global training-order shuffle: every doc gets a
    // unique position 1..N under the ':shuf'-salted stable hash order.
    // The scale-honest total order: a single ROW_NUMBER() with no
    // PARTITION BY collapses the corpus onto one task, so instead the
    // order is (bucket, hash, doc_id) where bucket = hash % ShuffleBuckets
    // acts as the range-partition id — positions are bucket offsets
    // (a ShuffleBuckets-row cumulative sum, broadcast) plus an
    // in-bucket rank (parallel window per bucket). Same two-level
    // construction a sort-based global shuffle uses on a real cluster;
    // re-runs are bit-identical (no RNG).
    "text_global_shuffle" -> ((s, dir) => globalShuffle(Tables.documents(s, dir), ShuffleBuckets)),

    // Global shuffle with corpus-tracking bucket count — the 100 TB
    // form of text_global_shuffle. Fixed 32 buckets make the in-bucket
    // rank window sort N/32 rows on ONE task (a ~3 TB task at 100 TB);
    // buckets = clamp(N/ShuffleBucketTarget, 32, 2^20) keeps each
    // range partition at ~ShuffleBucketTarget rows at any corpus size,
    // and the offset relation stays a ≤buckets-row broadcast cumsum
    // (skinny two-column rows — 2^20 of them is still MBs). Bucket
    // count is computed from COUNT(*) by exact integer arithmetic on
    // both engines; everything else is the fixed entry's two-level
    // prefix sum unchanged.
    "text_shuffle_scaled" -> ((s, dir) => {
      val n = Tables.documents(s, dir).count()
      globalShuffle(Tables.documents(s, dir),
        math.max(ShuffleBucketsMin, math.min(ShuffleBucketsMax, n / ShuffleBucketTarget)))
    }),

    // Deletion propagation plan (right-to-be-forgotten / takedown):
    // a batch of delete requests (fixture: doc_id % 131 = 0 — the
    // request TABLE shape, not a magic predicate) must purge not just
    // the source rows but every DERIVED artifact still carrying the
    // content — here the chunk table and the inverted postings. The
    // op is the impact assessment a compliance job runs before the
    // rewrite: per artifact, affected keys and rows to delete. Scale
    // anatomy: the request list is requests-sized and BROADCAST into
    // each artifact's scan (one broadcast semi-join per artifact —
    // never a corpus-sized anti-join, never a driver loop); each
    // artifact reduces map-side to one row.
    "docs_purge_plan" -> ((s, dir) => {
      val reqs = Tables.documents(s, dir)
        .filter(col("doc_id") % 131 === 0).select(col("doc_id"))
      def stat(name: String, df: DataFrame) =
        df.join(broadcast(reqs), Seq("doc_id"), "left_semi")
          .agg(count_distinct(col("doc_id")).as("n_keys"),
            count(lit(1)).as("n_rows"))
          .select(lit(name).as("artifact"), col("n_keys"), col("n_rows"))
      stat("documents", Tables.documents(s, dir).select(col("doc_id")))
        .unionAll(stat("chunks", queries("text_chunk")(s, dir)))
        .unionAll(stat("postings", postings(s, dir)))
    }),

    // Source-balanced ROUND-ROBIN interleave — the write-order
    // complement of text_global_shuffle: training shards should not
    // serve long single-source runs (gradient batches go stale), so
    // the order cycles sources — doc k of source A lands next to doc
    // k of source B. Position = (per-source rank − 1) · |sources| +
    // source index: collision-free because the source index is a
    // strict mod-|sources| residue; positions are globally unique and
    // the leading cycle is 1..|sources| (spec-pinned). The per-source
    // rank window is the only data-sized shuffle; the source-index
    // table is |sources| rows, broadcast. Per-source order is the
    // ':shuf'-salted stable hash — deterministic, RNG-free, and
    // independent of the split/mixture salts.
    "text_interleave" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          tokenHash(concat(lit("shuf:"), col("doc_id").cast("string"))).as("h"))
      val srcIdx = docs.select(col("source")).distinct()
        .withColumn("sidx",
          (row_number().over(Window.orderBy(col("source"))) - 1).cast("long"))
      val nSrc = srcIdx.count()
      val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      docs.withColumn("rk", row_number().over(w))
        .join(broadcast(srcIdx), "source")
        .select(col("doc_id"), col("source"),
          ((col("rk") - 1).cast("long") * lit(nSrc) + col("sidx") + 1L)
            .as("pos"))
    }),

    // Cross-document boilerplate detection (the C4/RefinedWeb line-
    // dedup curation stage): a "line" is a fixed [[BoilerLineTokens]]-
    // token window (the fixture corpus has no newlines; production
    // swaps the chunker for split('\n') with the same plan), and a
    // line appearing in ≥ [[BoilerMinDocs]] DISTINCT docs is
    // boilerplate (nav bars, cookie banners, license headers). Scale
    // shape: docs tokenize + chunk ONCE into (doc_id, line-hash)
    // pairs — 16 bytes/row, localCheckpointed so the frequency agg and
    // the join-back share one tokenize pass and line TEXT never
    // crosses an exchange (only the 64-bit hash does); the boilerplate
    // set is frequency-filtered (bounded by corpus repetition, like
    // the decontamination gram set) and broadcast. Counts are exact
    // integers; the DuckDB oracle counts on line strings — identical
    // modulo 64-bit hash collisions (none at any test SF, P≈2⁻⁴⁰).
    "text_boilerplate" -> ((s, dir) => {
      val w = BoilerLineTokens
      val lines = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= w)
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(1), expr(s"size(t) div $w"))).as("i"))
        .select(col("doc_id"),
          xxhash64(array_join(
            slice(col("t"), (col("i") - 1) * w + 1, lit(w)), " ")).as("lh"))
        .localCheckpoint()
      val boiler = lines.groupBy(col("lh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= BoilerMinDocs)
        .select(col("lh"), lit(1L).as("is_boiler"))
      val perDoc = lines.join(broadcast(boiler), Seq("lh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
      Tables.documents(s, dir).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
    }),

    // INTRA-doc line dedup — the cleanup stage before cross-doc
    // anything: repeated lines inside one document (nav menus, footer
    // spam) collapse to their first occurrence. Same fixed 4-token
    // "line" chunker as text_boilerplate (fixture has no newlines;
    // production swaps in split('\n')). Keep-first is the POSITIONAL
    // filter `first index of x == my index` — order-preserving where
    // a distinct/set would scramble (list_distinct order is
    // engine-specific, so the deduped text's hash would diverge).
    // Pure map over one scan: no shuffle, no explode survives the
    // aggregation — per-doc work bounded by line count².
    "text_line_dedup" -> ((s, dir) => {
      val w = IntraLineTokens
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), expr(
          s"""transform(sequence(1, size(t) div $w),
             |  i -> array_join(slice(t, (i - 1) * $w + 1, $w), ' '))""".stripMargin)
          .as("ls"))
        .select(col("doc_id"),
          size(col("ls")).as("n_lines"),
          expr("filter(ls, (x, i) -> array_position(ls, x) == i + 1)").as("kept"))
        .select(col("doc_id"), col("n_lines"),
          size(col("kept")).as("n_unique"),
          md5(concat_ws(" ", col("kept"))).as("dedup_md5"))
    }),

    // Bigram language-model familiarity — the perplexity-filter shape
    // (CCNet/KenLM) made exactly cross-engine-checkable by scoring in
    // INTEGERS: the "model" is the corpus' top-[[LmVocab]] bigrams by
    // frequency (deterministic (count desc, bigram asc) cut), each doc
    // scores n_bigrams, how many fall inside the vocabulary, and the
    // summed corpus frequency of those hits — a monotone proxy for
    // sum log p without the transcendental (log's last-ulp differs
    // across engines; integer sums are bit-exact). Scale anatomy: the
    // bigram explode is checkpointed ONCE and feeds both passes; the
    // vocabulary is a global top-K (TakeOrdered, K rows to the
    // driver-side limit, never a full sort) and is BROADCAST back, so
    // the scoring pass is one narrow scan + one doc_id aggregation.
    // A real KenLM scorer slots in behind the same two-pass shape.
    "text_lm_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bg = docs.select(col("doc_id"),
          explode(bigrams(col("text"))).as("g"))
        .localCheckpoint()
      val vocab = bg.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("g").asc)
        .limit(LmVocab)
      val scored = bg.join(broadcast(vocab), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("cnt").isNotNull, 1L).otherwise(0L)).as("known_bigrams"),
          coalesce(sum(col("cnt")), lit(0L)).as("familiarity_mass"))
      docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("known_bigrams"), lit(0L)).as("known_bigrams"),
          coalesce(col("familiarity_mass"), lit(0L)).as("familiarity_mass"))
    }),

    // Inverted-index postings build — the materialization that turns
    // repeated text search from per-query corpus scans into posting-
    // list intersections. One explode + one (token, doc_id) aggregate
    // = one shuffle; at scale the output is WRITTEN bucketed+sorted
    // by token so each posting list is co-located and merge-ready
    // (the `BucketedJoinSpec` layout policy). tf rides along so
    // ranked boolean retrieval needs no second corpus pass.
    "text_inverted_postings" -> ((s, dir) => postings(s, dir)),

    // Boolean AND search over the postings: docs containing ALL query
    // terms, ranked input tf_total. The term filter sits ON THE GROUP
    // KEY, so Catalyst pushes it below the aggregation — only the
    // |terms| posting lists are ever aggregated, and the probe is a
    // doc_id-keyed count-match, never a corpus scan. The scale path
    // for "search the corpus again" once postings persist.
    "text_search_boolean" -> ((s, dir) => {
      postings(s, dir)
        .filter(col("token").isin(SearchTerms: _*))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("tf_total"))
        .filter(col("n_terms") === SearchTerms.size)
        .select(col("doc_id"), col("tf_total"))
    }),

    // PHRASE search over POSITIONAL postings — the adjacency query
    // (`"table hash"`) boolean AND can't express: each term probes its
    // posting list of (doc_id, position) pairs, and a match is
    // p2.pos = p1.pos + 1 within one doc. The term filters sit
    // directly above the token explode (scan-stage, pre-shuffle), so
    // only the two probed terms' positions ever shuffle — at scale the
    // positional postings persist bucketed by token and the probe
    // reads two posting lists, never the corpus (the
    // text_search_boolean index contract, plus positions). Output:
    // matching docs with their occurrence counts.
    "text_search_phrase" -> ((s, dir) => {
      val Seq(t1, t2) = PhraseTerms
      val pos = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))))
        .select(col("doc_id"), col("pos"), col("col").as("token"))
      val p1 = pos.filter(col("token") === t1).select(col("doc_id"), col("pos"))
      val p2 = pos.filter(col("token") === t2)
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      p1.join(p2, Seq("doc_id", "pos"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
    }),

    // Cross-engine table checksum — the reconciliation op a team
    // MIGRATING engines (this library's stated purpose) actually
    // runs: per-source row count, order-independent 60-bit content
    // fingerprint (bit_xor of a md5-prefix hash — XOR is commutative/
    // associative, so the result is partitioning- and order-invariant
    // and mergeable across shards), exact char sum, id range. Any
    // single dropped, duplicated, or mutated row flips the XOR. One
    // scan, one tiny agg — runs cheaply enough to gate every backfill.
    "text_table_checksum" -> ((s, dir) =>
      tableChecksumOf(Tables.documents(s, dir))),

    // PII detection + redaction (email / phone / IPv4-ish), the
    // release-gate curation stage. The corpus fixture is word-soup
    // with no PII, so deterministic PII is appended IN the query from
    // doc_id arithmetic (the same seeded-fixture policy as
    // `taxi_csv_roundtrip`) — 1/3 of docs get an email, 1/5 a phone,
    // 1/7 an IP, so every regex matches real rows AND real non-matches.
    // Patterns stay in the Java∩RE2 common dialect (char classes +
    // bounded repeats, no backrefs/lookaround) so Spark and the DuckDB
    // oracle match identically; replacement order is fixed
    // email→phone→IP. Pure map — codegen'd regexp over one scan, no
    // shuffle; counts are exact ints, redaction pinned by md5.
    "text_pii_redact" -> ((s, dir) => {
      val fx = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), ((col("doc_id") * 3) % 256).cast("string")))
          .otherwise(lit("")))
      val red = regexp_replace(regexp_replace(regexp_replace(fx,
        PiiEmailRe, "<EMAIL>"), PiiPhoneRe, "<PHONE>"), PiiIpRe, "<IP>")
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(fx, lit(PiiEmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(fx, lit(PiiPhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(fx, lit(PiiIpRe), lit(0))).as("n_ips"),
        length(red).as("redacted_len"),
        md5(red).as("redacted_md5"))
    }),

    // BM25 ranked retrieval over the [[SearchTerms]] posting lists —
    // the standard ranked-search scorer (length-normalized, tf-
    // saturating) that tf-idf's raw ratio doesn't give. The term
    // filter sits directly above the explode (scan stage), so only
    // the |terms| posting lists ever shuffle — never the corpus; dl
    // rides the explode row so no second doc-length join is needed.
    // The DF table is |terms| rows, broadcast. idf stays the RAW
    // rational (N − df + 0.5)/(df + 0.5) — monotone in the log form,
    // exact-rational double (the text_tfidf no-transcendental rule).
    // A ≤3-double sum's value depends on ADDITION ORDER, so per-term
    // scores pivot out max-when style and add in literal term order —
    // bit-identical on both engines (the events_paths extraction
    // idiom). k1+1 and 1−b are pre-folded literals (2.2, 0.25): both
    // engines parse the same decimal string to the same double,
    // where folding at runtime could differ in the last ulp.
    "text_bm25" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val nDocs = docs.count() // corpus size: one tiny job, scalar
      val avgdl = docs.select(sum(tokenCount(col("text"))))
        .first.getLong(0).toDouble / nDocs
      // (doc_id, dl, token, tf) for query terms only; feeds BOTH the
      // df aggregation and the scoring pass — checkpointed once
      val tf = docs
        .select(col("doc_id"), tokenCount(col("text")).as("dl"),
          explode(tokens(col("text"))).as("token"))
        .filter(col("token").isin(SearchTerms: _*))
        .groupBy(col("doc_id"), col("dl"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val idf = (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val denom = col("tf").cast("double") +
        lit(Bm25K1) * (lit(0.25) + lit(Bm25B) *
          (col("dl").cast("double") / lit(avgdl)))
      val scored = tf.join(broadcast(df), "token")
        .withColumn("sc", idf * (col("tf").cast("double") * lit(2.2) / denom))
      def at(t: String) =
        coalesce(max(when(col("token") === t, col("sc"))), lit(0.0))
      scored.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"),
          round(SearchTerms.map(at).reduceLeft(_ + _), 6).as("score_r"))
    }),

    // Temperature-flattened mixture sampling (q_s ∝ p_s^α, α = 1/2) —
    // the multilingual/multi-domain rebalancing rule (mT5/XLM-R
    // style): rare sources are upsampled toward, common sources
    // damped from, their natural share p_s. The per-doc keep rate is
    // C·p_s^(α−1) = C/√p_s, clamped to 100%. √ is the one power IEEE
    // guarantees correctly rounded, so the rate is deterministic
    // cross-engine with NO transcendental (exp/ln) in sight; FLOOR
    // then collapses it to an exact integer percent compared against
    // the ':temp'-salted stable hash — independent of the split/mix/
    // strat hashes, re-run-stable, no RNG. The share table is
    // |sources| rows, broadcast; the sample itself is a pure map.
    "text_mixture_temperature" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val nDocs = docs.count() // one tiny job, scalar (tfidf policy)
      val shares = docs.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      val rate = least(lit(100L),
        floor(lit(TempSampleC) /
          sqrt(col("cnt").cast("double") / lit(nDocs.toDouble))))
        .cast("int")
      val mh = tokenHash(concat(col("doc_id").cast("string"), lit(":temp"))) % 100
      docs.select(col("doc_id"), col("source"))
        .join(broadcast(shares), "source")
        .select(col("doc_id"), col("source"), rate.as("rate_pct"), mh.as("mh"))
        .filter(col("mh") < col("rate_pct"))
        .select(col("doc_id"), col("source"), col("rate_pct"))
    }),

    // Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    // MOSS): per doc, md5 each word [[WinnowG]]-gram, then keep the
    // MINIMUM hash of every [[WinnowW]]-gram window — any shared run
    // of ≥ G+W-1 tokens is GUARANTEED to share a fingerprint, while
    // only ~1/W of grams are kept. That sampling is what distinguishes
    // it from text_dup_spans (which hashes every gram): at 100 TB the
    // fingerprint index is a W-fold smaller shuffle. Selection is the
    // distinct window-min set — position-free, so it's mirrorable as
    // list arithmetic with no window functions; one fused native
    // expression computes it (gram → md5 → sliding min → distinct).
    // Cross-doc pairs: [[winnowPairs]], one grouped pass over the
    // fingerprint buckets.
    "text_winnow" -> ((s, dir) =>
      winnowPairs(Tables.documents(s, dir).select(col("doc_id"),
        explode(graft.functions.expressions.WinnowFingerprints(
          tokens(col("text")), WinnowG, WinnowW)).as("fp")))),

    // Misra–Gries heavy hitters as a first-class entry: the
    // [[graft.functions.MisraGriesAgg]] typed aggregator (map-side
    // partial summaries of ≤ k counters, associative merge) produces
    // the candidate set, then a broadcast join verifies candidates
    // against exact counts — output = tokens with exact count
    // > N/(k+1). The MG bound (no item above N/(k+1) is ever evicted
    // from a k-counter summary) makes the sketch→verify pipeline
    // EQUAL to the plain exact oracle by theorem, which is precisely
    // why it is the 100 TB recipe: the first pass shuffles O(k) per
    // partition instead of one row per distinct token, the second
    // counts only candidates. (On this corpus vocab ≤ k, so the
    // sketch is in its exact regime; the lossy regime is
    // ScalaCheck-pinned in MisraGriesSpec.)
    "text_heavy_hitters" -> ((s, dir) => {
      import graft.functions.MisraGriesAgg
      val toks = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .localCheckpoint() // two consumers: sketch pass + verify pass
      import s.implicits._
      val cands = toks.as[String]
        .select(new MisraGriesAgg(HhK).toColumn)
        .toDF("sk")
        .select(explode(col("sk")).as("c"))
        .select(col("c._1").as("token"))
      val total = toks.groupBy().agg(count(lit(1)).as("n_total"))
      toks.join(broadcast(cands), "token")
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * (HhK + 1) > col("n_total"))
        .select(col("token"), col("cnt"))
    })
  )

  /** text_winnow's pairs from distinct (doc_id, fp) rows: buckets above
    * [[WinnowMaxDf]] docs are stop-fingerprints (bounding pair fan-out,
    * as LSH banding does), and a pair needs ≥ [[WinnowMinShared]].
    */
  private[graft] def winnowPairs(fp: DataFrame): DataFrame =
    DedupQueries.coBucketPairs(fp, Seq("fp"), WinnowMaxDf)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)

  /** Winnowing parameters: word-gram width G, window W (detection
    * guarantee: shared token runs ≥ G+W-1 = 8 — the same span the
    * DupSpanN=8 grams target), stop-fingerprint document-frequency
    * cap, and the minimum shared-fingerprint count for a pair.
    */
  val WinnowG = 4
  val WinnowW = 5
  val WinnowMaxDf = 50
  val WinnowMinShared = 2

  /** Misra–Gries summary size for `text_heavy_hitters`: the heavy-
    * hitter threshold is N/(k+1) — 1/33 ≈ 3.0%, inside the fixture's
    * ~3.1–3.6% main-token band so membership is decided per-token by
    * the exact verify at every SF (non-vacuous keeps AND drops).
    */
  val HhK = 32

  /** Boolean-search query terms (mid-df corpus words: each in ~78% of
    * docs, so the 3-way AND keeps both matches and non-matches).
    */
  val SearchTerms = Seq("join", "vector", "query")

  /** `text_search_phrase` adjacent-term query (48 occurrences across
    * 46 docs at sf0.01 — non-vacuous at every SF).
    */
  val PhraseTerms = Seq("table", "hash")

  /** BM25 shape parameters (the standard Robertson defaults). 2.2 and
    * 0.25 literals in the queries are the pre-folded k1+1 and 1−b.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Temperature-sampling scale C in rate = C/√p_s percent: 10 puts a
    * uniform 20-source corpus (p ≈ 0.05) near a 45% keep rate, so
    * both keeps and drops fire at every SF.
    */
  val TempSampleC = 10.0

  /** The two-level global shuffle of `docs` over `nb` range buckets:
    * each doc's position is its bucket's offset (a cumulative count
    * over the ≤ nb-row bucket table, broadcast) plus its rank by
    * (h, doc_id) inside the bucket (one window per bucket).
    */
  private def globalShuffle(docs: DataFrame, nb: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = docs
      .select(col("doc_id"),
        tokenHash(concat(lit("shuf:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("b", (col("h") % nb).cast("int"))
    val offs = hashed.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(
        sum(col("cnt")).over(
          Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("b"), col("off"))
    hashed.join(broadcast(offs), "b")
      .withColumn("pos", col("off") +
        row_number().over(Window.partitionBy(col("b"))
          .orderBy(col("h"), col("doc_id"))))
      .select(col("doc_id"), col("pos"))
  }

  /** The tf-annotated postings relation (token, doc_id, tf). */
  private def postings(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** The checksum body, parameterized over the relation so the spec
    * can feed reordered / tampered variants of the same rows.
    */
  private[graft] def tableChecksumOf(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), col("doc_id"), col("n_chars"),
        conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("content_xor"),
        sum(col("n_chars")).as("chars_sum"),
        min(col("doc_id")).as("id_min"),
        max(col("doc_id")).as("id_max"))

  /** Tokens per boilerplate "line" and the distinct-doc threshold
    * above which a line is boilerplate. 4/3 fit the ~55-token fixture
    * docs (22 repeated lines at sf0.01); production uses real newline
    * lines with e.g. a ≥ 10-doc threshold, same plan.
    */
  val BoilerLineTokens = 4
  val BoilerMinDocs = 3
  val IntraLineTokens = 2 // short enough that the fixture has intra-doc repeats
  val LmVocab = 5000

  /** PII patterns, restricted to the Java∩RE2 common regex dialect so
    * Spark (java.util.regex) and DuckDB (RE2) match byte-identically:
    * character classes, bounded repeats, literal dots — no backrefs,
    * no lookaround, no possessive quantifiers.
    */
  val PiiEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PiiPhoneRe = "555-[0-9]{4}"
  val PiiIpRe = "10\\.[0-9]{1,3}\\.0\\.[0-9]{1,3}"

  /** The stable split hash in [0, 100): [[TextFunctions.tokenHash]] of
    * the doc_id string — the ONE spelling of the train/val/test
    * partitioner (80/10/10) shared by every query that splits.
    */
  private[queries] def splitHash: Column =
    tokenHash(col("doc_id").cast("string")) % 100

  /** The split label column derived from [[splitHash]]. */
  private def splitCol: Column =
    when(splitHash < 80, "train").when(splitHash < 90, "val").otherwise("test")

  /** Quality-gated corpus, localCheckpointed ONCE: the gated scan
    * feeds several consumers (signatures, trigram verify, CC nodes,
    * manifest) — without the checkpoint each one re-plans scan +
    * stopwordRatio, i.e. redundant corpus scans at 100 TB. The same
    * lineage cut [[PairGraph]] makes once on its edge table.
    */
  private def gatedDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(stopwordRatio(col("text")) >= 0.05)
      .localCheckpoint()

  private def recipePipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gated = gatedDocs(s, dir)
    val canon = canonicalOf(gated)
    val manifest0 = gated
      .join(canon, "doc_id")
      .select(col("doc_id"), col("source"), splitCol.as("split"),
        col("text"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
    val contaminated = manifest0.filter(col("split") =!= "test")
      .select(col("doc_id"), explode(
        graft.functions.expressions.WordNgrams(col("text"), ContaminationN)).as("g"))
      .join(broadcast(evalGramsOf(s, dir)), "g")
      .select(col("doc_id")).distinct()
    val rate = MixtureRates.foldRight(lit(0): Column) {
      case ((src, r), els) => when(col("source") === src, lit(r)).otherwise(els)
    }
    val mh = tokenHash(concat(col("doc_id").cast("string"), lit(":mix"))) % 100
    val sampled = manifest0
      .join(contaminated, Seq("doc_id"), "left_anti")
      .filter(mh < rate)
      .select(col("doc_id"), col("source"), col("split"), col("n_tokens"))
      .localCheckpoint() // feeds both the pack shuffle and the meta join
    val packed = sampled
      .select(col("doc_id"),
        (tokenHash(col("doc_id").cast("string")) % PackBuckets).as("bucket"),
        col("n_tokens"))
      .as[(Long, Long, Long)]
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "doc_id")
      .mapPartitions(packScan _)
      .toDF("doc_id", "bucket", "seq_idx", "n_tokens_p")
    packed.join(sampled, "doc_id")
      .select(col("doc_id"), col("source"), col("split"),
        col("bucket"), col("seq_idx"), col("n_tokens"))
  }

  /** Near-dup cluster canonicals (minimum-id doc per connected
    * component of the LSH-verified pair graph) over a gated corpus —
    * the keep-set of cluster-then-keep dedup, shared by
    * `text_curation_neardup` and the composed recipe.
    */
  private def canonicalOf(gated: DataFrame): DataFrame =
    PairGraph.using(DedupQueries.minhashVerifiedPairsOf(gated))(
        _.components(gated.select(col("doc_id"))))
      .filter(col("doc_id") === col("component")).select(col("doc_id"))

  /** Distinct word n-grams of the corpus' test split — the MB-scale
    * eval-suite stand-in both contamination consumers broadcast.
    */
  private def evalGramsOf(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(splitHash >= 90)
      .select(explode(graft.functions.expressions.WordNgrams(
        col("text"), ContaminationN)).as("g"))
      .distinct()

  /** The greedy packing recurrence over (doc_id, bucket, n_tokens)
    * rows already sorted by (bucket, doc_id) — per bucket: seq_idx
    * starts at 0 and increments exactly when the running token sum
    * would exceed [[PackBudget]]. Streaming, O(1) state; buckets must
    * be non-negative (−1 is the "no bucket yet" sentinel). Pure so
    * PropertiesSpec can drive it with ScalaCheck off-Spark.
    */
  def packScan(it: Iterator[(Long, Long, Long)]): Iterator[(Long, Long, Long, Long)] = {
    var bucket = -1L
    var seq = 0L
    var cum = 0L
    it.map { case (docId, b, n) =>
      if (b != bucket) { bucket = b; seq = 0L; cum = n }
      else if (cum + n > PackBudget) { seq += 1; cum = n }
      else cum += n
      (docId, b, seq, n)
    }
  }

  /** Token budget per packed training sequence and the stable bucket
    * fan-out for `text_pack_sequences`. Both sides of the oracle pair
    * read these — change here, change nowhere else.
    */
  val PackBudget = 512L
  val PackBuckets = 16

  /** Contamination-check n-gram width. Production pipelines use ~13;
    * the synthetic fixture docs are ~55 tokens, where 5-gram overlap
    * is rare-but-present (the realistic shape: a handful of leaked
    * docs, not hundreds) while 3-grams fire on ordinary phrase reuse.
    */
  val ContaminationN = 5

  /** Exact per-source quota for `text_stratified_sample`. */
  val StratQuota = 10

  /** Exact-k priority-sample size: 25 of the 500-doc floor corpus
    * (sf0.001/sf0.01 both carry 500 docs) — a genuine 5% selection
    * there, sharper at every larger SF.
    */
  val PrioK = 25

  /** Range-partition count for `text_global_shuffle`'s two-level
    * global order — at cluster scale this is the shuffle parallelism
    * (thousands); small here so sf0.01's 500 docs still put ~16 rows
    * in every bucket.
    */
  val ShuffleBuckets = 32

  /** Corpus-tracking bucket sizing for `text_shuffle_scaled`:
    * ~[[ShuffleBucketTarget]] rows per range partition, floored at the
    * fixed entry's 32 and capped at 2²⁰ (at 128 MB-partition cluster
    * scale the cap is never near; the offsets relation stays MBs).
    */
  val ShuffleBucketTarget = 1000L
  val ShuffleBucketsMin = 32L
  val ShuffleBucketsMax = 1L << 20

  /** Per-source keep rates (percent) for `text_mixture_sample` — the
    * corpus-composition config. One literal, rendered into the Spark
    * CASE and the oracle CASE; change here, change nowhere else.
    */
  val MixtureRates: Seq[(String, Int)] =
    (0 until 20).map(i => s"src$i" -> (100 - 4 * i))

  /** Per-source epoch weights in percent for `text_mixture_epochs`
    * (250 = 2.5 epochs … 60 = 0.6 epochs) — upsampling config, same
    * single-literal contract as [[MixtureRates]].
    */
  val EpochRates: Seq[(String, Int)] =
    (0 until 20).map(i => s"src$i" -> (250 - 10 * i))

  /** Token window size / stride for `text_chunk` (8-token overlap —
    * the usual embedding-chunking shape, scaled to ~55-token fixture
    * docs; production uses e.g. 512/384 with the same plan).
    */
  val ChunkSize = 32
  val ChunkStride = 24

  /** `text_vocab_growth` prefix checkpoints (doc_id bounds). The
    * fixture's 31-word vocabulary saturates early — exactly the
    * Heaps'-law shape the report exists to show.
    */
  val VocabCheckpoints: Seq[Int] = Seq(5, 10, 20, 50)

  /** `text_dup_spans` gram width — wider than [[ContaminationN]] (a
    * duplicated SPAN should be rarer than a contaminated phrase; at 8
    * the fixture still shares ~1000 grams across docs, non-vacuous).
    */
  val DupSpanN = 8

  /** `text_budget_select` token budget (≈ 30% of the sf0.01 corpus —
    * the cut bites) and the coarse quality-band count acting as the
    * range-partition fan-out of the two-level cumulative sum.
    */
  val SelectBudget = 8192L
  val BudgetBands = 20

  /** CTE pair for one BPE superstep over sequence relation `prev`:
    * pair counts → 1-row top pair `t$i` → merged sequences `r$i`
    * (list_reduce = the same init-first ordered fold as Spark's
    * aggregate-over-slice).
    */
  private def bpeRound(i: Int, prev: String): String =
    s"""p$i AS (SELECT g, SUM(freq) AS n FROM (
       |  SELECT freq, unnest(${Sql.ngrams(s"string_split(seq, ' ')", 2)}) AS g
       |  FROM $prev) GROUP BY g),
       |t$i AS (SELECT g, n, string_split(g, ' ')[1] AS ma,
       |          string_split(g, ' ')[2] AS mb
       |        FROM p$i ORDER BY n DESC, g LIMIT 1),
       |r$i AS (SELECT word, freq,
       |          list_reduce(string_split(seq, ' '), (acc, t) ->
       |            CASE WHEN (acc = ma OR ends_with(acc, ' ' || ma)) AND t = mb
       |                 THEN acc || t ELSE acc || ' ' || t END) AS seq
       |        FROM $prev, t$i)""".stripMargin

  /** The global-shuffle mirror over `nb` buckets; `ctes` (empty, or
    * CTEs ending in a comma) come first so `nb` may read them.
    */
  private def globalShuffleSql(ctes: String, nb: String): String =
    s"""WITH ${ctes}bs AS (
       |  SELECT doc_id, h, h % $nb AS b FROM (
       |    SELECT doc_id,
       |      ${Sql.tokenHash("'shuf:' || CAST(doc_id AS VARCHAR)")} AS h
       |    FROM documents)),
       |cnts AS (SELECT b, COUNT(*) AS cnt FROM bs GROUP BY b),
       |offs AS (SELECT b, COALESCE(SUM(cnt) OVER (ORDER BY b
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM cnts)
       |SELECT bs.doc_id, CAST(offs.off + ROW_NUMBER() OVER (
       |  PARTITION BY bs.b ORDER BY bs.h, bs.doc_id) AS BIGINT) AS pos
       |FROM bs JOIN offs ON bs.b = offs.b""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "text_winnow" -> {
      // list-arithmetic mirror of the window-min selection: hl[i:j]
      // slices are INCLUSIVE in DuckDB, so [i : i+W-1] is W elements
      s"""WITH base AS (SELECT doc_id, ${Sql.tokens("text")} AS tk FROM documents),
         |hl AS (SELECT doc_id,
         |  [md5(g) for g in (${Sql.ngrams("tk", WinnowG)})] AS hl FROM base),
         |fp AS (
         |  SELECT DISTINCT doc_id,
         |    unnest([list_min(hl[i:i+${WinnowW - 1}])
         |            for i in range(1, len(hl) - ${WinnowW - 2})]) AS fp
         |  FROM hl),
         |shared AS (SELECT fp FROM fp GROUP BY fp
         |  HAVING count(*) BETWEEN 2 AND $WinnowMaxDf)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM fp a JOIN shared USING (fp) JOIN fp b USING (fp)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= $WinnowMinShared""".stripMargin
    },
    "text_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest(${Sql.tokens("text")}) AS token FROM documents),
         |tot AS (SELECT count(*) AS n FROM tok)
         |SELECT token, count(*) AS cnt
         |FROM tok, tot
         |GROUP BY token, n
         |HAVING count(*) * ${HhK + 1} > n""".stripMargin,
    "text_vocab_growth" -> {
      val cps = VocabCheckpoints.mkString("[", ", ", "]")
      s"""WITH fs AS (
         |  SELECT t, MIN(doc_id) AS first_doc FROM (
         |    SELECT doc_id, unnest(${Sql.tokens("text")}) AS t FROM documents)
         |  GROUP BY t)
         |SELECT c.n_docs_prefix, COUNT(*) AS vocab
         |FROM fs, (SELECT unnest($cps) AS n_docs_prefix) c
         |WHERE fs.first_doc < c.n_docs_prefix
         |GROUP BY c.n_docs_prefix""".stripMargin
    },
    "text_cluster_split" ->
      s"""WITH RECURSIVE ${DedupQueries.pairsClosureCtes("documents")}
         |SELECT doc_id, component,
         |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, component,
         |        ${Sql.tokenHash("CAST(component AS VARCHAR) || ':csplit'")} % 100 AS h
         |      FROM comp)""".stripMargin,
    "text_bpe_train" ->
      s"""WITH wf AS (
         |  SELECT t AS word, COUNT(*) AS freq FROM (
         |    SELECT unnest(${Sql.tokens("text")}) AS t FROM documents) GROUP BY t),
         |r0 AS (SELECT word, freq,
         |         array_to_string(string_split(word, ''), ' ') AS seq FROM wf),
         |${bpeRound(1, "r0")},
         |${bpeRound(2, "r1")}
         |SELECT 'merge1' AS step, g AS item, CAST(n AS BIGINT) AS n FROM t1
         |UNION ALL
         |SELECT 'merge2', g, CAST(n AS BIGINT) FROM t2
         |UNION ALL
         |SELECT 'token', tk, n FROM (
         |  SELECT tk, CAST(SUM(freq) AS BIGINT) AS n FROM (
         |    SELECT freq, unnest(string_split(seq, ' ')) AS tk FROM r2) t
         |  GROUP BY tk ORDER BY n DESC, tk LIMIT 5)""".stripMargin,
    "text_dup_spans" ->
      s"""WITH g AS (
         |  SELECT doc_id, unnest(${Sql.ngrams("t", DupSpanN)}) AS g
         |  FROM (SELECT doc_id, ${Sql.tokens("text")} AS t FROM documents)),
         |f AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY g)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  COUNT(*) FILTER (nd >= 2) AS n_dup,
         |  ROUND((COUNT(*) FILTER (nd >= 2))::DOUBLE / COUNT(*), 6) AS dup_frac_r
         |FROM (SELECT g.doc_id, f.nd FROM g JOIN f USING (g))
         |GROUP BY doc_id""".stripMargin,
    "text_budget_select" ->
      // single-window form — equal to the Spark two-level prefix sum
      // by associativity of the integer token sums
      s"""SELECT doc_id, n_tokens, cum_tokens FROM (
         |  SELECT doc_id, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY q DESC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM (SELECT doc_id,
         |          CAST(${Sql.tokenCount("text")} AS BIGINT) AS n_tokens,
         |          ${Sql.stopwordRatio("text")} AS q
         |        FROM documents))
         |WHERE cum_tokens <= $SelectBudget""".stripMargin,
    "text_stats" ->
      s"""SELECT doc_id,
         |  length(text) AS n_chars_actual,
         |  ${Sql.tokenCount("text")} AS n_tokens,
         |  ${Sql.punctCount("text")} AS n_punct,
         |  length(text)::DOUBLE / ${Sql.tokenCount("text")} AS chars_per_token
         |FROM documents""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  ${Sql.stopwordRatio("text")} AS stopword_ratio,
         |  CASE WHEN ${Sql.stopwordRatio("text")} >= 0.2 THEN 'high'
         |       WHEN ${Sql.stopwordRatio("text")} >= 0.05 THEN 'mid'
         |       ELSE 'low' END AS quality_bucket
         |FROM documents""".stripMargin,
    "text_drift_chi2" ->
      s"""WITH docs AS (
         |  SELECT CAST(n_chars // 100 AS VARCHAR) AS len_band, source,
         |    ${Sql.stopwordRatio("text")} AS sw FROM documents),
         |cur AS (SELECT * FROM docs WHERE sw >= 0.05),
         |ref AS (
         |  SELECT 'len_band' AS dim, len_band AS category, count(*) AS n_ref FROM docs GROUP BY 2
         |  UNION ALL
         |  SELECT 'source', source, count(*) FROM docs GROUP BY 2),
         |gated AS (
         |  SELECT 'len_band' AS dim, len_band AS category, count(*) AS n_cur FROM cur GROUP BY 2
         |  UNION ALL
         |  SELECT 'source', source, count(*) FROM cur GROUP BY 2),
         |cells AS (
         |  SELECT r.dim, r.category, r.n_ref, COALESCE(g.n_cur, 0) AS n_cur
         |  FROM ref r LEFT JOIN gated g ON g.dim = r.dim AND g.category = r.category),
         |t AS (
         |  SELECT *, CAST(SUM(n_ref) OVER (PARTITION BY dim) AS BIGINT) AS tr,
         |            CAST(SUM(n_cur) OVER (PARTITION BY dim) AS BIGINT) AS tc
         |  FROM cells),
         |x AS (SELECT *, (CAST(n_ref AS DOUBLE) * tc) / tr AS e FROM t)
         |SELECT dim, category, n_ref, n_cur,
         |  ROUND(((n_cur - e) * (n_cur - e)) / e, 4) AS term_r
         |FROM x""".stripMargin,
    "text_lang_id" ->
      s"""SELECT doc_id, lang,
         |  ${Sql.langId("text")} AS predicted_lang,
         |  CAST(${Sql.langScore("text", "en")} AS INT) AS score_en
         |FROM documents""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id, ${Sql.fingerprint("text")} AS fp
         |FROM documents""".stripMargin,
    "text_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subwords,
        |  array_to_string(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')[1:5], '|') AS first5
        |FROM documents""".stripMargin,
    "text_token_freq" ->
      s"""SELECT token, COUNT(*) AS n
         |FROM (SELECT unnest(${Sql.tokens("text")}) AS token FROM documents)
         |GROUP BY token
         |ORDER BY n DESC, token
         |LIMIT 50""".stripMargin,
    "text_split_assign" ->
      s"""SELECT doc_id, source,
         |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
         |       ELSE 'test' END AS split,
         |  CAST(h < 10 AS INT) AS in_sample_10pct
         |FROM (SELECT doc_id, source,
         |        ${Sql.tokenHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
         |      FROM documents)""".stripMargin,
    "text_curation_pipeline" ->
      s"""WITH q AS (
         |  SELECT doc_id, source, text FROM documents
         |  WHERE ${Sql.stopwordRatio("text")} >= 0.05),
         |k AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text,
         |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM q) WHERE rn = 1)
         |SELECT doc_id, source,
         |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
         |       ELSE 'test' END AS split,
         |  ${Sql.tokenCount("text")} AS n_tokens
         |FROM (SELECT doc_id, source, text,
         |        ${Sql.tokenHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
         |      FROM k)""".stripMargin,
    "text_curation_neardup" ->
      s"""WITH RECURSIVE docs_g AS (
         |  SELECT * FROM documents WHERE ${Sql.stopwordRatio("text")} >= 0.05),
         |${DedupQueries.pairsClosureCtes("docs_g")}
         |SELECT d.doc_id, d.source,
         |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
         |       ELSE 'test' END AS split,
         |  ${Sql.tokenCount("d.text")} AS n_tokens
         |FROM (SELECT doc_id, source, text,
         |        ${Sql.tokenHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
         |      FROM docs_g) d
         |JOIN comp ON d.doc_id = comp.doc_id AND comp.doc_id = comp.component""".stripMargin,
    "text_repetition" ->
      s"""WITH c AS (
         |  SELECT doc_id, bg, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest(${Sql.bigrams("text")}) AS bg FROM documents)
         |  GROUP BY doc_id, bg)
         |SELECT doc_id, n_bigrams, top_bigram_n, top_bigram FROM (
         |  SELECT doc_id, bg AS top_bigram, c AS top_bigram_n,
         |    CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, bg ASC) AS rn
         |  FROM c) WHERE rn = 1""".stripMargin,
    "text_pack_sequences" ->
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, bucket, n_tokens,
         |    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
         |  FROM (
         |    SELECT doc_id,
         |      ${Sql.tokenHash("CAST(doc_id AS VARCHAR)")} % $PackBuckets AS bucket,
         |      ${Sql.tokenCount("text")}::BIGINT AS n_tokens
         |    FROM documents)),
         |pack AS (
         |  SELECT doc_id, bucket, n_tokens, rn,
         |    0::BIGINT AS seq_idx, n_tokens AS cum
         |  FROM base WHERE rn = 1
         |  UNION ALL
         |  SELECT b.doc_id, b.bucket, b.n_tokens, b.rn,
         |    CASE WHEN p.cum + b.n_tokens > $PackBudget
         |         THEN p.seq_idx + 1 ELSE p.seq_idx END,
         |    CASE WHEN p.cum + b.n_tokens > $PackBudget
         |         THEN b.n_tokens ELSE p.cum + b.n_tokens END
         |  FROM base b JOIN pack p ON b.bucket = p.bucket AND b.rn = p.rn + 1)
         |SELECT doc_id, bucket, seq_idx, n_tokens FROM pack""".stripMargin,
    "text_contamination" ->
      s"""WITH d AS (
         |  SELECT doc_id, ${Sql.tokens("text")} AS t,
         |    ${Sql.tokenHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
         |  FROM documents),
         |ev AS (
         |  SELECT DISTINCT unnest(${Sql.ngrams("t", ContaminationN)}) AS g
         |  FROM d WHERE h >= 90),
         |tr AS (
         |  SELECT doc_id, len(${Sql.ngrams("t", ContaminationN)}) AS n_grams,
         |    unnest(${Sql.ngrams("t", ContaminationN)}) AS g
         |  FROM d WHERE h < 80)
         |SELECT doc_id, n_grams, COUNT(*) AS n_shared
         |FROM tr JOIN ev USING (g)
         |GROUP BY doc_id, n_grams""".stripMargin,
    "text_recipe_pipeline" ->
      s"""WITH RECURSIVE docs_g AS (
         |  SELECT * FROM documents WHERE ${Sql.stopwordRatio("text")} >= 0.05),
         |${DedupQueries.pairsClosureCtes("docs_g")},
         |manifest0 AS (
         |  SELECT d.doc_id, d.source,
         |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
         |         ELSE 'test' END AS split,
         |    ${Sql.tokens("d.text")} AS t
         |  FROM (SELECT doc_id, source, text,
         |          ${Sql.tokenHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
         |        FROM docs_g) d
         |  JOIN comp ON d.doc_id = comp.doc_id AND comp.doc_id = comp.component),
         |ev AS (
         |  SELECT DISTINCT unnest(${Sql.ngrams("t", ContaminationN)}) AS g
         |  FROM (SELECT ${Sql.tokens("text")} AS t,
         |          ${Sql.tokenHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
         |        FROM documents) WHERE h >= 90),
         |contam AS (
         |  SELECT DISTINCT tr.doc_id FROM (
         |    SELECT doc_id, unnest(${Sql.ngrams("t", ContaminationN)}) AS g
         |    FROM manifest0 WHERE split <> 'test') tr
         |  JOIN ev ON tr.g = ev.g),
         |sampled AS (
         |  SELECT doc_id, source, split, len(t)::BIGINT AS n_tokens
         |  FROM manifest0
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)
         |    AND ${Sql.tokenHash("CAST(doc_id AS VARCHAR) || ':mix'")} % 100 <
         |        CASE ${MixtureRates.map { case (src, r) => s"WHEN source = '$src' THEN $r" }.mkString(" ")} ELSE 0 END),
         |base AS (
         |  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
         |  FROM (SELECT doc_id, source, split, n_tokens,
         |          ${Sql.tokenHash("CAST(doc_id AS VARCHAR)")} % $PackBuckets AS bucket
         |        FROM sampled)),
         |pack AS (
         |  SELECT doc_id, source, split, bucket, n_tokens, rn,
         |    0::BIGINT AS seq_idx, n_tokens AS cum
         |  FROM base WHERE rn = 1
         |  UNION ALL
         |  SELECT b.doc_id, b.source, b.split, b.bucket, b.n_tokens, b.rn,
         |    CASE WHEN p.cum + b.n_tokens > $PackBudget
         |         THEN p.seq_idx + 1 ELSE p.seq_idx END,
         |    CASE WHEN p.cum + b.n_tokens > $PackBudget
         |         THEN b.n_tokens ELSE p.cum + b.n_tokens END
         |  FROM base b JOIN pack p ON b.bucket = p.bucket AND b.rn = p.rn + 1)
         |SELECT doc_id, source, split, bucket, seq_idx, n_tokens FROM pack""".stripMargin,
    "text_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(${Sql.tokens("text")}) AS token FROM documents)
         |  GROUP BY doc_id, token),
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents)
         |SELECT doc_id, rnk, token, tf, df, score_r FROM (
         |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf::DOUBLE * n.n_docs / df.df::DOUBLE DESC,
         |               tf.token ASC) AS rnk,
         |    ROUND(tf.tf::DOUBLE * n.n_docs / df.df::DOUBLE, 6) AS score_r
         |  FROM tf JOIN df USING (token) CROSS JOIN n
         |) WHERE rnk <= 3""".stripMargin,
    "text_chunk" ->
      s"""SELECT doc_id, CAST(k AS INT) AS chunk_idx,
         |  CAST(1 + k * $ChunkStride AS INT) AS chunk_start,
         |  CAST(least($ChunkSize, n - (1 + k * $ChunkStride) + 1) AS INT) AS n_chunk_tokens,
         |  array_to_string(t[(1 + k * $ChunkStride) : (k * $ChunkStride + $ChunkSize)], ' ') AS chunk_text
         |FROM (
         |  SELECT doc_id, t, len(t) AS n,
         |    unnest(range(0, (len(t) - 1) // $ChunkStride + 1)) AS k
         |  -- len >= 1 mirrors the Spark-side guard: DuckDB's // is
         |  -- TRUNCATION toward zero, so (0-1)//S + 1 = 1 and an
         |  -- empty-token doc would otherwise emit a spurious chunk
         |  FROM (SELECT doc_id, ${Sql.tokens("text")} AS t FROM documents)
         |  WHERE len(t) >= 1)""".stripMargin,
    "text_mixture_epochs" ->
      s"""SELECT doc_id, source, CAST(u AS INT) AS copy_idx FROM (
         |  SELECT doc_id, source,
         |    unnest(range(1,
         |      CASE ${EpochRates.map { case (src, r) => s"WHEN source = '$src' THEN ${r / 100}" }.mkString(" ")} ELSE 0 END
         |      + CASE WHEN ${Sql.tokenHash("CAST(doc_id AS VARCHAR) || ':epoch'")} % 100 <
         |               CASE ${EpochRates.map { case (src, r) => s"WHEN source = '$src' THEN ${r % 100}" }.mkString(" ")} ELSE 0 END
         |             THEN 1 ELSE 0 END + 1)) AS u
         |  FROM documents)""".stripMargin,
    "text_mixture_sample" ->
      s"""SELECT doc_id, source, rate_pct FROM (
         |  SELECT doc_id, source,
         |    CASE ${MixtureRates.map { case (src, r) => s"WHEN source = '$src' THEN $r" }.mkString(" ")} ELSE 0 END AS rate_pct,
         |    ${Sql.tokenHash("CAST(doc_id AS VARCHAR) || ':mix'")} % 100 AS mh
         |  FROM documents)
         |WHERE mh < rate_pct""".stripMargin,
    "text_weighted_sample" ->
      s"""SELECT doc_id, source, rate_pct FROM (
         |  SELECT doc_id, source,
         |    LEAST(95, GREATEST(10, ${Sql.tokenCount("text")})) AS rate_pct,
         |    ${Sql.tokenHash("CAST(doc_id AS VARCHAR) || ':wsamp'")} % 100 AS mh
         |  FROM documents)
         |WHERE mh < rate_pct""".stripMargin,
    "text_priority_sample" ->
      s"""SELECT doc_id, source, n_chars,
         |  CAST(n_chars AS DOUBLE) /
         |    CAST(${Sql.tokenHash("CAST(doc_id AS VARCHAR) || ':prio'")} + 1 AS DOUBLE)
         |    AS priority
         |FROM documents
         |ORDER BY priority DESC, doc_id
         |LIMIT $PrioK""".stripMargin,
    "text_stratified_sample" ->
      s"""SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
         |  SELECT doc_id, source, ROW_NUMBER() OVER (
         |    PARTITION BY source ORDER BY sh, doc_id) AS rk
         |  FROM (SELECT doc_id, source,
         |    ${Sql.tokenHash("CAST(doc_id AS VARCHAR) || ':strat'")} AS sh
         |  FROM documents))
         |WHERE rk <= $StratQuota""".stripMargin,
    "text_global_shuffle" -> globalShuffleSql("", ShuffleBuckets.toString),
    "text_shuffle_scaled" ->
      // the fixed oracle with the bucket count derived from COUNT(*)
      // (exact integer clamp — no SQL text depends on the value)
      globalShuffleSql(
        s"""nbk AS (
           |  SELECT GREATEST($ShuffleBucketsMin, LEAST($ShuffleBucketsMax,
           |    COUNT(*) // $ShuffleBucketTarget)) AS nb FROM documents),
           |""".stripMargin, "(SELECT nb FROM nbk)"),
    // chunk rows per doc mirror text_chunk's generator arithmetic;
    // postings rows are the doc's distinct tokens
    "docs_purge_plan" ->
      s"""WITH del AS (
         |  SELECT doc_id, ${Sql.tokens("text")} AS t
         |  FROM documents WHERE doc_id % 131 = 0),
         |ch AS (SELECT doc_id, len(t) AS n FROM del WHERE len(t) >= 1)
         |SELECT 'documents' AS artifact, COUNT(DISTINCT doc_id) AS n_keys,
         |  COUNT(*) AS n_rows FROM del
         |UNION ALL
         |SELECT 'chunks', COUNT(DISTINCT doc_id),
         |  CAST(COALESCE(SUM((n - 1) // $ChunkStride + 1), 0) AS BIGINT) FROM ch
         |UNION ALL
         |SELECT 'postings', COUNT(DISTINCT doc_id), COUNT(*) FROM (
         |  SELECT doc_id, token FROM (
         |    SELECT doc_id, unnest(t) AS token FROM del)
         |  GROUP BY doc_id, token)""".stripMargin,
    "text_interleave" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    ${Sql.tokenHash("'shuf:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |si AS (SELECT source,
         |         ROW_NUMBER() OVER (ORDER BY source) - 1 AS sidx,
         |         COUNT(*) OVER () AS nsrc
         |       FROM (SELECT DISTINCT source FROM documents)),
         |rk AS (SELECT doc_id, source,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY h, doc_id) AS rk
         |       FROM d)
         |SELECT rk.doc_id, rk.source,
         |  CAST((rk.rk - 1) * si.nsrc + si.sidx + 1 AS BIGINT) AS pos
         |FROM rk JOIN si ON rk.source = si.source""".stripMargin,
    // Oracle counts on line STRINGS where Spark counts on xxhash64 of
    // the line — identical unless two distinct lines collide in 64
    // bits (none at any test SF).
    "text_boilerplate" ->
      s"""WITH toks AS (SELECT doc_id, ${Sql.tokens("text")} AS t FROM documents),
         |lines AS (
         |  SELECT doc_id,
         |    array_to_string(t[(i-1)*$BoilerLineTokens+1 : i*$BoilerLineTokens], ' ') AS line
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t)//$BoilerLineTokens + 1)) AS i
         |        FROM toks WHERE len(t) >= $BoilerLineTokens)),
         |boiler AS (SELECT line FROM lines GROUP BY line
         |           HAVING count(DISTINCT doc_id) >= $BoilerMinDocs),
         |per_doc AS (
         |  SELECT l.doc_id, count(*) AS n_lines,
         |         sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
         |  FROM lines l LEFT JOIN boiler b ON l.line = b.line GROUP BY l.doc_id)
         |SELECT d.doc_id, coalesce(p.n_lines, 0) AS n_lines,
         |       CAST(coalesce(p.n_boiler, 0) AS BIGINT) AS n_boiler
         |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin,
    "text_line_dedup" ->
      s"""WITH toks AS (SELECT doc_id, ${Sql.tokens("text")} AS t FROM documents),
         |lin AS (SELECT doc_id,
         |    [array_to_string(t[(i-1)*$IntraLineTokens+1 : i*$IntraLineTokens], ' ')
         |     for i in range(1, len(t)//$IntraLineTokens + 1)] AS ls
         |  FROM toks),
         |kept AS (SELECT doc_id, len(ls) AS n_lines,
         |    list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kept
         |  FROM lin)
         |SELECT doc_id, n_lines, len(kept) AS n_unique,
         |  md5(array_to_string(kept, ' ')) AS dedup_md5
         |FROM kept""".stripMargin,
    "text_lm_score" ->
      s"""WITH bg AS (
         |  SELECT doc_id, unnest(${Sql.bigrams("text")}) AS g FROM documents),
         |vocab AS (
         |  SELECT g, COUNT(*) AS cnt FROM bg GROUP BY g
         |  ORDER BY cnt DESC, g LIMIT $LmVocab),
         |sc AS (
         |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
         |    SUM(CASE WHEN v.cnt IS NOT NULL THEN 1 ELSE 0 END) AS known_bigrams,
         |    COALESCE(SUM(v.cnt), 0) AS familiarity_mass
         |  FROM bg b LEFT JOIN vocab v ON b.g = v.g GROUP BY b.doc_id)
         |SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
         |  CAST(COALESCE(s.known_bigrams, 0) AS BIGINT) AS known_bigrams,
         |  CAST(COALESCE(s.familiarity_mass, 0) AS BIGINT) AS familiarity_mass
         |FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id""".stripMargin,
    "text_inverted_postings" ->
      s"""SELECT token, doc_id, count(*) AS tf
         |FROM (SELECT doc_id, unnest(${Sql.tokens("text")}) AS token FROM documents)
         |GROUP BY token, doc_id""".stripMargin,
    "text_search_boolean" ->
      s"""WITH p AS (
         |  SELECT token, doc_id, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(${Sql.tokens("text")}) AS token FROM documents)
         |  WHERE token IN (${SearchTerms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY token, doc_id)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tf_total
         |FROM p GROUP BY doc_id HAVING count(*) = ${SearchTerms.size}""".stripMargin,
    "text_search_phrase" -> {
      val Seq(t1, t2) = PhraseTerms
      s"""SELECT doc_id,
         |  CAST(len(list_filter(range(1, len(t)),
         |    i -> t[i] = '$t1' AND t[i + 1] = '$t2')) AS BIGINT) AS n_matches
         |FROM (SELECT doc_id, ${Sql.tokens("text")} AS t FROM documents)
         |WHERE len(list_filter(range(1, len(t)),
         |  i -> t[i] = '$t1' AND t[i + 1] = '$t2')) >= 1""".stripMargin
    },
    "text_table_checksum" ->
      """SELECT source, COUNT(*) AS n_rows,
        |  bit_xor(CAST(('0x' || substr(md5(text), 1, 15))::UBIGINT AS BIGINT)) AS content_xor,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
        |  MIN(doc_id) AS id_min, MAX(doc_id) AS id_max
        |FROM documents GROUP BY source""".stripMargin,
    "text_pii_redact" ->
      s"""WITH fx AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com' ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' host 10.' || (doc_id % 256)::VARCHAR || '.0.' || ((doc_id * 3) % 256)::VARCHAR ELSE '' END
         |    AS pii_text
         |  FROM documents),
         |red AS (
         |  SELECT doc_id, pii_text,
         |    regexp_replace(regexp_replace(regexp_replace(pii_text,
         |      '$PiiEmailRe', '<EMAIL>', 'g'),
         |      '$PiiPhoneRe', '<PHONE>', 'g'),
         |      '$PiiIpRe', '<IP>', 'g') AS r
         |  FROM fx)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii_text, '$PiiEmailRe')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(pii_text, '$PiiPhoneRe')) AS INT) AS n_phones,
         |  CAST(len(regexp_extract_all(pii_text, '$PiiIpRe')) AS INT) AS n_ips,
         |  CAST(length(r) AS INT) AS redacted_len,
         |  md5(r) AS redacted_md5
         |FROM red""".stripMargin,
    "text_bm25" -> {
      val termsList = SearchTerms.map(t => s"'$t'").mkString("(", ", ", ")")
      val pivot = SearchTerms.map(t =>
        s"COALESCE(MAX(CASE WHEN token = '$t' THEN sc END), 0.0)")
        .mkString(" + ")
      s"""WITH n AS (
         |  SELECT COUNT(*)::DOUBLE AS nd,
         |    SUM(${Sql.tokenCount("text")})::DOUBLE / COUNT(*) AS avgdl
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, dl, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, ${Sql.tokenCount("text")} AS dl,
         |          unnest(${Sql.tokens("text")}) AS token FROM documents)
         |  WHERE token IN $termsList
         |  GROUP BY doc_id, dl, token),
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         |sc AS (
         |  SELECT tf.doc_id, tf.token,
         |    ((n.nd - df.df::DOUBLE + 0.5) / (df.df::DOUBLE + 0.5)) *
         |      (tf.tf::DOUBLE * 2.2 /
         |       (tf.tf::DOUBLE + $Bm25K1 * (0.25 + $Bm25B *
         |          (tf.dl::DOUBLE / n.avgdl)))) AS sc
         |  FROM tf JOIN df USING (token) CROSS JOIN n)
         |SELECT doc_id, COUNT(*) AS n_terms,
         |  ROUND($pivot, 6) AS score_r
         |FROM sc GROUP BY doc_id""".stripMargin
    },
    "text_mixture_temperature" ->
      s"""WITH n AS (SELECT COUNT(*)::DOUBLE AS nd FROM documents),
         |sh AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source)
         |SELECT doc_id, source, rate_pct FROM (
         |  SELECT d.doc_id, d.source,
         |    CAST(LEAST(100, CAST(FLOOR($TempSampleC /
         |      sqrt(sh.cnt::DOUBLE / n.nd)) AS BIGINT)) AS INT) AS rate_pct,
         |    ${Sql.tokenHash("CAST(d.doc_id AS VARCHAR) || ':temp'")} % 100 AS mh
         |  FROM documents d JOIN sh USING (source) CROSS JOIN n)
         |WHERE mh < rate_pct""".stripMargin
  )
}
