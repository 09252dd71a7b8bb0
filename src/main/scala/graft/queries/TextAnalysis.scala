package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Staging, Tables}

/** Text-analysis operators for a large-scale training-data pipeline, over
  * the `documents` table (TESTDATA.md). The reference's data plane is
  * whole-document strings (ref: mr/worker.go:20-23, mrapps/wc.go:21-34);
  * these are the operations a 100 TB curation pipeline runs on that shape.
  *
  * Scale design: every query is a single narrow projection over the
  * parquet scan — no shuffle at all except the final presentation
  * `orderBy` (which at scale would be dropped or replaced by a write
  * partitioned on a key). All expressions are builtin `functions._` →
  * whole-stage codegen; nothing leaves the JVM, no UDFs.
  *
  * Determinism/portability notes (the DuckDB oracle must hash-match):
  *  - token hashing goes through md5 hex prefixes (portable across
  *    engines) rather than engine-native hash functions.
  *  - all ratio arithmetic is done in DOUBLE with explicit rounding; IEEE
  *    +,-,*,/ are exactly specified so both engines produce identical
  *    bits given identical inputs.
  */
object TextAnalysis {

  import QueryFns.{wsTokens, tokHash, hash48}

  /** Session-scoped memo of the persisted per-doc token-count table
    * (doc_id, lang, m) — the [[Dedup.shingleIndex]] staging pattern.
    * tx_pack reads it on BOTH sides of its prefix sum (block totals +
    * the join back) and tx_mix on both sides of its rate computation;
    * without the memo each consumer re-runs the tokenize over the full
    * corpus, and the expensive part of this projection is exactly the
    * tokenize. 16 bytes a doc — a production pipeline materializes this
    * as its token-accounting table.
    */
  private[queries] def tokenCounts(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "TextAnalysis.token_counts") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "token_counts", Seq("documents")) {
        Tables(s, dir).documents
          .select($"doc_id", $"lang",
            size(wsTokens($"text")).cast("long").as("m"))
      }.persist()
    }

  /** Session-scoped memo of the CURATED survivor token counts
    * (doc_id, m): docs that win their exact-dedup content-hash group
    * and pass the quality gate — the input both prefix-sum phases of
    * tx_curation_packed read. Tokenize + quality run once per corpus.
    */
  private[graft] def curationSurvivors(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "TextAnalysis.curation_survivors")(Staging.readElseBuild(
      s, dir, "curation_survivors", Seq("documents")) {
      import s.implicits._
      val toks = $"toks"
      val docs = Tables(s, dir).documents
        .select($"doc_id", $"text", md5($"text").as("fp"))
      val keep = docs.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      docs.join(keep, Seq("fp", "doc_id"), "left_semi")
        .select($"doc_id", wsTokens($"text").as("toks"))
        .select($"doc_id", size(toks).cast("long").as("m"),
          scoreIn(toks, stop("en")).as("n_stop"))
        .filter($"m" > 0)
        .filter(
          round(least(lit(1.0), $"m".cast("double") / 50.0) * 0.5
            + least(lit(1.0), $"n_stop".cast("double") * 10.0 / $"m") * 0.5, 4)
            >= 0.7)
        .select($"doc_id", $"m")
    }.persist())

  /** Fixed-count order-preserving block key for the two-phase corpus
    * prefix sum: `blk = doc_id div ceil((max_doc+1)/256)`. Dividing by a
    * per-corpus constant is monotone, so blocks are contiguous doc_id
    * ranges and block order == document order — but unlike the previous
    * `doc_id div 64` key the block COUNT is ≤ 256 at ANY corpus size
    * (div-64 grew the block table, and the single-task pass over it,
    * linearly with the corpus: ~1.5e8 block rows at 1e10 docs). The
    * 1-row max enters the plan as a broadcast scalar aggregate — parquet
    * footer stats at 100 TB, never a driver action.
    */
  private[queries] def withFixedBlocks(d0: DataFrame): DataFrame = {
    val bw = d0.agg((expr("max(doc_id) div 256") + 1).as("bw"))
    d0.crossJoin(broadcast(bw)).withColumn("blk", expr("doc_id div bw"))
  }

  /** Exclusive prefix sum over the tiny block-total table (≤256 rows)
    * with NO window at all: fold the table into ONE array row sorted by
    * block key, expand per-element prefix sums with HOFs (O(blocks²)
    * long adds — trivial at 256), explode back to (blk, boff). Replaces
    * the unpartitioned `sum().over(orderBy(blk))` — numerically the
    * same, but WindowExec-with-no-partition is the one plan shape this
    * engine must never emit (it sorts all rows in a single task and
    * warns exactly that); with the fold, every window in the pack
    * family is partitioned.
    */
  private def blockOffsets(blkTotals: DataFrame): DataFrame =
    blkTotals
      .agg(sort_array(collect_list(struct(col("blk"), col("bm")))).as("bs"))
      .select(explode(expr(
        "transform(bs, (x, i) -> struct(x.blk as blk, " +
          "aggregate(slice(bs, 1, i), 0L, (a, e) -> a + e.bm) as boff))"
      )).as("o"))
      .select(col("o.blk").as("blk"), col("o.boff").as("boff"))

  /** The shared sequence-packing tail: given (doc_id, m, blk [, ordering
    * cols]) with m > 0, compute each doc's global token offset via the
    * two-phase prefix sum — per-block totals (partition-parallel) →
    * window-free block offsets ([[blockOffsets]]) broadcast back → a
    * PARTITIONED within-block cumsum — then cut the laid-out stream
    * every S tokens. Integer arithmetic throughout, so the offsets are
    * bit-identical to the direct global cumsum the DuckDB oracle runs.
    */
  private[queries] def packSequences(d: DataFrame, S: Long, ord: Column*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val blkOff = blockOffsets(d.groupBy(col("blk")).agg(sum(col("m")).as("bm")))
    d.join(broadcast(blkOff), "blk")
      .withColumn("off",
        col("boff") + sum(col("m")).over(w.partitionBy(col("blk")).orderBy(ord: _*)) - col("m"))
      .withColumn("seq_id",
        explode(sequence(expr(s"off div $S"), expr(s"(off + m - 1) div $S"))))
      .withColumn("piece",
        least(col("off") + col("m"), (col("seq_id") + 1) * S)
          - greatest(col("off"), col("seq_id") * S))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("piece")).as("n_tok"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("seq_id"))
  }

  /** Session memo of the per-(doc, word) TERM-FREQUENCY table over
    * lowercased whitespace tokens — staged as `term_freqs` (doc_id,
    * lang, word, n). The tokenize+explode+count front end runs once per
    * corpus generation; the LM-scoring family (tx_unigram_logprob,
    * tx_ccnet_buckets, tx_entropy) reads this artifact. Size is
    * Σ per-doc distinct words — strictly smaller than the token stream.
    */
  private[queries] def termFreqs(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "TextAnalysis.term_freqs") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "term_freqs", Seq("documents")) {
        Tables(s, dir).documents
          .select($"doc_id", $"lang",
            explode(wsTokens(lower($"text"))).as("word"))
          .groupBy($"doc_id", $"lang", $"word")
          .agg(count(lit(1)).as("n"))
      }.persist()
    }

  /** Session memo of the corpus UNIGRAM LANGUAGE MODEL — staged as
    * `unigram_lm` (word, cnt): global word counts, the model the
    * CCNet-style fluency filter scores against. Broadcast-sized here;
    * at 100 TB the vocabulary is still bounded (≤ ~1e8 word types), so
    * the score join degrades gracefully from broadcast to a shuffle
    * equi-join on `word` — never anything pairwise.
    */
  private def unigramLm(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "TextAnalysis.unigram_lm") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "unigram_lm", Seq("documents")) {
        termFreqs(s, dir).groupBy($"word").agg(sum($"n").as("cnt"))
      }.persist()
    }

  /** Per-document average unigram log-probability (doc_id, lang, n_tok,
    * avg_logprob) — the CCNet-style perplexity proxy (Wenzek et al.
    * 2020: score each document under a corpus LM; low-probability docs
    * are tail quality). Session-memoized: tx_unigram_logprob emits it
    * and tx_ccnet_buckets buckets over it.
    *
    * Determinism: the per-doc sum of `n · (ln cnt − ln N)` is folded
    * over the word-SORTED term list with `aggregate` (sequential
    * left-fold double — the FloatDot discipline), never a groupBy-sum
    * of doubles, so the IEEE addition order is identical in the oracle
    * (`list_reduce` over `list(... ORDER BY word)`).
    */
  private def docLogprob(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "TextAnalysis.doc_logprob") {
      import s.implicits._
      val tot = unigramLm(s, dir).agg(sum($"cnt").as("n_total"))
      termFreqs(s, dir)
        .join(broadcast(unigramLm(s, dir)), "word")
        .groupBy($"doc_id", $"lang")
        .agg(sum($"n").as("m"),
          sort_array(collect_list(struct($"word", $"n", $"cnt"))).as("terms"))
        .crossJoin(broadcast(tot))
        .withColumn("lp", aggregate($"terms", lit(0.0),
          (acc, t) => acc + t.getField("n").cast("double")
            * (log(t.getField("cnt").cast("double"))
              - log($"n_total".cast("double")))))
        .select($"doc_id", $"lang", $"m".cast("long").as("n_tok"),
          round($"lp" / $"m", 4).as("avg_logprob"))
        .persist()
    }

  /** Target domain for DSIR importance weighting (tx_dsir_weights /
    * tx_dsir_select): English documents stand in for the
    * formal-target-corpus half of the estimator. One definition; the
    * oracle SQL interpolates the same constant.
    */
  private[graft] val DsirTargetLang = "en"

  /** Selection size for tx_dsir_select (top-K by importance weight). */
  private[graft] val DsirSelectK = 100

  /** Sampling temperature for tx_mix_temperature: share_l ∝ lang_tok^α.
    * α = 1 is natural proportions, α = 0 is uniform; 0.3 is the
    * published multilingual-pretraining default. One definition; the
    * oracle SQL interpolates the same constant.
    */
  private[graft] val MixTemperatureAlpha = 0.3

  /** Weight-histogram granularity for tx_budget_select: weights bin at
    * floor(w · BudgetBinScale). The histogram size is bounded by the
    * VALUE RANGE of the weight (avg log-ratios are O(1) → ≤ ~2·scale
    * bins), never by the corpus — that bound is what lets the
    * threshold search run as a window over a tiny aggregate instead of
    * a global sort of the corpus.
    */
  private[graft] val BudgetBinScale = 10000

  /** tx_budget_select's budget: 1/BudgetDivisor of the corpus tokens. */
  private[graft] val BudgetDivisor = 5

  /** Feature-space size for the hashed-bigram DSIR variant
    * (tx_dsir_hashed) — md5-hashed word bigrams fold into this many
    * buckets, so the estimator's state is FIXED-SIZE regardless of
    * vocabulary: the property that lets it run at 100 TB (the
    * word-feature variant's vocab table grows with the corpus; this one
    * never exceeds B rows). Smoothing uses B as the add-one denominator
    * mass in place of the vocab size.
    */
  private[graft] val DsirHashBuckets = 4096

  /** Per-document DSIR importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"):
    * log w(d) = Σ_f n_d(f) · (ln p_target(f) − ln p_raw(f)) over
    * unigram word features with add-one smoothing — the deterministic
    * core of importance resampling (the published method adds Gumbel
    * noise before the top-K cut; ranking by the weight itself is its
    * deterministic analogue). Target LM = documents with
    * lang = [[DsirTargetLang]]; raw LM = the staged corpus unigram LM.
    *
    * Determinism: both smoothed log-ratios expand to ln-differences and
    * the per-doc sum folds over the word-SORTED term list (sequential
    * left-fold double — the docLogprob discipline), so IEEE order is
    * identical in the oracle. Scale: vocab-sized joins only (broadcast
    * here; equi-join on `word` at 100 TB), one doc_id shuffle — never
    * anything pairwise.
    */
  /** Session memo of the DSIR word-ratio table — staged as `dsir_ratio`
    * (word, cnt, tcnt): the trained importance model, one derivation per
    * corpus generation (the same durable-artifact posture as the
    * unigram LM it extends).
    */
  private def dsirRatio(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "TextAnalysis.dsir_ratio") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "dsir_ratio", Seq("documents")) {
        val tvocab = termFreqs(s, dir).filter($"lang" === DsirTargetLang)
          .groupBy($"word").agg(sum($"n").as("tcnt"))
        unigramLm(s, dir).join(tvocab, Seq("word"), "left")
          .select($"word", $"cnt", coalesce($"tcnt", lit(0L)).as("tcnt"))
      }.persist()
    }

  private def dsirWeightsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = termFreqs(s, dir)
    val ratio = dsirRatio(s, dir)
    val geo = ratio.agg(
      sum($"cnt").as("n_raw"), count(lit(1)).as("v_size"),
      sum($"tcnt").as("n_tgt"))
    tf.join(broadcast(ratio), "word")
      .groupBy($"doc_id", $"lang")
      .agg(sum($"n").as("m"),
        sort_array(collect_list(struct($"word", $"n", $"tcnt", $"cnt"))).as("terms"))
      .crossJoin(broadcast(geo))
      .withColumn("lw", aggregate($"terms", lit(0.0),
        (acc, t) => acc + t.getField("n").cast("double") *
          ((log(t.getField("tcnt").cast("double") + 1.0)
            - log(($"n_tgt" + $"v_size").cast("double")))
            - (log(t.getField("cnt").cast("double") + 1.0)
              - log(($"n_raw" + $"v_size").cast("double"))))))
      .select($"doc_id", $"lang", $"m".cast("long").as("n_tok"),
        ($"lw" / $"m").as("avg_raw"))
  }

  /** Per-(doc, bucket) counts of md5-hashed word-bigram features — the
    * fixed-size front end of tx_dsir_hashed. Bigrams come from the
    * zip of the token list with its own tail (empty and 1-token docs
    * produce no features on either engine); the portable tokHash folds
    * them into [[DsirHashBuckets]] buckets.
    */
  /** Staged per-doc DISTINCT word 4-gram index (doc_id, g) — the
    * decontamination sweep's input on BOTH sides (eval membership and
    * training scan), an index-build product like [[Dedup]]'s 5-token
    * window index. r17 optimization: the tokenize + gram explode ran
    * inside every tx_decontaminate / tx_decontaminate_bloom execution
    * (twice in the bloom form — totals before the prune, hits after).
    * At 100 TB the artifact stores 64-bit gram hashes; here the strings
    * keep the oracle byte-comparable.
    */
  private def gram4Index(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "TextAnalysis.gram4_index") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "gram4_index", Seq("documents")) {
        Tables(s, dir).documents
          .repartition(s.sparkContext.defaultParallelism)
          .select($"doc_id", wsTokens($"text").as("toks"))
          .select($"doc_id",
            explode(array_distinct(wordGrams($"toks", 4))).as("g"))
      }.persist()
    }

  private def hashedBigramCounts(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "TextAnalysis.hashed_bigram_counts") {
      import s.implicits._
      // staged (r17 optimization): the hashed feature table is the DSIR
      // model's input — an index-build product exactly like dsir_ratio
      // above it; the tokenize + md5-per-bigram pass was the whole cost
      // of tx_dsir_hashed and re-ran per bench rep. The bucket modulus
      // governs the artifact's CONTENTS, so it is part of the artifact
      // name (r18, the impact-index `_p$P` convention): editing
      // DsirHashBuckets must miss the store, never read a stale table.
      Staging.readElseBuild(s, dir, s"dsir_hashed_counts_b$DsirHashBuckets",
          Seq("documents")) {
        Tables(s, dir).documents
          .select($"doc_id", $"lang", wsTokens(lower($"text")).as("toks"))
          .select($"doc_id", $"lang",
            explode(zip_with(
              slice($"toks", lit(1), greatest(size($"toks") - 1, lit(0))),
              slice($"toks", lit(2), greatest(size($"toks") - 1, lit(0))),
              (a, b) => concat(a, lit(" "), b))).as("feat"))
          .select($"doc_id", $"lang",
            (tokHash($"feat") % DsirHashBuckets).as("bucket"))
          .groupBy($"doc_id", $"lang", $"bucket")
          .agg(count(lit(1)).as("n"))
      }.persist()
    }

  /** [[dsirWeightsRaw]] over the hashed-bigram feature space: identical
    * smoothed log-ratio estimator and fold discipline, with the fixed
    * bucket count as the smoothing mass. See [[DsirHashBuckets]] for
    * why this is the at-scale form.
    */
  private def dsirHashedRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17 optimization: the (doc, bucket) counts fed THREE consumers
    // (target-side totals, all-side totals, the per-doc fold), each
    // re-running the full tokenize + md5-bigram pass over documents —
    // now a staged+persisted artifact (see hashedBigramCounts), with
    // the two totals folded into ONE aggregation: tcnt is the
    // conditional sum over the same rows the left join used to supply
    // (absent target mass = 0 either way).
    val bf = hashedBigramCounts(s, dir)
    val ratio = bf.groupBy($"bucket")
      .agg(sum($"n").as("cnt"),
        coalesce(sum(when($"lang" === DsirTargetLang, $"n")), lit(0L))
          .as("tcnt"))
    val geo = ratio.agg(sum($"cnt").as("n_raw"), sum($"tcnt").as("n_tgt"))
    bf.join(broadcast(ratio), "bucket")
      .groupBy($"doc_id", $"lang")
      .agg(sum($"n").as("m"),
        sort_array(collect_list(struct($"bucket", $"n", $"tcnt", $"cnt"))).as("terms"))
      .crossJoin(broadcast(geo))
      .withColumn("lw", aggregate($"terms", lit(0.0),
        (acc, t) => acc + t.getField("n").cast("double") *
          ((log(t.getField("tcnt").cast("double") + 1.0)
            - log(($"n_tgt" + lit(DsirHashBuckets.toLong)).cast("double")))
            - (log(t.getField("cnt").cast("double") + 1.0)
              - log(($"n_raw" + lit(DsirHashBuckets.toLong)).cast("double"))))))
      .select($"doc_id", $"lang", $"m".cast("long").as("n_big"),
        ($"lw" / $"m").as("avg_raw"))
  }

  /** Driver-side copy of the DSIR word-ratio table (word → (target
    * count, raw count)) plus its totals and vocab size — the
    * task-shipped artifact [[graft.streaming.DsirStream]] rides. Same
    * broadcast-now / staged-parquet-per-partition-at-100 TB tradeoff as
    * [[unigramLmMap]].
    */
  private[graft] def dsirRatioMap(s: SparkSession, dir: String)
      : (Map[String, (Long, Long)], Long, Long, Long) = {
    val rows = dsirRatio(s, dir).collect()
    val m = rows.map(r => r.getString(0) -> (r.getLong(2), r.getLong(1))).toMap
    (m, m.valuesIterator.map(_._1).sum, m.valuesIterator.map(_._2).sum,
      m.size.toLong)
  }

  /** Driver-side copy of the staged unigram LM plus the corpus token
    * total — the task-shipped artifact the streaming scorer
    * ([[graft.streaming.LmScoreStream]]) rides. Broadcast-sized at the
    * gate corpora; a 100 TB vocabulary (~1e8 types) switches to a
    * task-local hashmap loaded per partition from the staged parquet —
    * same stateless per-row shape.
    */
  private[graft] def unigramLmMap(s: SparkSession, dir: String): (Map[String, Long], Long) = {
    val rows = unigramLm(s, dir).collect()
    val m = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    (m, m.values.sum)
  }

  /** Interpolation weight on the conditional (bigram) term of the
    * two-level LM tx_bigram_logprob scores under:
    * P(w2 | w1) = λ · c12/c1 + (1 − λ) · (c2 + 1)/(N + V).
    * One definition; the oracle SQL interpolates the same constant.
    */
  private[graft] val BigramLambda = 0.7

  /** Per-(doc, w1, w2) occurrences of ADJACENT lowercased-token pairs —
    * the tail-zip of [[hashedBigramCounts]] without the bucket fold
    * (empty and 1-token docs produce no pairs on either engine).
    */
  private def bigramPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select($"doc_id", $"lang", wsTokens(lower($"text")).as("toks"))
      .select($"doc_id", $"lang",
        explode(zip_with(
          slice($"toks", lit(1), greatest(size($"toks") - 1, lit(0))),
          slice($"toks", lit(2), greatest(size($"toks") - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select($"doc_id", $"lang", $"b.w1", $"b.w2")
  }

  /** Session memo of the corpus BIGRAM LANGUAGE MODEL — staged as
    * `bigram_lm` (w1, w2, cnt): corpus-wide counts of adjacent token
    * pairs, the conditional half of the interpolated two-level LM
    * (the KenLM-shaped upgrade of the CCNet unigram proxy). Row count
    * is distinct ADJACENT pairs — far below V², and the score join is
    * an equi-join on (w1, w2), so at 100 TB it degrades from broadcast
    * to shuffle exactly like the unigram join, never anything pairwise.
    */
  private def bigramLm(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "TextAnalysis.bigram_lm") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "bigram_lm", Seq("documents")) {
        bigramPairs(s, dir).groupBy($"w1", $"w2")
          .agg(count(lit(1)).as("cnt"))
      }.persist()
    }

  /** Per-document mean interpolated bigram log-probability (doc_id,
    * lang, n_big, avg_logprob): for each adjacent pair, ln of
    * λ·c12/c1 + (1−λ)·(c2+1)/(N+V) — a Jelinek-Mercer mix of the
    * corpus conditional with an add-one unigram floor. The
    * conditioning mass c1 is the corpus unigram count of w1 (a model
    * definition shared with the oracle; doc-boundary effects are
    * identical on both engines). Determinism: the per-doc sum folds
    * over the (w1, w2)-SORTED pair list (sequential left-fold double —
    * the [[docLogprob]] discipline).
    */
  private def docBigramLogprob(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "TextAnalysis.doc_bigram_logprob") {
      import s.implicits._
      val uni = unigramLm(s, dir)
      val geo = uni.agg(sum($"cnt").as("n_total"), count(lit(1)).as("v_size"))
      bigramPairs(s, dir)
        .groupBy($"doc_id", $"lang", $"w1", $"w2")
        .agg(count(lit(1)).as("n"))
        .join(broadcast(bigramLm(s, dir)), Seq("w1", "w2"))
        .join(broadcast(uni.select($"word".as("w1"), $"cnt".as("c1"))), Seq("w1"))
        .join(broadcast(uni.select($"word".as("w2"), $"cnt".as("c2"))), Seq("w2"))
        .groupBy($"doc_id", $"lang")
        .agg(sum($"n").as("m"),
          sort_array(collect_list(
            struct($"w1", $"w2", $"n", $"cnt", $"c1", $"c2"))).as("terms"))
        .crossJoin(broadcast(geo))
        .withColumn("lp", aggregate($"terms", lit(0.0),
          (acc, t) => acc + t.getField("n").cast("double") *
            log(lit(BigramLambda)
                * (t.getField("cnt").cast("double") / t.getField("c1").cast("double"))
              + (lit(1.0) - lit(BigramLambda))
                * ((t.getField("c2") + lit(1L)).cast("double")
                  / ($"n_total" + $"v_size").cast("double")))))
        .select($"doc_id", $"lang", $"m".cast("long").as("n_big"),
          round($"lp" / $"m", 4).as("avg_logprob"))
        .persist()
    }

  /** Incremental LM maintenance (the [[Dedup.mergedBandIndex]]
    * counterpart for the scoring family): `dir`'s staged unigram model
    * extended by an admitted batch of (doc_id, text) — count tables
    * merge by ADDITION, so this is unconditionally exact and costs
    * O(batch ∪ vocab), never a corpus rescan. DeltaMergeSpec pins
    * merged == rebuilt-from-union.
    */
  def mergedUnigramLm(s: SparkSession, dir: String, batch: DataFrame): DataFrame =
    unigramLm(s, dir).unionByName(
      batch.select(explode(wsTokens(lower(col("text")))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt")))
      .groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))

  /** [[mergedUnigramLm]] for the bigram model — same additive merge on
    * (w1, w2) keys.
    */
  def mergedBigramLm(s: SparkSession, dir: String, batch: DataFrame): DataFrame =
    bigramLm(s, dir).unionByName(
      batch.select(wsTokens(lower(col("text"))).as("toks"))
        .select(explode(zip_with(
          slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt")))
      .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).as("cnt"))

  /** Per-doc token accounting under the trained tokenizer (doc_id,
    * n_ws, n_bpe): alphabetic tokens bill their segmentation length via
    * one word-keyed equi-join (broadcast at the gates), everything
    * else passes through at 1. Shared by tx_bpe_token_count and
    * tx_bpe_pack.
    */
  private def bpeDocCounts(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "TextAnalysis.bpe_doc_counts") {
      import s.implicits._
      // staged (r17 optimization): the pack machinery references its
      // input ~4× (block-width scalar, block totals, the packing join),
      // and each reference re-ran the tokenize + segmentation-join pass
      // — the same measured trap mm_pack's media_token_counts closed.
      // At 100 TB this table is an index-build product like token_counts.
      Staging.readElseBuild(s, dir, s"bpe_doc_counts_$BpeParams",
          Seq("documents")) {
        val segs = bpeArtifacts(s, dir)._2
          .select($"word", size($"syms").cast("long").as("n_sym"))
        Tables(s, dir).documents
          .select($"doc_id", explode(wsTokens(lower($"text"))).as("word"))
          .join(broadcast(segs), Seq("word"), "left")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_ws"),
            sum(coalesce($"n_sym", lit(1L))).as("n_bpe"))
      }.persist()
    }

  /** Driver-side copy of the trained BPE segmentation vocabulary
    * (word → symbol count) — the task-shipped artifact
    * [[graft.streaming.LmScoreStream.bpeTokenCounts]] rides.
    */
  private[graft] def bpeSegmentMap(s: SparkSession, dir: String): Map[String, Long] = {
    import s.implicits._
    bpeArtifacts(s, dir)._2
      .select($"word", size($"syms").cast("long").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Driver-side copy of the staged bigram LM (space-joined "w1 w2" →
    * count) plus the unigram map, corpus token total, and vocab size —
    * the task-shipped artifact [[graft.streaming.LmScoreStream]]'s
    * bigram scorer rides. Same broadcast-now / task-local-hashmap-at-
    * 100 TB tradeoff as [[unigramLmMap]].
    */
  private[graft] def bigramLmMap(s: SparkSession, dir: String)
      : (Map[String, Long], Map[String, Long], Long, Long) = {
    val big = bigramLm(s, dir).collect()
      .map(r => s"${r.getString(0)} ${r.getString(1)}" -> r.getLong(2)).toMap
    val (uni, n) = unigramLmMap(s, dir)
    (big, uni, n, uni.size.toLong)
  }

  /** Merge rounds for the BPE trainer (tx_bpe_merges /
    * tx_bpe_segment). CTE-for-CTE the oracle replays the SAME count
    * ([[BpeCte]] is generated from it) — tune the constant, never the
    * SQL.
    */
  private[graft] val BpeMerges = 10

  /** Rows emitted by tx_bpe_segment (most frequent words first). */
  private[graft] val BpeTopWords = 50

  /** Longest word admitted to the BPE training vocabulary, enforced on
    * BOTH engines. The oracle CTE counts symbol pairs with a positional
    * unnest bounded by this constant (`range(1, BpeMaxWordLen + 1)`),
    * so an uncapped Spark trainer would silently diverge on any
    * alphabetic word longer than the bound; capping the vocab
    * identically on both sides makes the bound explicit (and >200-char
    * "words" are noise tokens no tokenizer wants weighted anyway).
    */
  private[graft] val BpeMaxWordLen = 200

  /** Staging-name suffix carrying every constant that governs the BPE
    * artifacts' CONTENTS (r18, ADVICE: the impact-index `_p$P`
    * convention) — editing any of them must miss the store, never read
    * a stale tokenizer.
    */
  private val BpeParams = s"m${BpeMerges}w${BpeTopWords}l$BpeMaxWordLen"

  /** BPE tokenizer TRAINING (Sennrich et al. 2016) as a corpus job —
    * the piece that turns a curated corpus into a tokenizer, run
    * word-frequency-weighted at character level over the alphabetic
    * vocabulary:
    *
    *  1. vocab = lowercased ^[a-z]+$ tokens with corpus counts (the
    *     charset restriction keeps the symbol alphabet closed; at
    *     production scale the alphabet is whatever the pre-tokenizer
    *     emits),
    *  2. [[BpeMerges]] rounds of: weighted adjacent-symbol-pair counts
    *     (one explode + one aggregation over the VOCAB — bounded by
    *     distinct words, not corpus size), deterministic argmax by
    *     (count desc, pair asc) via one struct-min, then the GREEDY
    *     left-to-right merge applied per word as a sequential
    *     `aggregate` fold with an array accumulator (localCheckpoint
    *     per round — the clusterLabels lineage discipline).
    *
    * The DuckDB oracle replays the same rounds on bracket-encoded
    * symbol strings where `replace('[a][b]' → '[ab]')` IS the greedy
    * non-overlapping merge (brackets make adjacent matches share no
    * characters), generated with the same round count ([[BpeCte]]).
    * Artifacts stage as `bpe_merges` (the learned table — rank, sym1,
    * sym2, cnt) and `bpe_symbols` (per-word segmentation).
    */
  private def bpeArtifacts(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    Memo(s, dir, "TextAnalysis.bpe_artifacts") {
      lazy val built = trainBpe(s, dir) // at most one loop even on double miss
      val m = Staging.readElseBuild(s, dir, s"bpe_merges_$BpeParams",
        Seq("documents"))(built._1)
      val y = Staging.readElseBuild(s, dir, s"bpe_symbols_$BpeParams",
        Seq("documents"))(built._2)
      (m.persist(), y.persist())
    }

  private def trainBpe(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val vocab = Tables(s, dir).documents
      .select(explode(wsTokens(lower($"text"))).as("word"))
      .filter($"word".rlike("^[a-z]+$") && length($"word") <= BpeMaxWordLen)
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
    var syms = vocab
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= BpeMerges && !exhausted) {
      val n = size($"syms")
      val best = syms
        .select($"cnt", explode(zip_with(
          slice($"syms", lit(1), greatest(n - 1, lit(0))),
          slice($"syms", lit(2), greatest(n - 1, lit(0))),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy($"p.a", $"p.b").agg(sum($"cnt").as("c"))
        .agg(min(struct((-$"c").as("nc"), $"a", $"b")).as("best"))
        .select($"best.a", $"best.b", (-$"best.nc").as("c"))
        .collect()(0)
      // a tiny vocabulary can run out of adjacent pairs before the
      // round budget — stop, emitting the merges that exist (the
      // oracle's per-round LEFT JOIN degrades identically)
      if (best.isNullAt(0)) exhausted = true
      else {
        val (a, b, c) = (best.getString(0), best.getString(1), best.getLong(2))
        merges += ((k, a, b, c))
        syms = syms.withColumn("syms",
          aggregate($"syms", array().cast("array<string>"), (acc, x) =>
            when(size(acc) > 0
                && element_at(acc, -1) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(x)))))
          .localCheckpoint()
        k += 1
      }
    }
    (merges.result().toDF("rank", "sym1", "sym2", "cnt"), syms)
  }

  /** Per-source document cap for tx_source_cap (RefinedWeb-style
    * domain frequency cap): keep at most this many docs per source,
    * selected by portable doc-id hash. One definition; the oracle SQL
    * interpolates the same constant.
    */
  private[graft] val SourceCapK = 10

  /** Force-build the text family's durable staged artifacts for `dir`
    * ([[graft.core.Staging]]): the token-accounting table, the
    * curated-survivor table, the term-frequency table, and the unigram
    * and bigram language models.
    */
  def stageIndexes(s: SparkSession, dir: String): Unit =
    Staging.buildAll(s)(
      () => tokenCounts(s, dir),
      () => curationSurvivors(s, dir),
      () => termFreqs(s, dir),
      () => unigramLm(s, dir),
      () => dsirRatio(s, dir),
      () => bigramLm(s, dir),
      () => bpeArtifacts(s, dir),
      () => bpeDocCounts(s, dir),
      () => hashedBigramCounts(s, dir),
      () => gram4Index(s, dir))

  /** Drop and release this module's session memos ([[Memo]]). */
  def clearCaches(): Unit = Memo.clear("TextAnalysis")

  /** Tiny per-language stopword lists for the n-gram/stopword-voting
    * language-ID heuristic. Deterministic, shared with the oracle SQL.
    */
  private[queries] val stop = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "des"))

  private def scoreIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** The per-LANGUAGE quality projection shared — expression for
    * expression — by the batch query `tx_quality_lang` and the
    * streaming ingest gate [[graft.streaming.CurationStream]]: per doc
    * (pred_lang, n_tok, stop_ratio, quality) with the quality score's
    * stopword term read under the DETECTED language's list (the
    * tx_lang_id vote; the detected language's stop count IS the vote
    * maximum, so the lang-aware score adds zero passes over the text).
    * One tokenize, four codegen'd array filters, a single stateless
    * projection — no shuffle, which is what makes the streaming twin a
    * per-row append-mode map. Input needs (doc_id, text); `keep` names
    * input columns carried through unchanged (the streaming gate keeps
    * `text` so downstream ingest stages — dedup, LM scoring — can chain
    * off the survivors; the batch query keeps nothing, so its plan and
    * oracle columns are untouched).
    */
  private[graft] def langQualityScores(docs: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val toks = col("toks")
    val kept = keep.map(col)
    docs
      .select(col("doc_id") +: wsTokens(lower(col("text"))).as("toks") +: kept: _*)
      .select(Seq(col("doc_id"), size(toks).cast("long").as("n_tok"),
        scoreIn(toks, stop("de")).as("s_de"),
        scoreIn(toks, stop("en")).as("s_en"),
        scoreIn(toks, stop("es")).as("s_es"),
        scoreIn(toks, stop("fr")).as("s_fr")) ++ kept: _*)
      .withColumn("best", greatest(col("s_de"), col("s_en"), col("s_es"), col("s_fr")))
      .withColumn("pred_lang",
        when(col("s_de") === col("best"), "de")
          .when(col("s_en") === col("best"), "en")
          .when(col("s_es") === col("best"), "es")
          .otherwise("fr"))
      .select(Seq(
        col("doc_id"), col("pred_lang"), col("n_tok"),
        round(col("best").cast("double") / nullif(col("n_tok"), lit(0)), 4).as("stop_ratio"),
        round(
          least(lit(1.0), col("n_tok").cast("double") / 50.0) * 0.5
            + least(lit(1.0), col("best").cast("double") * 10.0 / nullif(col("n_tok"), lit(0))) * 0.5,
          4).as("quality")) ++ kept: _*)
  }

  /** Per-doc language-quality stats derived from the session
    * [[termFreqs]] artifact instead of a fresh tokenize pass (r18,
    * guide §2.3/§6: the curation gate re-tokenized the full corpus to
    * compute token statistics the staged per-(doc, word) counts already
    * determine). Value-identical to [[langQualityScores]]'s (doc_id,
    * pred_lang, n_tok, quality) for every doc with ≥ 1 token — all four
    * stats are order-independent token aggregates (n_tok = Σn,
    * per-language stop mass = Σn over the list's words; termFreqs uses
    * the same lowercased wsTokens tokenizer), and the quality
    * arithmetic is expression-for-expression the shared projection's. A
    * zero-token doc has no termFreqs rows so it is ABSENT here rather
    * than scored 0.5; both forms sit below every quality gate that
    * consumes this frame, so gated consumers are row-identical
    * (consumers that must emit zero-token docs keep
    * [[langQualityScores]]).
    */
  private[queries] def langQualityFromTf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def sIn(lang: String) =
      sum(when($"word".isInCollection(stop(lang)), $"n").otherwise(lit(0L)))
    termFreqs(s, dir).groupBy($"doc_id")
      .agg(sum($"n").as("n_tok"),
        sIn("de").as("s_de"), sIn("en").as("s_en"),
        sIn("es").as("s_es"), sIn("fr").as("s_fr"))
      .withColumn("best", greatest($"s_de", $"s_en", $"s_es", $"s_fr"))
      .withColumn("pred_lang",
        when($"s_de" === $"best", "de")
          .when($"s_en" === $"best", "en")
          .when($"s_es" === $"best", "es")
          .otherwise("fr"))
      .select($"doc_id", $"pred_lang", $"n_tok",
        round(
          least(lit(1.0), $"n_tok".cast("double") / 50.0) * 0.5
            + least(lit(1.0), $"best".cast("double") * 10.0 / nullif($"n_tok", lit(0))) * 0.5,
          4).as("quality"))
  }

  /** Crude BPE-ish pre-tokenizer pattern (GPT-2 style classes, no
    * lookahead so it is portable Java-regex ∩ RE2).
    */
  private val BpeIsh = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace tokens vs BPE-ish subword-precursor
    // tokens, plus chars-per-token (the usual tokens~chars/4 sanity
    // metric for LLM data budgeting).
    "tx_token_count" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).documents
        .select(
          $"doc_id",
          size(wsTokens($"text")).as("n_ws"),
          regexp_count($"text", lit(BpeIsh)).as("n_tok"),
          length($"text").as("len"))
        // nullif guard: an empty/whitespace-only document has n_tok = 0;
        // double division by zero diverges across engines (Spark
        // Infinity vs DuckDB error/NULL), so both sides agree on NULL.
        .select($"doc_id", $"n_ws", $"n_tok",
          round($"len".cast("double") / nullif($"n_tok", lit(0)), 4).as("cpt"))
        .orderBy($"doc_id")
    },

    // Fixed-size token chunking — the sequence-packing prep step of a
    // training pipeline (documents → 64-token windows, last chunk
    // ragged). One tokenize per doc, O(tokens) chunk construction over
    // the materialized array, shuffle-free; chunk text leaves the
    // operator as an md5, so 100 TB of chunk bodies never re-materialize
    // through the gate (the downstream writer would emit the text
    // column instead of the hash — same plan).
    "tx_chunk" -> { (s, dir) =>
      import s.implicits._
      val C = 64
      Tables(s, dir).documents
        .select($"doc_id", wsTokens($"text").as("toks"))
        .select($"doc_id", posexplode(
          when(size($"toks") > 0,
            transform(
              sequence(lit(0), ceil(size($"toks") / lit(C.toDouble)).cast("int") - 1),
              k => struct(
                concat_ws(" ", slice($"toks", k * C + 1, lit(C))).as("chunk"),
                least(lit(C.toLong), (size($"toks") - k * C).cast("long")).as("m"))))
            .otherwise(array().cast("array<struct<chunk:string,m:bigint>>")))
          .as(Seq("chunk_idx", "ch")))
        .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
          md5($"ch.chunk").as("chunk_md5"), $"ch.m".as("n_tok"))
        .orderBy($"doc_id", $"chunk_idx")
    },

    // Language identification: stopword-voting heuristic. Ties break
    // alphabetically (de < en < es < fr) — deterministic.
    "tx_lang_id" -> { (s, dir) =>
      import s.implicits._
      // tokenize ONCE per row (4 language scores read the same array)
      val toks = $"toks"
      Tables(s, dir).documents
        .select($"doc_id", wsTokens(lower($"text")).as("toks"))
        .select(
          $"doc_id",
          scoreIn(toks, stop("de")).as("s_de"),
          scoreIn(toks, stop("en")).as("s_en"),
          scoreIn(toks, stop("es")).as("s_es"),
          scoreIn(toks, stop("fr")).as("s_fr"))
        .withColumn("best", greatest($"s_de", $"s_en", $"s_es", $"s_fr"))
        .withColumn("pred_lang",
          when($"s_de" === $"best", "de")
            .when($"s_en" === $"best", "en")
            .when($"s_es" === $"best", "es")
            .otherwise("fr"))
        .drop("best")
        .orderBy($"doc_id")
    },

    // Quality scoring: length / stopword / alphabetic-character ratios
    // composed into a bounded [0,1] score.
    "tx_quality" -> { (s, dir) =>
      import s.implicits._
      // tokenize ONCE per row (4 token-consuming expressions below; an
      // inline wsTokens would re-split per expression — linear, but a
      // 4× constant on long documents)
      val toks = $"toks"
      Tables(s, dir).documents
        .select($"doc_id", length($"text").as("n_chars"),
          wsTokens($"text").as("toks"))
        .select(
          $"doc_id",
          $"n_chars",
          size(toks).as("n_tok"),
          aggregate(transform(toks, t => length(t)), lit(0), (a, b) => a + b).as("tok_chars"),
          scoreIn(toks, stop("en")).as("n_stop"))
        // nullif guards: degenerate (token-free) docs produce NULL ratios
        // on both engines instead of engine-specific NaN/Infinity.
        .select(
          $"doc_id", $"n_chars", $"n_tok",
          round($"tok_chars".cast("double") / nullif($"n_tok", lit(0)), 4).as("mean_tok_len"),
          round($"n_stop".cast("double") / nullif($"n_tok", lit(0)), 4).as("stop_ratio"),
          round(
            least(lit(1.0), $"n_tok".cast("double") / 50.0) * 0.5
              + least(lit(1.0), $"n_stop".cast("double") * 10.0 / nullif($"n_tok", lit(0))) * 0.5,
            4).as("quality"))
        .orderBy($"doc_id")
    },

    // Per-LANGUAGE quality gating: the stopword term of the quality
    // score uses the stopword list of each document's DETECTED language
    // (the tx_lang_id voting heuristic) instead of pinning English — the
    // multilingual form of tx_quality. All four language scores come
    // from ONE tokenize + four codegen'd array filters in a single
    // projection, and the detected language's stop count is exactly the
    // vote maximum (`best`), so the lang-aware score costs nothing
    // beyond what language-ID already computes: zero extra shuffles,
    // zero extra passes over the text. Tokens are lowercased as in
    // tx_lang_id (stopword matching is case-insensitive; token COUNT is
    // unaffected). tx_quality / tx_corpus_report keep their original
    // English-gated semantics — this is the multilingual twin, not a
    // redefinition.
    "tx_quality_lang" -> { (s, dir) =>
      import s.implicits._
      langQualityScores(Tables(s, dir).documents).orderBy($"doc_id")
    },

    // The curation pipeline gated per detected language: exact-dedup
    // winners → lang-aware quality gate (each doc judged by ITS
    // language's stopword list) → per-language survivor accounting.
    // Same plan shape as tx_curation_pipeline — one dedup group-by, one
    // final rollup; the language scores ride in the projection.
    "tx_curation_lang" -> { (s, dir) =>
      import s.implicits._
      // Scores from the staged termFreqs aggregates instead of a fresh
      // tokenize pass (r18 — see [[langQualityFromTf]]: value-identical
      // for every doc that can clear the 0.7 gate; the oracle's
      // n_tok > 0 prefilter is subsumed either way). The dedup winners
      // ARE the group-min ids, so the survivor restriction is one
      // semi-join of the stats frame against them — the old
      // (fp, doc_id) self-semi-join to recover winner text is gone with
      // the tokenize that needed it.
      val keep = Tables(s, dir).documents
        .select($"doc_id", md5($"text").as("fp"))
        .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      langQualityFromTf(s, dir)
        .join(keep, Seq("doc_id"), "left_semi")
        .filter($"quality" >= 0.7)
        .groupBy($"pred_lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("total_tokens"))
        .orderBy($"pred_lang")
    },

    // Global heavy hitters via the custom TopKByCount sketch
    // (TypedImperativeAggregate): each map task ships one bounded
    // counter map, never raw words — shuffle is O(capacity × tasks).
    // Capacity far exceeds the distinct vocabulary here, so the sketch
    // is exact and the plain top-k oracle pins it.
    "tx_topk_words" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).documents
        .select(explode(wsTokens($"text")).as("word"))
        .agg(graft.functions.TopKSketch.topkByCount($"word", 20, 65536).as("top"))
        .select(explode($"top").as("t"))
        .select($"t.word", $"t.cnt")
    },

    // TF-IDF: term frequency × inverse document frequency, top-3 terms
    // per document (docs 0-29). One tokenize pass feeds both the tf and
    // df aggregations; df is a broadcast-sized word table. The corpus
    // size enters as a broadcast 1-row scalar subquery (crossJoin of a
    // broadcast aggregate), not a driver-side action — the whole query
    // is one plan, and no job runs before the caller acts on it.
    "tx_tfidf" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents
      val nd = docs.agg(countDistinct($"doc_id").as("n_docs"))
      val tok = docs
        .select($"doc_id", explode(wsTokens($"text")).as("word"))
      val tf = tok.groupBy($"doc_id", $"word").agg(count(lit(1)).as("n"))
        .withColumn("len", sum($"n").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
      val df_ = tok.select($"doc_id", $"word").distinct()
        .groupBy($"word").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"tfidf".desc, $"word")
      tf.join(broadcast(df_), "word")
        .crossJoin(broadcast(nd))
        .withColumn("tfidf",
          round(($"n".cast("double") / $"len") * log($"n_docs".cast("double") / $"df"), 6))
        .filter($"doc_id" < 30)
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank", $"word", $"tfidf")
        .orderBy($"doc_id", $"rank")
    },

    // Deterministic stratified sampling: 20 docs per language, selected
    // by md5(doc_id) order — reproducible across runs/engines (the
    // pipeline-sampling primitive; rand()-based sampling is not
    // replayable).
    "tx_sample_stratified" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy(md5($"doc_id".cast("string")), $"doc_id")
      Tables(s, dir).documents
        .select($"lang", $"doc_id")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 20)
        .select($"lang", $"doc_id")
        .orderBy($"lang", $"doc_id")
    },

    // Composed curation pipeline (see curationPipeline scaladoc).
    "tx_curation_pipeline" -> { (s, dir) => curationPipeline(s, dir) },

    // The END-TO-END training-prep recipe as one plan: exact dedup
    // (keep smallest doc_id per content hash) → quality gate (≥ 0.7,
    // the tx_quality formula) → pack the SURVIVORS into 512-token
    // sequences (the tx_pack prefix-sum, doc_id order). What
    // tx_curation_pipeline accounts for, this one actually produces:
    // the sequence layout a tokenizer writer would emit. The survivor
    // token-count table is staged once per (session, corpus) — both
    // prefix-sum phases read it, and the tokenize+quality front end
    // runs once.
    "tx_curation_packed" -> { (s, dir) =>
      packSequences(withFixedBlocks(curationSurvivors(s, dir)), 512L,
        col("doc_id"))
    },

    // Document fingerprinting: md5 of whitespace-normalized text + a
    // 31-bit polynomial rolling hash over token hashes (ref analogue:
    // the reference fingerprints documents only by filename,
    // mr/worker.go:54-60; this is the content-addressed upgrade).
    "tx_fingerprint" -> { (s, dir) =>
      import s.implicits._
      val norm = regexp_replace(trim(lower($"text")), "\\s+", " ")
      val toks = wsTokens($"text")
      Tables(s, dir).documents
        .select(
          $"doc_id",
          md5(norm).as("fp_md5"),
          aggregate(
            transform(toks, t => tokHash(t)),
            lit(0L),
            (acc, h) => (acc * 1000003L + h) % 2147483647L).as("fp_roll"))
        .orderBy($"doc_id")
    },

    // Intra-document repetition scoring (the Gopher-style duplicate
    // n-gram fraction quality signal): fraction of word 3-grams that are
    // repeats within the same document. Pure narrow projection per doc —
    // no shuffle, fully codegen'd.
    "tx_repetition" -> { (s, dir) =>
      import s.implicits._
      val grams = wordGrams($"toks", 3)
      Tables(s, dir).documents
        .select($"doc_id", wsTokens($"text").as("toks"))
        .select($"doc_id",
          size(grams).as("n_grams"),
          size(array_distinct(grams)).as("n_distinct"))
        .select($"doc_id", $"n_grams", $"n_distinct",
          round(($"n_grams" - $"n_distinct").cast("double")
            / nullif($"n_grams", lit(0)), 6).as("dup_ratio"))
        .orderBy($"doc_id")
    },

    // Train/eval DECONTAMINATION: flag training documents sharing any
    // word 4-gram with the held-out set (here: doc_id % 97 == 0, a
    // deterministic stand-in for a benchmark suite). The classic
    // benchmark-leak sweep every pretraining run needs. Scale shape:
    // the eval side's distinct 8-grams are SMALL (benchmarks are tiny
    // next to the corpus) → broadcast semi-join against the training
    // side's exploded grams; the corpus is scanned once, nothing
    // pairwise. At 100 TB you'd hash the grams to 64-bit before the
    // broadcast (same plan, smaller build side).
    "tx_decontaminate" -> { (s, dir) =>
      import s.implicits._
      // eval docs are filtered BEFORE gram construction (the held-out
      // set is tiny — tokenize only it); the TRAINING side reads the
      // staged per-doc distinct 4-gram index ([[gram4Index]], r17
      // optimization — the corpus-scale tokenize+gram pass is an
      // index-build product). Membership arrives as a broadcast left
      // join, and one aggregation produces both the per-doc gram count
      // and the hit count. One artifact scan, one shuffle on doc_id.
      val grams = array_distinct(wordGrams($"toks", 4))
      val evalGrams = Tables(s, dir).documents
        .filter($"doc_id" % 97 === 0)
        .select(wsTokens($"text").as("toks"))
        .select(explode(grams).as("g")).distinct()
        .withColumn("hit", lit(1L))
      gram4Index(s, dir).filter($"doc_id" % 97 =!= 0)
        .join(broadcast(evalGrams), Seq("g"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"), // grams are per-doc distinct
          sum(coalesce($"hit", lit(0L))).as("n_shared"))
        .filter($"n_shared" > 0)
        .select($"doc_id", $"n_shared", $"n_grams",
          round($"n_shared".cast("double") / $"n_grams", 6).as("overlap_ratio"))
        .orderBy($"doc_id")
    },

    // Bloom-prefiltered decontamination: byte-identical output to
    // tx_decontaminate, but the membership test reaches the corpus as a
    // ~100 KB bloom bitmap (a scalar subquery — the same plan shape
    // Spark's InjectRuntimeFilter produces) instead of a broadcast of
    // the full eval gram set. The exact verify join then runs only over
    // might-contain rows. At gate scale the two are equivalent; at
    // 100 TB with a large held-out suite the bloom is fixed-size while
    // the gram-set broadcast grows with the suite, and the pruned verify
    // join shrinks from |corpus grams| to |might-contain grams| —
    // false positives are removed by the exact join, so no recall loss.
    "tx_decontaminate_bloom" -> { (s, dir) =>
      import s.implicits._
      // eval side tokenizes only the tiny held-out set; the training
      // side reads the staged per-doc distinct 4-gram index
      // ([[gram4Index]], r17 optimization)
      val grams = array_distinct(wordGrams($"toks", 4))
      val evalGrams = Tables(s, dir).documents
        .filter($"doc_id" % 97 === 0)
        .select(wsTokens($"text").as("toks"))
        .select(explode(grams).as("g")).distinct()
      // ~2.6k eval grams at sf0.01; sized for 100k with 1M bits (fpp≈2%
      // at capacity). The bloom binary enters the plan ONCE as a scalar.
      val bloom = evalGrams
        .agg(graft.functions.BloomSketch.bloomAgg(
          xxhash64($"g"), 100000L, 1000000L).as("bf"))
        .scalar()
      val trainGrams = gram4Index(s, dir).filter($"doc_id" % 97 =!= 0)
      // per-doc totals count ALL grams — computed before the bloom prune
      val totals = trainGrams.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
      val hits = trainGrams
        .filter(graft.functions.BloomSketch.mightContain(bloom, xxhash64($"g")))
        .join(evalGrams, Seq("g"), "left_semi")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
      totals.join(hits, "doc_id") // inner: only contaminated docs survive
        .select($"doc_id", $"n_shared", $"n_grams",
          round($"n_shared".cast("double") / $"n_grams", 6).as("overlap_ratio"))
        .orderBy($"doc_id")
    },

    // Sequence PACKING — concat-and-chunk the corpus token stream into
    // fixed 512-token training sequences (the step after tx_chunk in a
    // pretraining pipeline: documents are laid end-to-end in doc_id
    // order and the stream is cut every 512 tokens; a document whose
    // token interval straddles a cut contributes a fragment to each
    // side). Needs each doc's global token OFFSET — a prefix sum. The
    // naive window (`sum over (orderBy doc_id)` with no partition) is a
    // single-partition sort at 100 TB, so this runs the classic
    // two-phase scan instead: per-block subtotals over ≤256 FIXED
    // order-preserving blocks ([[withFixedBlocks]], partition-parallel)
    // → window-free block-offset fold ([[blockOffsets]]) → broadcast
    // block offsets back + a PARTITIONED within-block cumsum. Integer
    // arithmetic throughout, so the result is bit-identical to the
    // oracle's direct global cumsum.
    "tx_pack" -> { (s, dir) =>
      import s.implicits._
      packSequences(withFixedBlocks(
        tokenCounts(s, dir).select($"doc_id", $"m").filter($"m" > 0)),
        512L, $"doc_id")
    },

    // Sequence packing over the SHUFFLED corpus order — real training
    // runs shuffle documents before packing so a sequence doesn't carry
    // long runs of one source. The shuffle is the replayable md5 order
    // (rand() replays differently per run/engine) and the two-phase
    // prefix sum survives it because the block key is the md5's leading
    // byte: hex-digit order matches numeric order, so blocks are exactly
    // contiguous 1/256 slices of the global (md5, doc_id) order and the
    // block-offset trick applies unchanged — 256 fixed blocks at any
    // corpus size, block offsets via the same window-free fold.
    "tx_pack_shuffled" -> { (s, dir) =>
      import s.implicits._
      val d = tokenCounts(s, dir)
        .select($"doc_id", $"m", md5($"doc_id".cast("string")).as("h"))
        .filter($"m" > 0)
        .withColumn("blk", conv(substring($"h", 1, 2), 16, 10).cast("long"))
      packSequences(d, 512L, $"h", $"doc_id")
    },

    // Domain MIXING — deterministic per-language downsampling to a
    // balanced token budget (the data-recipe step of a pretraining run:
    // re-weight domains so no language dominates). Target = the
    // smallest language's token total; each language keeps docs at rate
    // target/total via the replayable md5-residue coin (the
    // tx_sample_stratified device — rand() is not reproducible across
    // runs or engines). Rates enter the plan as a broadcast 5-row
    // table; the corpus is scanned once, the filter is a codegen'd
    // projection, and the only shuffles are the two tiny per-lang
    // rollups. At 100 TB the totals come from table statistics and the
    // rate table ships exactly the same way.
    "tx_mix" -> { (s, dir) =>
      import s.implicits._
      val toks = tokenCounts(s, dir)
      val tot = toks.groupBy($"lang").agg(sum($"m").as("lang_tok"))
      val minTot = tot.agg(min($"lang_tok").as("min_tok"))
      // double division of two exact BIGINTs → identical IEEE result in
      // the oracle; the coin compares hash48/2^48 (exact: 48 < 53 bits)
      val rates = tot.crossJoin(broadcast(minTot))
        .select($"lang",
          ($"min_tok".cast("double") / $"lang_tok".cast("double")).as("rate"))
      toks.join(broadcast(rates), "lang")
        .filter(QueryFns.hash48($"doc_id".cast("string")).cast("double")
          / lit(281474976710656.0) < $"rate")
        .groupBy($"lang", $"rate")
        .agg(count(lit(1)).as("n_docs"), sum($"m").as("n_tok"))
        .select($"lang", $"n_docs", $"n_tok", round($"rate", 6).as("rate"))
        .orderBy($"lang")
    },

    // Domain mixing, UPSAMPLING posture: every language is brought UP to
    // the largest language's token budget (the low-resource-language
    // Temperature-scaled mixture weights (the multilingual-pretraining
    // standard between tx_mix's equalize-down and tx_mix_upsample's
    // equalize-up): sampling share per language ∝ lang_tok^α with
    // α = MixTemperatureAlpha, so scarce languages are boosted toward —
    // but not all the way to — parity. A per-language meter: natural
    // share, temperature share, and the boost factor a sampler applies.
    // The Σ n^α fold runs over the lang-SORTED list (deterministic IEEE
    // order, same as the oracle's list_reduce); n_total is an exact
    // integer sum.
    "tx_mix_temperature" -> { (s, dir) =>
      import s.implicits._
      val tot = tokenCounts(s, dir).groupBy($"lang").agg(sum($"m").as("lang_tok"))
      tot.agg(sort_array(collect_list(struct($"lang", $"lang_tok"))).as("ls"))
        .select($"ls",
          aggregate($"ls", lit(0L),
            (a, t) => a + t.getField("lang_tok")).as("n_total"),
          aggregate($"ls", lit(0.0),
            (a, t) => a + pow(t.getField("lang_tok").cast("double"),
              lit(MixTemperatureAlpha))).as("pow_total"))
        .select(explode($"ls").as("t"), $"n_total", $"pow_total")
        .select($"t.lang".as("lang"), $"t.lang_tok".as("lang_tok"),
          round($"t.lang_tok".cast("double") / $"n_total".cast("double"), 4)
            .as("nat_share"),
          round(pow($"t.lang_tok".cast("double"), lit(MixTemperatureAlpha))
            / $"pow_total", 4).as("temp_share"),
          round((pow($"t.lang_tok".cast("double"), lit(MixTemperatureAlpha))
            / $"pow_total")
            / ($"t.lang_tok".cast("double") / $"n_total".cast("double")), 4)
            .as("boost"))
        .orderBy($"lang")
    },

    // recipe — multiple epochs over scarce data rather than discarding
    // abundant data). factor = max_total/total ≥ 1 splits into
    // floor(factor) full copies per doc plus one fractional copy
    // admitted by the same replayable md5 coin tx_mix uses; the explode
    // IS the amplified stream a downstream tokenizer would consume
    // (here rolled up into per-language accounting). floor() of an IEEE
    // double is exact in both engines, so replica counts are portable.
    "tx_mix_upsample" -> { (s, dir) =>
      import s.implicits._
      val toks = tokenCounts(s, dir)
      val tot = toks.groupBy($"lang").agg(sum($"m").as("lang_tok"))
      val maxTot = tot.agg(max($"lang_tok").as("max_tok"))
      val factors = tot.crossJoin(broadcast(maxTot))
        .select($"lang",
          ($"max_tok".cast("double") / $"lang_tok".cast("double")).as("f"))
      toks.join(broadcast(factors), "lang")
        .withColumn("n_rep", floor($"f") +
          when(QueryFns.hash48($"doc_id".cast("string")).cast("double")
            / lit(281474976710656.0) < $"f" - floor($"f"), 1L).otherwise(0L))
        .withColumn("rep", explode(sequence(lit(1L), $"n_rep")))
        .groupBy($"lang", $"f")
        .agg(count(lit(1)).as("n_docs"), sum($"m").as("n_tok"))
        .select($"lang", $"n_docs", $"n_tok", round($"f", 6).as("factor"))
        .orderBy($"lang")
    },

    // Dictionary redaction — the PII-scrub plumbing (emails/phones/SSNs in
    // a real corpus; this synthetic corpus has none, so the dictionary is
    // a term list standing in for the sensitive-pattern alternation).
    // Shuffle-free single-pass projection: one codegen'd regex automaton
    // per row for match counting + global replace; the scrubbed text
    // leaves the operator as an md5 so 100 TB of redacted text never
    // re-materializes through the gate. The pattern stays in the
    // Java-regex ∩ RE2 portable subset (\b + alternation, no lookaround).
    "tx_redact" -> { (s, dir) =>
      import s.implicits._
      val pat = "\\b(spark|customer|vector)\\b"
      Tables(s, dir).documents
        .select($"doc_id",
          regexp_count($"text", lit(pat)).cast("long").as("n_hits"),
          md5(regexp_replace($"text", pat, "[X]")).as("redacted_md5"),
          length(regexp_replace($"text", pat, "[X]")).cast("long")
            .as("redacted_len"))
        .orderBy($"doc_id")
    },

    // Gopher-style quality-rule battery (Rae et al. 2021, "Scaling
    // Language Models", appendix A — the MassiveText document filters;
    // public). Each rule emits its measured statistic AND a 0/1 flag;
    // `keep` = every rule passes. Shuffle-free narrow projection like
    // the rest of the family; rule flags are `when(...).otherwise(0)`
    // so a NULL statistic (token-free doc) fails the rule on both
    // engines instead of propagating NULL.
    "tx_gopher_rules" -> { (s, dir) =>
      import s.implicits._
      val toks = $"toks"
      val lines = $"lines"
      val flag = (c: Column) => when(c, lit(1L)).otherwise(lit(0L))
      Tables(s, dir).documents
        .select($"doc_id", $"text",
          wsTokens($"text").as("toks"),
          split($"text", "\n", -1).as("lines"))
        .select(
          $"doc_id",
          size(toks).cast("long").as("n_words"),
          aggregate(transform(toks, t => length(t)), lit(0L), (a, b) => a + b)
            .as("tok_chars"),
          (length($"text") - length(replace($"text", lit("#"), lit(""))))
            .cast("long").as("n_hash"),
          ((length($"text") - length(replace($"text", lit("..."), lit("")))) / lit(3))
            .cast("long").as("n_dots"),
          size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
          size(lines).cast("long").as("n_lines"),
          size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long").as("n_bullet"),
          size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$"))).cast("long").as("n_ellline"),
          size(array_distinct(filter(transform(toks, t => lower(t)),
            t => t.isInCollection(GopherStop)))).cast("long").as("n_req_stop"))
        .select(
          $"doc_id", $"n_words",
          round($"tok_chars".cast("double") / nullif($"n_words", lit(0L)), 4)
            .as("mean_word_len"),
          round(($"n_hash" + $"n_dots").cast("double") / nullif($"n_words", lit(0L)), 4)
            .as("symbol_ratio"),
          round($"n_alpha".cast("double") / nullif($"n_words", lit(0L)), 4)
            .as("alpha_ratio"),
          round($"n_bullet".cast("double") / $"n_lines", 4).as("bullet_ratio"),
          round($"n_ellline".cast("double") / $"n_lines", 4).as("ellipsis_ratio"),
          $"n_req_stop")
        .select(
          $"doc_id", $"n_words", $"mean_word_len", $"symbol_ratio",
          $"alpha_ratio", $"bullet_ratio", $"ellipsis_ratio", $"n_req_stop",
          flag($"n_words".between(50L, 100000L)).as("r_wc"),
          flag($"mean_word_len".between(3.0, 10.0)).as("r_mwl"),
          flag($"symbol_ratio" <= 0.1).as("r_sym"),
          flag($"bullet_ratio" <= 0.9).as("r_bullet"),
          flag($"ellipsis_ratio" <= 0.3).as("r_ell"),
          flag($"alpha_ratio" >= 0.8).as("r_alpha"),
          flag($"n_req_stop" >= 2L).as("r_stop"))
        .withColumn("keep",
          ($"r_wc" * $"r_mwl" * $"r_sym" * $"r_bullet" * $"r_ell"
            * $"r_alpha" * $"r_stop").as("keep"))
        .orderBy($"doc_id")
    },

    // CCNet-style LM fluency scoring (Wenzek et al. 2020, "CCNet:
    // Extracting High Quality Monolingual Datasets from Web Crawl
    // Data" — public): score every document by its average token
    // log-probability under the corpus's own unigram LM (the
    // perplexity proxy; CCNet uses a KenLM 5-gram, the plan shape is
    // identical). Two artifacts are staged once per corpus — the
    // term-frequency table and the unigram model — then scoring is one
    // broadcast join + one doc_id shuffle. Docs with zero tokens carry
    // no distribution and are absent, like tx_decontaminate.
    "tx_unigram_logprob" -> { (s, dir) =>
      import s.implicits._
      docLogprob(s, dir)
        .select($"doc_id", $"n_tok", $"avg_logprob")
        .orderBy($"doc_id")
    },

    // The CCNet head/middle/tail split: per language, rank documents by
    // LM score (desc — head is the most fluent third) and cut into
    // three ntile buckets; emit per-bucket accounting. This is the
    // actual CCNet data-release layout (each language ships as
    // head/middle/tail shards). Bucket assignment orders by the
    // ROUNDED score (gate-pinned by tx_unigram_logprob) with doc_id
    // tie-break, so the cut is deterministic on both engines; bucket
    // stats are count/int-sum/min/max — all order-independent.
    "tx_ccnet_buckets" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"avg_logprob".desc, $"doc_id")
      docLogprob(s, dir)
        .withColumn("b", ntile(3).over(w))
        .withColumn("bucket",
          when($"b" === 1, "head").when($"b" === 2, "middle").otherwise("tail"))
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tok"),
          min($"avg_logprob").as("min_lp"), max($"avg_logprob").as("max_lp"))
        .orderBy($"lang", $"bucket")
    },

    // Interpolated bigram LM score — the KenLM-shaped upgrade of the
    // unigram proxy: per doc, the mean over adjacent token pairs of
    // ln(λ·P(w2|w1) + (1−λ)·P_addone(w2)), against the STAGED corpus
    // bigram model. Docs with <2 tokens have no pairs and drop out on
    // both engines.
    "tx_bigram_logprob" -> { (s, dir) =>
      import s.implicits._
      docBigramLogprob(s, dir)
        .select($"doc_id", $"lang", $"n_big", $"avg_logprob")
        .orderBy($"doc_id")
    },

    // Per-source frequency cap (the RefinedWeb/C4 domain-cap shape):
    // keep at most SourceCapK docs per source, chosen by portable
    // doc-id hash so the sample is stable across runs and engines. One
    // bounded-heap GroupedTopK per source — each map task ships ≤ K
    // rows per source, so at 100 TB the shuffle is O(sources × K),
    // never a per-source sort of the corpus.
    "tx_source_cap" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).documents
        .select($"source", $"doc_id",
          (-tokHash($"doc_id".cast("string")).cast("double")).as("ord"))
        .groupBy($"source")
        .agg(graft.functions.GroupedTopK.groupedTopK(
          $"ord", $"doc_id", SourceCapK).as("top"))
        .select($"source", posexplode($"top").as(Seq("pos", "t")))
        .select($"source", ($"pos" + 1).as("rk"), $"t.id".as("doc_id"))
        .orderBy($"source", $"rk")
    },

    // The learned BPE merge table — the tokenizer-training half of the
    // pipeline (the reference's analogue of a corpus-derived artifact;
    // token COUNTING under a fixed tokenizer is tx_token_count). Each
    // round costs one vocab-bounded aggregation, never a corpus pass.
    "tx_bpe_merges" -> { (s, dir) =>
      import s.implicits._
      bpeArtifacts(s, dir)._1.orderBy($"rank")
    },

    // The trained tokenizer applied: segmentation of the most frequent
    // words after all merge rounds (deterministic top cut by
    // count desc, word asc).
    "tx_bpe_segment" -> { (s, dir) =>
      import s.implicits._
      bpeArtifacts(s, dir)._2
        .select($"word", $"cnt", size($"syms").as("n_sym"),
          array_join($"syms", " ").as("seg"))
        .orderBy($"cnt".desc, $"word").limit(BpeTopWords)
    },

    // Token accounting under the TRAINED tokenizer — what the budget /
    // packing / mixing queries would consume if they billed in BPE
    // tokens instead of whitespace tokens: per doc, whitespace tokens
    // that segment (alphabetic → their symbol count via one equi-join
    // against the staged segmentation vocab, broadcast at gate scale)
    // plus passthrough tokens billed at 1. The join is on the WORD, so
    // at 100 TB it degrades to a shuffle equi-join like every LM join.
    "tx_bpe_token_count" -> { (s, dir) =>
      import s.implicits._
      bpeDocCounts(s, dir).orderBy($"doc_id")
    },

    // Sequence packing billed in TRAINED-tokenizer tokens — the tx_pack
    // two-phase block prefix sum with per-doc BPE counts as the
    // lengths: what the training-prep layout actually looks like once a
    // tokenizer exists (whitespace-billed packing over- or under-fills
    // sequences by the segmentation ratio). Same plan shape: ≤256 fixed
    // blocks, window-free block offsets, partitioned within-block
    // cumsum.
    "tx_bpe_pack" -> { (s, dir) =>
      import s.implicits._
      packSequences(withFixedBlocks(
        bpeDocCounts(s, dir).select($"doc_id", $"n_bpe".as("m")).filter($"m" > 0)),
        512L, $"doc_id")
    },

    // The publish manifest of the curated corpus: per output partition
    // (lang), doc count, token count, and an ORDER-INDEPENDENT content
    // checksum (modular sum of per-doc 48-bit md5-prefix hashes mod
    // 2^61-1, QueryFns.checksumAgg — commutative, so any partition/file
    // layout of the same rows certifies the same value, and the
    // explicit modulus keeps the definition engine-portable at ANY doc
    // count: a plain BIGINT sum wraps past ~2^15 docs/lang on Spark
    // while DuckDB sums in HUGEINT). graft.io.CorpusSink writes exactly
    // these rows as the data's commit manifest, pinned row-for-row by
    // CorpusSinkSpec — this query is the oracle-checked definition of
    // what a published snapshot must contain.
    "tx_curation_manifest" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).documents
        .select($"doc_id", $"lang", hash48($"text").as("h"))
        .join(curationSurvivors(s, dir).select($"doc_id", $"m"), "doc_id")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"m").as("n_tok"),
          QueryFns.checksumAgg($"h").as("checksum"))
        .orderBy($"lang")
    },

    // The corpus data card: per (source, lang) cell plus ROLLUP
    // subtotals — doc counts, token counts (from the staged
    // token-accounting table), and exact-dup counts (docs that lose
    // their content-hash group to a smaller doc_id). The per-snapshot
    // report a curation run publishes; one aggregation over
    // pre-staged inputs, output bounded by sources × langs.
    "tx_corpus_report" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir).documents
        .select($"doc_id", $"source", $"lang", md5($"text").as("fp"))
      val keep = docs.groupBy($"fp").agg(min($"doc_id").as("keep_id"))
      docs.join(keep, Seq("fp"))
        .select($"source", $"lang", $"doc_id",
          ($"doc_id" =!= $"keep_id").cast("long").as("is_dup"))
        .join(tokenCounts(s, dir).select($"doc_id", $"m"), Seq("doc_id"))
        .rollup($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"m").as("n_tok"),
          sum($"is_dup").as("n_exact_dup"))
        .select(coalesce($"source", lit("ALL")).as("source"),
          coalesce($"lang", lit("ALL")).as("lang"),
          $"n_docs", $"n_tok", $"n_exact_dup")
        .orderBy($"source", $"lang")
    },

    // Corpus vocabulary accounting over the staged unigram LM — the
    // summary a curation run reports per snapshot: type/token counts,
    // hapax mass (OOV-rate proxy), and how much of the corpus the 100
    // most frequent types cover (Zipf head mass). All statistics are
    // integer counts or one exact integer ratio, so no float-sum
    // portability risk; the top-100 cut is a global TakeOrdered
    // (cnt desc, word tie-break — deterministic), never a full sort.
    // DSIR importance weights per document: positive avg_logw = the
    // document looks more like the target domain (lang = DsirTargetLang)
    // than like the raw corpus under smoothed unigram LMs. The data-
    // selection half of the pretraining pipeline (cf. tx_mix, which
    // reweights AFTER selection).
    "tx_dsir_weights" -> { (s, dir) =>
      import s.implicits._
      dsirWeightsRaw(s, dir)
        .select($"doc_id", $"lang", $"n_tok",
          // + 0.0 canonicalizes IEEE -0.0 (DuckDB round keeps the sign,
          // Spark's BigDecimal round cannot represent it)
          (round($"avg_raw", 4) + 0.0).as("avg_logw"))
        .orderBy($"doc_id")
    },

    // The selection itself: global top-DsirSelectK by (weight desc,
    // doc_id) via a single bounded-heap GroupedTopK — each map task
    // ships at most K rows, no global sort; the K winners broadcast-join
    // back for their attributes. Rank is computed on the UNROUNDED
    // weight (ties → smaller doc_id), the emitted weight is rounded.
    "tx_dsir_select" -> { (s, dir) =>
      import s.implicits._
      val w = dsirWeightsRaw(s, dir)
      val top = w.groupBy(lit(1).as("g"))
        .agg(graft.functions.GroupedTopK.groupedTopK(
          $"avg_raw", $"doc_id", DsirSelectK).as("top"))
        .select(posexplode($"top").as(Seq("pos", "t")))
        .select(($"pos" + 1).as("rank"), $"t.id".as("doc_id"))
      top.join(w, "doc_id")
        .select($"doc_id", $"rank", $"lang",
          (round($"avg_raw", 4) + 0.0).as("avg_logw"))
        .orderBy($"rank")
    },

    // Greedy data selection under a TOKEN BUDGET (the recipe question
    // "give me the best 20% of the corpus by target affinity"):
    // histogram the DSIR weight at BudgetBinScale granularity, admit
    // bins from the top until the next would overflow the budget, keep
    // every doc at or above that threshold bin. NO global sort of the
    // corpus — the only window runs over the value-range-bounded
    // histogram (the tx_pack two-phase discipline applied to
    // selection). Threshold granularity is the documented semantics:
    // the boundary bin is admitted whole or not at all.
    "tx_budget_select" -> { (s, dir) =>
      import s.implicits._
      // r17 optimization: the scored-doc frame feeds THREE consumers
      // (budget scalar, bin histogram, final selection) and each used to
      // re-run the full DSIR scoring pass (tf join + per-doc fold) —
      // materialize it once; doc-count-sized narrow rows.
      val wb = dsirWeightsRaw(s, dir)
        .select($"doc_id", $"lang", $"n_tok",
          floor($"avg_raw" * BudgetBinScale).cast("long").as("bin"))
        .localCheckpoint()
      val tot = wb.agg(
        floor(sum($"n_tok") / BudgetDivisor).cast("long").as("budget"))
      // Cumulative mass from the top bin down, folded over ONE array row
      // (bins are score-granularity-bounded, not corpus-sized) — same
      // numbers as the former `sum().over(orderBy(bin.desc))` but with
      // no unpartitioned window anywhere in the plan.
      val hist = wb.groupBy($"bin").agg(sum($"n_tok").as("mass"))
      val thr = hist.crossJoin(broadcast(tot))
        .agg(reverse(sort_array(collect_list(struct($"bin", $"mass")))).as("bs"),
          first($"budget").as("budget"))
        .select(expr(
          "array_min(transform(filter(transform(bs, (x, i) -> " +
            "struct(x.bin as bin, aggregate(slice(bs, 1, i + 1), 0L, " +
            "(a, e) -> a + e.mass) as cmass)), " +
            "y -> y.cmass <= budget), z -> z.bin))").as("thr_bin"))
      wb.crossJoin(broadcast(thr)).filter($"bin" >= $"thr_bin")
        .crossJoin(broadcast(tot))
        .groupBy($"lang", $"budget", $"thr_bin")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_sel_tok"))
        .select($"lang", $"n_docs", $"n_sel_tok", $"budget", $"thr_bin")
        .orderBy($"lang")
    },

    // The at-scale DSIR form: hashed bigram features (fixed 4096-bucket
    // space) instead of the unbounded word vocabulary. Docs with fewer
    // than 2 tokens carry no features and drop out on both engines.
    "tx_dsir_hashed" -> { (s, dir) =>
      import s.implicits._
      dsirHashedRaw(s, dir)
        .select($"doc_id", $"lang", $"n_big",
          (round($"avg_raw", 4) + 0.0).as("avg_logw"))
        .orderBy($"doc_id")
    },

    "tx_vocab_stats" -> { (s, dir) =>
      import s.implicits._
      val v = unigramLm(s, dir)
      val top = v.orderBy($"cnt".desc, $"word").limit(100)
        .agg(sum($"cnt").as("top100"))
      v.agg(count(lit(1)).as("n_types"), sum($"cnt").as("n_tokens"),
        sum(when($"cnt" === 1, 1L).otherwise(0L)).as("hapax_types"),
        max($"cnt").as("max_cnt"))
        .crossJoin(broadcast(top))
        .select($"n_types", $"n_tokens", $"hapax_types", $"max_cnt",
          round($"top100".cast("double") / $"n_tokens", 6).as("top100_mass"))
    },

    // Token-distribution Shannon entropy per document (bits) — the
    // gibberish/boilerplate quality signal (near-zero entropy = one
    // token repeated; the complement of tx_repetition's n-gram view).
    // H = ln m − (Σ n·ln n)/m, in ln-2 units: the Σ n·ln n term folds
    // over the word-sorted term list (deterministic IEEE order), the
    // rest is per-row arithmetic. One doc_id shuffle over the staged
    // term-frequency table; nothing pairwise, nothing corpus-global.
    "tx_entropy" -> { (s, dir) =>
      import s.implicits._
      termFreqs(s, dir)
        .groupBy($"doc_id")
        .agg(sum($"n").as("m"), count(lit(1)).as("n_distinct"),
          sort_array(collect_list(struct($"word", $"n"))).as("terms"))
        .withColumn("ssum", aggregate($"terms", lit(0.0),
          (acc, t) => acc + t.getField("n").cast("double")
            * log(t.getField("n").cast("double"))))
        .select($"doc_id", $"m".as("n_tok"),
          $"n_distinct".cast("long").as("n_distinct"),
          round((log($"m".cast("double")) - $"ssum" / $"m") / log(lit(2.0)), 4)
            .as("entropy_bits"))
        .orderBy($"doc_id")
    },

    // Corpus-generation DRIFT monitor — the rebuild-cadence instrument:
    // Jensen-Shannon divergence between the stored generation's
    // (doc_id % 5 != 0) and the incoming batch's (% 5 == 0) unigram
    // token distributions, with the top drift-contributing tokens.
    // Each token's JS contribution is rounded to 6 decimals and the
    // total is a DECIMAL sum (the family's exact-decimal discipline);
    // p, q are single IEEE divisions of exact counts, so only ln() is
    // engine-sensitive and the 6-dec round absorbs it. One token pass,
    // one vocabulary-keyed aggregation, two broadcast scalar totals —
    // nothing corpus-pairwise.
    "tx_corpus_drift" -> { (s, dir) =>
      import s.implicits._
      val c = driftContrib(s, dir)
      c.agg(count(lit(1)).as("n_vocab_union"),
          sum(($"cold" > 0).cast("long")).as("n_vocab_old"),
          sum(($"cnew" > 0).cast("long")).as("n_vocab_new"),
          sum($"c".cast("decimal(18,6)")).cast("double").as("js"))
        .select($"n_vocab_union", $"n_vocab_old", $"n_vocab_new", $"js")
    },

    // The drill-down: top-20 tokens by JS contribution — what moved.
    "tx_drift_tokens" -> { (s, dir) =>
      import s.implicits._
      driftContrib(s, dir)
        .select($"word", round($"p", 6).as("p"), round($"q", 6).as("q"), $"c")
        .orderBy($"c".desc, $"word")
        .limit(20)
    }
  )

  /** Per-token JS-divergence contributions between the two splits:
    * (word, cold, cnew, p, q, c) with c = round(0.5·p·ln(p/m) +
    * 0.5·q·ln(q/m), 6), m = (p+q)/2, and the 0·ln(0) = 0 convention
    * for one-sided tokens.
    */
  private def driftContrib(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables(s, dir).documents
      .select($"doc_id", explode(wsTokens(lower($"text"))).as("word"))
      .groupBy($"word")
      .agg(sum(($"doc_id" % 5 =!= 0).cast("long")).as("cold"),
        sum(($"doc_id" % 5 === 0).cast("long")).as("cnew"))
    val tot = counts.agg(sum($"cold").as("told"), sum($"cnew").as("tnew"))
    // empty-split guard: a degenerate corpus (one side of the %5 split
    // holds zero tokens) makes cold/told = 0/0 = NaN and js = NaN, and
    // the engines' division-by-zero semantics differ. Define the empty
    // side as the all-zero distribution instead (p = 0 for every word):
    // js then reads the MAX one-sided divergence ln(2)/2 — a defined,
    // engine-identical value. Mirrored in DriftCte.
    counts.crossJoin(broadcast(tot))
      .select($"word", $"cold", $"cnew",
        when($"told" > 0, $"cold".cast("double") / $"told")
          .otherwise(lit(0.0)).as("p"),
        when($"tnew" > 0, $"cnew".cast("double") / $"tnew")
          .otherwise(lit(0.0)).as("q"))
      .withColumn("m", ($"p" + $"q") / 2)
      .withColumn("c", round(
        when($"p" > 0, $"p" * (log($"p") - log($"m")) / 2).otherwise(lit(0.0))
          + when($"q" > 0, $"q" * (log($"q") - log($"m")) / 2).otherwise(lit(0.0)),
        6))
  }

  /** The Gopher required-stopword list (rule: a kept document contains
    * ≥2 distinct items). Shared with the oracle SQL.
    */
  private val GopherStop =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Word n-grams (ordered, with repeats) over an already-MATERIALIZED
    * token array attribute. Shared with [[Dedup]]'s duplicated-passage
    * detector. `toks` must come from a prior projection, never an inline
    * `wsTokens(text)`: an expression substituted into the lambda is
    * re-evaluated per element, so the whole-document SPLIT would run
    * once per gram — O(tokens²). The synthetic 60-token docs never
    * exposed that; a 100k-token real book re-split 600 KB per window
    * and turned the front end into hours. With a materialized attribute
    * the lambda's `slice` is an O(n) array read, and CollapseProject
    * keeps the split from being inlined back (the array is referenced
    * more than once).
    */
  private[queries] def wordGrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  private def stopList(lang: String): String =
    stop(lang).map(w => s"'$w'").mkString("(", ",", ")")

  /** End-to-end curation pipeline: exact-dedup (keep smallest doc_id per
    * content hash) → quality gate → per-language token accounting. The
    * composition a 100 TB pretraining-data run executes, as one plan:
    * Catalyst fuses the projections; the only shuffles are the dedup
    * group-by and the final per-language rollup.
    */
  private def curationPipeline(s: SparkSession, dir: String) = {
    import s.implicits._
    val toks = $"toks" // tokenized once below; two expressions read it
    val docs = graft.core.Tables(s, dir).documents
      .select($"doc_id", $"lang", $"text", md5($"text").as("fp"))
    val keep = docs.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
    docs.join(keep, Seq("fp", "doc_id"), "left_semi")
      .select($"doc_id", $"lang", wsTokens($"text").as("toks"))
      .select($"doc_id", $"lang",
        size(toks).as("n_tok"),
        scoreIn(toks, stop("en")).as("n_stop"))
      .withColumn("quality",
        round(least(lit(1.0), $"n_tok".cast("double") / 50.0) * 0.5
          + least(lit(1.0), $"n_stop".cast("double") * 10.0 / $"n_tok") * 0.5, 4))
      .filter($"quality" >= 0.7)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("total_tokens"))
      .orderBy($"lang")
  }

  /** Decontamination oracle — shared verbatim by tx_decontaminate and
    * tx_decontaminate_bloom (the bloom route is exact end-to-end).
    */
  private val DeconSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 4
      |    THEN list_transform(range(1, len(toks) - 2),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |              toks[i+3])
      |    ELSE [] END) AS gs
      |  FROM t),
      |g AS (SELECT doc_id, unnest(gs) AS g FROM g0),
      |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
      |shared AS (
      |  SELECT tr.doc_id, count(*) AS n_shared
      |  FROM g tr JOIN ev ON tr.g = ev.g
      |  WHERE tr.doc_id % 97 <> 0 GROUP BY tr.doc_id),
      |sz AS (SELECT doc_id, len(gs) AS n_grams FROM g0 WHERE doc_id % 97 <> 0)
      |SELECT s.doc_id, s.n_shared, z.n_grams,
      |  round(CAST(s.n_shared AS DOUBLE) / z.n_grams, 6) AS overlap_ratio
      |FROM shared s JOIN sz z ON z.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** Term-frequency CTE over lowercased whitespace tokens — the oracle
    * twin of [[termFreqs]], shared by the LM-scoring family.
    */
  private val TfCte =
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '')) AS word
      |  FROM documents),
      |tf AS (SELECT doc_id, lang, word, count(*) AS n
      |       FROM tok GROUP BY 1, 2, 3)""".stripMargin

  /** Unigram-LM scoring CTE chain (appended after [[TfCte]]): the
    * oracle twin of [[docLogprob]]. The fold replays Spark's
    * word-sorted sequential double sum exactly (`list_reduce` over
    * `list(... ORDER BY word)` with a prepended 0.0).
    */
  private val LpCte =
    s"""$TfCte,
       |vocab AS (SELECT word, CAST(sum(n) AS BIGINT) AS cnt
       |          FROM tf GROUP BY word),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vocab),
       |terms AS (
       |  SELECT tf.doc_id, tf.lang, CAST(sum(tf.n) AS BIGINT) AS m,
       |    list(struct_pack(word := tf.word, n := tf.n, cnt := v.cnt)
       |         ORDER BY tf.word) AS terms
       |  FROM tf JOIN vocab v USING (word) GROUP BY tf.doc_id, tf.lang),
       |lp AS (
       |  SELECT doc_id, lang, m AS n_tok,
       |    round(list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(terms, t -> t.n::DOUBLE
       |        * (ln(t.cnt::DOUBLE) - ln(tot.n_total::DOUBLE)))),
       |      (a, b) -> a + b) / m, 4) AS avg_logprob
       |  FROM terms CROSS JOIN tot)""".stripMargin

  /** Oracle twin of [[dsirWeightsRaw]]: smoothed target/raw unigram
    * log-ratio per word, folded over the word-sorted per-doc term list
    * with the exact parenthesization of the Scala fold.
    */
  private val DwCte =
    s"""$TfCte,
       |vocab AS (SELECT word, CAST(sum(n) AS BIGINT) AS cnt
       |          FROM tf GROUP BY word),
       |tvocab AS (SELECT word, CAST(sum(n) AS BIGINT) AS tcnt
       |           FROM tf WHERE lang = '$DsirTargetLang' GROUP BY word),
       |ratio AS (
       |  SELECT v.word, v.cnt, COALESCE(t.tcnt, CAST(0 AS BIGINT)) AS tcnt
       |  FROM vocab v LEFT JOIN tvocab t USING (word)),
       |geo AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_raw,
       |               CAST(count(*) AS BIGINT) AS v_size,
       |               CAST(sum(tcnt) AS BIGINT) AS n_tgt
       |        FROM ratio),
       |dterms AS (
       |  SELECT tf.doc_id, tf.lang, CAST(sum(tf.n) AS BIGINT) AS m,
       |    list(struct_pack(word := tf.word, n := tf.n,
       |                     tcnt := r.tcnt, cnt := r.cnt)
       |         ORDER BY tf.word) AS terms
       |  FROM tf JOIN ratio r USING (word) GROUP BY tf.doc_id, tf.lang),
       |dw AS (
       |  SELECT doc_id, lang, m AS n_tok,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(terms, t -> t.n::DOUBLE *
       |        ((ln((t.tcnt + 1)::DOUBLE) - ln((geo.n_tgt + geo.v_size)::DOUBLE))
       |         - (ln((t.cnt + 1)::DOUBLE) - ln((geo.n_raw + geo.v_size)::DOUBLE))))),
       |      (a, b) -> a + b) / m AS avg_raw
       |  FROM dterms CROSS JOIN geo)""".stripMargin

  /** Oracle CTE chain that RE-TRAINS the BPE merge table: alphabetic
    * vocab with counts, each word bracket-encoded (`[t][h][e]`), then
    * [[BpeMerges]] generated rounds of weighted pair count → argmax by
    * (count desc, pair asc) → greedy merge via non-overlapping
    * left-to-right `replace`. `bmerges` is the merge table, `bsfin`
    * the final segmentations.
    */
  private val BpeCte: String = {
    val header =
      """WITH btokw AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '')) AS word
        |  FROM documents),
        |bw AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM btokw
        |  WHERE regexp_matches(word, '^[a-z]+$')
        |    AND len(word) <= MAXWORDLEN GROUP BY word),
        |bs0 AS (
        |  SELECT word, cnt, regexp_replace(word, '(.)', '[\1]', 'g') AS s
        |  FROM bw)""".stripMargin
        .replace("MAXWORDLEN", BpeMaxWordLen.toString)
    def round(k: Int) =
      s"""bt$k AS (
         |  SELECT word, cnt,
         |    string_split(substr(s, 2, len(s) - 2), '][') AS t, s
         |  FROM bs${k - 1}),
         |bp$k AS (
         |  SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM bt$k, (SELECT unnest(range(1, ${BpeMaxWordLen + 1})) AS i) p
         |  WHERE i < len(t) GROUP BY a, b),
         |bb$k AS (SELECT a, b, c FROM bp$k ORDER BY c DESC, a, b LIMIT 1),
         |bs$k AS (
         |  SELECT word, cnt,
         |    CASE WHEN b.a IS NULL THEN t.s
         |         ELSE replace(t.s, '[' || b.a || '][' || b.b || ']',
         |           '[' || b.a || b.b || ']') END AS s
         |  FROM bt$k t LEFT JOIN bb$k b ON TRUE),
         |bm$k AS (SELECT $k AS rank, a AS sym1, b AS sym2, c AS cnt
         |         FROM bb$k)""".stripMargin
    (header +: (1 to BpeMerges).map(round)).mkString(",\n") +
      s",\nbmerges AS (${(1 to BpeMerges)
        .map(k => s"SELECT * FROM bm$k").mkString(" UNION ALL ")}),\n" +
      s"bsfin AS (SELECT word, cnt, s FROM bs$BpeMerges)"
  }

  def oracle: Map[String, String] = Map(
    "tx_unigram_logprob" ->
      s"""$LpCte
         |SELECT doc_id, n_tok, avg_logprob FROM lp ORDER BY doc_id""".stripMargin,

    "tx_ccnet_buckets" ->
      s"""$LpCte,
         |b AS (
         |  SELECT lang, n_tok, avg_logprob,
         |    ntile(3) OVER (PARTITION BY lang
         |      ORDER BY avg_logprob DESC, doc_id) AS b
         |  FROM lp)
         |SELECT lang,
         |  CASE WHEN b = 1 THEN 'head' WHEN b = 2 THEN 'middle'
         |       ELSE 'tail' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
         |  min(avg_logprob) AS min_lp, max(avg_logprob) AS max_lp
         |FROM b GROUP BY lang, b ORDER BY lang, bucket""".stripMargin,

    // Oracle twin of docBigramLogprob: same tail-zip pairs, same
    // interpolation expression (λ interpolated from the one Scala
    // constant), same (w1, w2)-sorted sequential fold.
    "tx_bigram_logprob" ->
      s"""$TfCte,
         |uvocab AS (SELECT word, CAST(sum(n) AS BIGINT) AS cnt
         |           FROM tf GROUP BY word),
         |bgeo AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
         |                CAST(count(*) AS BIGINT) AS v_size FROM uvocab),
         |btok AS (
         |  SELECT doc_id, lang,
         |    list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x <> '') AS t
         |  FROM documents),
         |bpair AS (
         |  SELECT doc_id, lang,
         |    unnest(list_transform(range(1, len(t)),
         |      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
         |  FROM btok),
         |bf AS (
         |  SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2, count(*) AS n
         |  FROM bpair GROUP BY 1, 2, 3, 4),
         |blm AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS cnt
         |        FROM bf GROUP BY 1, 2),
         |bterms AS (
         |  SELECT bf.doc_id, bf.lang, CAST(sum(bf.n) AS BIGINT) AS m,
         |    list(struct_pack(w1 := bf.w1, w2 := bf.w2, n := bf.n,
         |                     cnt := l.cnt, c1 := u1.cnt, c2 := u2.cnt)
         |         ORDER BY bf.w1, bf.w2) AS terms
         |  FROM bf JOIN blm l ON l.w1 = bf.w1 AND l.w2 = bf.w2
         |          JOIN uvocab u1 ON u1.word = bf.w1
         |          JOIN uvocab u2 ON u2.word = bf.w2
         |  GROUP BY bf.doc_id, bf.lang),
         |blp AS (
         |  SELECT doc_id, lang, m AS n_big,
         |    round(list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(terms, t -> t.n::DOUBLE *
         |        ln($BigramLambda::DOUBLE * (t.cnt::DOUBLE / t.c1::DOUBLE)
         |           + (1.0::DOUBLE - $BigramLambda::DOUBLE)
         |             * ((t.c2 + 1)::DOUBLE
         |               / (bgeo.n_total + bgeo.v_size)::DOUBLE)))),
         |      (a, b) -> a + b) / m, 4) AS avg_logprob
         |  FROM bterms CROSS JOIN bgeo)
         |SELECT doc_id, lang, n_big, avg_logprob FROM blp
         |ORDER BY doc_id""".stripMargin,

    // Oracle twin of tx_source_cap: same portable md5-prefix hash of
    // the stringified doc_id, same (hash, doc_id) rank, same cap.
    "tx_source_cap" ->
      s"""WITH h AS (
         |  SELECT source, doc_id,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY hv, doc_id) AS rk
         |  FROM h)
         |SELECT source, rk, doc_id FROM r WHERE rk <= $SourceCapK
         |ORDER BY source, rk""".stripMargin,

    // Oracle twins of the BPE trainer: BpeCte re-trains the merge table
    // with the same generated round count; bracket-encoded greedy
    // replace ≡ the Spark array fold (brackets make adjacent matches
    // share no characters, so non-overlapping left-to-right replace IS
    // the greedy merge).
    "tx_bpe_merges" ->
      s"""$BpeCte
         |SELECT rank, sym1, sym2, cnt FROM bmerges ORDER BY rank""".stripMargin,

    "tx_bpe_segment" ->
      s"""$BpeCte
         |SELECT word, cnt,
         |  len(string_split(substr(s, 2, len(s) - 2), '][')) AS n_sym,
         |  replace(substr(s, 2, len(s) - 2), '][', ' ') AS seg
         |FROM bsfin ORDER BY cnt DESC, word LIMIT $BpeTopWords""".stripMargin,

    "tx_bpe_token_count" ->
      s"""$BpeCte,
         |bsym AS (
         |  SELECT word,
         |    CAST(len(string_split(substr(s, 2, len(s) - 2), '][')) AS BIGINT)
         |      AS n_sym
         |  FROM bsfin),
         |bdt AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x <> '')) AS word
         |  FROM documents)
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_ws,
         |  CAST(sum(COALESCE(y.n_sym, 1)) AS BIGINT) AS n_bpe
         |FROM bdt d LEFT JOIN bsym y USING (word)
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // tx_pack's cumsum with per-doc BPE counts as the lengths
    "tx_bpe_pack" ->
      s"""$BpeCte,
         |bsym AS (
         |  SELECT word,
         |    CAST(len(string_split(substr(s, 2, len(s) - 2), '][')) AS BIGINT)
         |      AS n_sym
         |  FROM bsfin),
         |bdt AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x <> '')) AS word
         |  FROM documents),
         |bdc AS (
         |  SELECT d.doc_id, CAST(sum(COALESCE(y.n_sym, 1)) AS BIGINT) AS m
         |  FROM bdt d LEFT JOIN bsym y USING (word)
         |  GROUP BY d.doc_id),
         |bo AS (
         |  SELECT doc_id, m,
         |    CAST(COALESCE(SUM(m) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS off
         |  FROM bdc WHERE m > 0),
         |bx AS (
         |  SELECT doc_id, m, off,
         |    unnest(range(off // 512, (off + m - 1) // 512 + 1)) AS s
         |  FROM bo)
         |SELECT CAST(s AS BIGINT) AS seq_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(least(off + m, (s + 1) * 512) - greatest(off, s * 512))
         |    AS BIGINT) AS n_tok,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM bx GROUP BY s ORDER BY seq_id""".stripMargin,

    // Oracle twin of tx_curation_manifest: same survivor set as the
    // curation family (exact-dedup keep-min + m > 0 + quality ≥ 0.7),
    // same 48-bit md5-prefix checksum sum.
    "tx_curation_manifest" ->
      s"""WITH docs AS (
         |  SELECT doc_id, lang, text, md5(text) AS fp FROM documents),
         |keep AS (SELECT fp, min(doc_id) AS doc_id FROM docs GROUP BY fp),
         |kept AS (
         |  SELECT d.doc_id, d.lang, d.text,
         |    list_filter(string_split_regex(d.text, '\\s+'), t -> t <> '') AS toks
         |  FROM docs d JOIN keep k ON d.fp = k.fp AND d.doc_id = k.doc_id),
         |mm AS (
         |  SELECT doc_id, lang, text, len(toks) AS m,
         |    len(list_filter(toks, t -> t IN ${stopList("en")})) AS n_stop
         |  FROM kept),
         |sv AS (
         |  SELECT * FROM mm WHERE m > 0
         |    AND round(least(1.0, CAST(m AS DOUBLE) / 50.0) * 0.5
         |      + least(1.0, CAST(n_stop AS DOUBLE) * 10.0 / m) * 0.5, 4) >= 0.7)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(m) AS BIGINT) AS n_tok,
         |  CAST(sum(('0x' || substr(md5(text), 1, 12))::BIGINT)
         |    % ${QueryFns.ChecksumMod} AS BIGINT) AS checksum
         |FROM sv GROUP BY lang ORDER BY lang""".stripMargin,

    // Oracle twin of tx_corpus_report: same content-hash dup flag,
    // same token counts, same ROLLUP with 'ALL' totals.
    "tx_corpus_report" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang, md5(text) AS fp,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS m
        |  FROM documents),
        |keep AS (SELECT fp, min(doc_id) AS keep_id FROM d GROUP BY fp)
        |SELECT COALESCE(d.source, 'ALL') AS source,
        |  COALESCE(d.lang, 'ALL') AS lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(d.m) AS BIGINT) AS n_tok,
        |  CAST(sum(CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_exact_dup
        |FROM d JOIN keep k USING (fp)
        |GROUP BY ROLLUP(d.source, d.lang)
        |ORDER BY source, lang""".stripMargin,

    // Oracle twin of dsirWeightsRaw: identical ln-difference expansion
    // and word-sorted sequential fold; constants (target lang, K)
    // interpolated from the single Scala definitions.
    "tx_dsir_weights" ->
      s"""$DwCte
         |SELECT doc_id, lang, n_tok, round(avg_raw, 4) + 0.0 AS avg_logw
         |FROM dw ORDER BY doc_id""".stripMargin,

    "tx_dsir_select" ->
      s"""$DwCte,
         |sel AS (
         |  SELECT doc_id, lang, avg_raw,
         |    row_number() OVER (ORDER BY avg_raw DESC, doc_id) AS rank
         |  FROM dw)
         |SELECT doc_id, rank, lang, round(avg_raw, 4) + 0.0 AS avg_logw
         |FROM sel WHERE rank <= $DsirSelectK ORDER BY rank""".stripMargin,

    // Oracle twin of tx_budget_select: same bin floor, descending
    // cumulative over the histogram, min-admitted-bin threshold.
    "tx_budget_select" ->
      s"""$DwCte,
         |wb AS (
         |  SELECT doc_id, lang, n_tok,
         |    CAST(floor(avg_raw * $BudgetBinScale) AS BIGINT) AS bin
         |  FROM dw),
         |btot AS (
         |  SELECT CAST(floor(CAST(sum(n_tok) AS DOUBLE) / $BudgetDivisor) AS BIGINT)
         |    AS budget FROM wb),
         |bhist AS (SELECT bin, CAST(sum(n_tok) AS BIGINT) AS mass
         |          FROM wb GROUP BY bin),
         |bcum AS (
         |  SELECT bin, CAST(sum(mass) OVER (ORDER BY bin DESC) AS BIGINT) AS cmass
         |  FROM bhist),
         |bthr AS (SELECT min(bin) AS thr_bin FROM bcum
         |         WHERE cmass <= (SELECT budget FROM btot))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_sel_tok,
         |  (SELECT budget FROM btot) AS budget,
         |  (SELECT thr_bin FROM bthr) AS thr_bin
         |FROM wb WHERE bin >= (SELECT thr_bin FROM bthr)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // Oracle twin of dsirHashedRaw: same filtered tokenization, same
    // tail-zip bigrams, same 8-hex md5 bucket hash, same fold.
    "tx_dsir_hashed" ->
      s"""WITH btok AS (
         |  SELECT doc_id, lang,
         |    list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x <> '') AS t
         |  FROM documents),
         |bfeat AS (
         |  SELECT doc_id, lang,
         |    unnest(list_transform(range(1, len(t)),
         |      i -> t[i] || ' ' || t[i + 1])) AS feat
         |  FROM btok),
         |bf AS (
         |  SELECT doc_id, lang,
         |    ('0x' || substr(md5(feat), 1, 8))::BIGINT % $DsirHashBuckets AS bucket,
         |    count(*) AS n
         |  FROM bfeat GROUP BY 1, 2, 3),
         |tcnt AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS tcnt
         |         FROM bf WHERE lang = '$DsirTargetLang' GROUP BY bucket),
         |hratio AS (
         |  SELECT g.bucket, g.cnt, COALESCE(t.tcnt, CAST(0 AS BIGINT)) AS tcnt
         |  FROM (SELECT bucket, CAST(sum(n) AS BIGINT) AS cnt
         |        FROM bf GROUP BY bucket) g
         |  LEFT JOIN tcnt t USING (bucket)),
         |hgeo AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_raw,
         |                CAST(sum(tcnt) AS BIGINT) AS n_tgt FROM hratio),
         |hterms AS (
         |  SELECT bf.doc_id, bf.lang, CAST(sum(bf.n) AS BIGINT) AS m,
         |    list(struct_pack(bucket := bf.bucket, n := bf.n,
         |                     tcnt := r.tcnt, cnt := r.cnt)
         |         ORDER BY bf.bucket) AS terms
         |  FROM bf JOIN hratio r USING (bucket) GROUP BY bf.doc_id, bf.lang),
         |hdw AS (
         |  SELECT doc_id, lang, m AS n_big,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(terms, t -> t.n::DOUBLE *
         |        ((ln((t.tcnt + 1)::DOUBLE) - ln((hgeo.n_tgt + $DsirHashBuckets)::DOUBLE))
         |         - (ln((t.cnt + 1)::DOUBLE) - ln((hgeo.n_raw + $DsirHashBuckets)::DOUBLE))))),
         |      (a, b) -> a + b) / m AS avg_raw
         |  FROM hterms CROSS JOIN hgeo)
         |SELECT doc_id, lang, n_big, round(avg_raw, 4) + 0.0 AS avg_logw
         |FROM hdw ORDER BY doc_id""".stripMargin,

    "tx_vocab_stats" ->
      s"""$TfCte,
         |vocab AS (SELECT word, CAST(sum(n) AS BIGINT) AS cnt
         |          FROM tf GROUP BY word),
         |top AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS top100 FROM (
         |    SELECT cnt FROM vocab ORDER BY cnt DESC, word LIMIT 100))
         |SELECT CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_types,
         |  CAST(max(cnt) AS BIGINT) AS max_cnt,
         |  round(CAST((SELECT top100 FROM top) AS DOUBLE)
         |        / CAST(sum(cnt) AS BIGINT), 6) AS top100_mass
         |FROM vocab""".stripMargin,

    "tx_entropy" ->
      s"""$TfCte,
         |e AS (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS m,
         |    CAST(count(*) AS BIGINT) AS n_distinct,
         |    list(struct_pack(word := word, n := n) ORDER BY word) AS terms
         |  FROM tf GROUP BY doc_id)
         |SELECT doc_id, m AS n_tok, n_distinct,
         |  round((ln(m::DOUBLE) - list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(terms, t -> t.n::DOUBLE * ln(t.n::DOUBLE))),
         |    (a, b) -> a + b) / m) / ln(2.0::DOUBLE), 4) AS entropy_bits
         |FROM e ORDER BY doc_id""".stripMargin,

    "tx_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [] END AS gs
        |  FROM t)
        |SELECT doc_id, len(gs) AS n_grams, len(list_distinct(gs)) AS n_distinct,
        |  round(CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE)
        |    / nullif(len(gs), 0), 6) AS dup_ratio
        |FROM g ORDER BY doc_id""".stripMargin,

    "tx_decontaminate" -> DeconSql,

    // the bloom prefilter is exact end-to-end (false positives die in
    // the verify join), so the oracle is the same decontamination SQL
    "tx_decontaminate_bloom" -> DeconSql,

    "tx_curation_pipeline" ->
      s"""WITH docs AS (
         |  SELECT doc_id, lang, text, md5(text) AS fp FROM documents),
         |keep AS (SELECT fp, min(doc_id) AS doc_id FROM docs GROUP BY fp),
         |kept AS (
         |  SELECT d.doc_id, d.lang,
         |    list_filter(string_split_regex(d.text, '\\s+'), t -> t <> '') AS toks
         |  FROM docs d JOIN keep k ON d.fp = k.fp AND d.doc_id = k.doc_id),
         |m AS (
         |  SELECT doc_id, lang, len(toks) AS n_tok,
         |    len(list_filter(toks, t -> t IN ${stopList("en")})) AS n_stop
         |  FROM kept),
         |q AS (
         |  SELECT *, round(least(1.0, CAST(n_tok AS DOUBLE) / 50.0) * 0.5
         |    + least(1.0, CAST(n_stop AS DOUBLE) * 10.0 / n_tok) * 0.5, 4) AS quality
         |  FROM m)
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
         |FROM q WHERE quality >= 0.7 GROUP BY lang ORDER BY lang""".stripMargin,
    // curation front end (dedup keep-min + quality gate) composed with
    // the pack cumsum — the tx_curation_pipeline and tx_pack oracles
    // fused over the survivor set
    "tx_curation_packed" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text, md5(text) AS fp FROM documents),
         |keep AS (SELECT fp, min(doc_id) AS doc_id FROM docs GROUP BY fp),
         |kept AS (
         |  SELECT d.doc_id,
         |    list_filter(string_split_regex(d.text, '\\s+'), t -> t <> '') AS toks
         |  FROM docs d JOIN keep k ON d.fp = k.fp AND d.doc_id = k.doc_id),
         |m0 AS (
         |  SELECT doc_id, len(toks) AS m,
         |    len(list_filter(toks, t -> t IN ${stopList("en")})) AS n_stop
         |  FROM kept),
         |surv AS (
         |  SELECT doc_id, CAST(m AS BIGINT) AS m FROM m0
         |  WHERE m > 0 AND round(least(1.0, CAST(m AS DOUBLE) / 50.0) * 0.5
         |    + least(1.0, CAST(n_stop AS DOUBLE) * 10.0 / m) * 0.5, 4) >= 0.7),
         |o AS (
         |  SELECT doc_id, m,
         |    CAST(COALESCE(SUM(m) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM surv),
         |x AS (
         |  SELECT doc_id, m, off,
         |    unnest(range(off // 512, (off + m - 1) // 512 + 1)) AS s
         |  FROM o)
         |SELECT CAST(s AS BIGINT) AS seq_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(least(off + m, (s + 1) * 512) - greatest(off, s * 512)) AS BIGINT) AS n_tok,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM x GROUP BY s ORDER BY seq_id""".stripMargin,

    "tx_token_count" ->
      s"""SELECT doc_id,
         |  len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_ws,
         |  len(regexp_extract_all(text, '$BpeIsh')) AS n_tok,
         |  round(CAST(length(text) AS DOUBLE)
         |        / nullif(len(regexp_extract_all(text, '$BpeIsh')), 0), 4) AS cpt
         |FROM documents ORDER BY doc_id""".stripMargin,

    // DuckDB list slices are 1-based inclusive and clamp past the end,
    // matching Spark's slice() on the ragged last chunk.
    "tx_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, toks,
        |    unnest(range(CAST(ceil(len(toks)/64.0) AS BIGINT))) AS k
        |  FROM t)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |  md5(array_to_string(toks[k*64+1 : k*64+64], ' ')) AS chunk_md5,
        |  CAST(least(64, len(toks) - k*64) AS BIGINT) AS n_tok
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "tx_lang_id" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id,
         |    len(list_filter(toks, t -> t IN ${stopList("de")})) AS s_de,
         |    len(list_filter(toks, t -> t IN ${stopList("en")})) AS s_en,
         |    len(list_filter(toks, t -> t IN ${stopList("es")})) AS s_es,
         |    len(list_filter(toks, t -> t IN ${stopList("fr")})) AS s_fr
         |  FROM t)
         |SELECT doc_id, s_de, s_en, s_es, s_fr,
         |  CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         |       ELSE 'fr' END AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin,

    "tx_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, n_chars, len(toks) AS n_tok,
         |    list_sum(list_transform(toks, t -> length(t))) AS tok_chars,
         |    len(list_filter(toks, t -> t IN ${stopList("en")})) AS n_stop
         |  FROM t)
         |SELECT doc_id, n_chars, n_tok,
         |  round(CAST(tok_chars AS DOUBLE) / nullif(n_tok, 0), 4) AS mean_tok_len,
         |  round(CAST(n_stop AS DOUBLE) / nullif(n_tok, 0), 4) AS stop_ratio,
         |  round(least(1.0, CAST(n_tok AS DOUBLE) / 50.0) * 0.5
         |        + least(1.0, CAST(n_stop AS DOUBLE) * 10.0 / nullif(n_tok, 0)) * 0.5, 4) AS quality
         |FROM m ORDER BY doc_id""".stripMargin,

    "tx_quality_lang" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, len(toks) AS n_tok,
         |    len(list_filter(toks, t -> t IN ${stopList("de")})) AS s_de,
         |    len(list_filter(toks, t -> t IN ${stopList("en")})) AS s_en,
         |    len(list_filter(toks, t -> t IN ${stopList("es")})) AS s_es,
         |    len(list_filter(toks, t -> t IN ${stopList("fr")})) AS s_fr
         |  FROM t),
         |p AS (
         |  SELECT doc_id, n_tok,
         |    greatest(s_de, s_en, s_es, s_fr) AS best,
         |    CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         |         ELSE 'fr' END AS pred_lang
         |  FROM s)
         |SELECT doc_id, pred_lang, n_tok,
         |  round(CAST(best AS DOUBLE) / nullif(n_tok, 0), 4) AS stop_ratio,
         |  round(least(1.0, CAST(n_tok AS DOUBLE) / 50.0) * 0.5
         |        + least(1.0, CAST(best AS DOUBLE) * 10.0 / nullif(n_tok, 0)) * 0.5, 4) AS quality
         |FROM p ORDER BY doc_id""".stripMargin,

    "tx_curation_lang" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text, md5(text) AS fp FROM documents),
         |keep AS (SELECT fp, min(doc_id) AS doc_id FROM docs GROUP BY fp),
         |kept AS (
         |  SELECT d.doc_id,
         |    list_filter(string_split_regex(lower(d.text), '\\s+'), t -> t <> '') AS toks
         |  FROM docs d JOIN keep k ON d.fp = k.fp AND d.doc_id = k.doc_id),
         |s AS (
         |  SELECT doc_id, len(toks) AS n_tok,
         |    len(list_filter(toks, t -> t IN ${stopList("de")})) AS s_de,
         |    len(list_filter(toks, t -> t IN ${stopList("en")})) AS s_en,
         |    len(list_filter(toks, t -> t IN ${stopList("es")})) AS s_es,
         |    len(list_filter(toks, t -> t IN ${stopList("fr")})) AS s_fr
         |  FROM kept),
         |p AS (
         |  SELECT doc_id, n_tok,
         |    greatest(s_de, s_en, s_es, s_fr) AS best,
         |    CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         |         ELSE 'fr' END AS pred_lang
         |  FROM s WHERE n_tok > 0),
         |q AS (
         |  SELECT *, round(least(1.0, CAST(n_tok AS DOUBLE) / 50.0) * 0.5
         |    + least(1.0, CAST(best AS DOUBLE) * 10.0 / n_tok) * 0.5, 4) AS quality
         |  FROM p)
         |SELECT pred_lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
         |FROM q WHERE quality >= 0.7 GROUP BY pred_lang ORDER BY pred_lang""".stripMargin,

    "tx_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS word
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, word, count(*) AS n FROM tok GROUP BY 1, 2),
        |tl AS (
        |  SELECT *, CAST(SUM(n) OVER (PARTITION BY doc_id) AS BIGINT) AS len FROM tf),
        |df AS (
        |  SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |x AS (
        |  SELECT t.doc_id, t.word,
        |    round((CAST(t.n AS DOUBLE) / t.len)
        |          * ln(CAST(nd.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tl t JOIN df ON t.word = df.word CROSS JOIN nd
        |  WHERE t.doc_id < 30),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, word) AS rank FROM x)
        |SELECT doc_id, rank, word, tfidf FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "tx_sample_stratified" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,

    "tx_topk_words" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS word
        |  FROM documents)
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin,

    "tx_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp_md5,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(
        |        list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |        t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
        |    (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fp_roll
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Direct global cumsum (1 PRECEDING frame = exclusive prefix) —
    // integer-exact, so it equals the Spark side's two-phase block scan.
    "tx_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS m
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, m,
        |    CAST(COALESCE(SUM(m) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM t WHERE m > 0),
        |x AS (
        |  SELECT doc_id, m, off,
        |    unnest(range(off // 512, (off + m - 1) // 512 + 1)) AS s
        |  FROM o)
        |SELECT CAST(s AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(least(off + m, (s + 1) * 512) - greatest(off, s * 512)) AS BIGINT) AS n_tok,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM x GROUP BY s ORDER BY seq_id""".stripMargin,

    // same cumsum, over the shuffled (md5, doc_id) order — identical to
    // the Spark side's block form because the block key is the md5's
    // leading byte (order-consistent prefix)
    "tx_pack_shuffled" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS m,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, m,
        |    CAST(COALESCE(SUM(m) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM t WHERE m > 0),
        |x AS (
        |  SELECT doc_id, m, off,
        |    unnest(range(off // 512, (off + m - 1) // 512 + 1)) AS s
        |  FROM o)
        |SELECT CAST(s AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(least(off + m, (s + 1) * 512) - greatest(off, s * 512)) AS BIGINT) AS n_tok,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM x GROUP BY s ORDER BY seq_id""".stripMargin,

    // Oracle twin of tx_mix_temperature: same lang-sorted Σ n^α fold,
    // same division structure for the shares and boost.
    "tx_mix_temperature" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS m
         |  FROM documents),
         |tot AS (SELECT lang, CAST(sum(m) AS BIGINT) AS lang_tok FROM t GROUP BY lang),
         |l AS (
         |  SELECT list(struct_pack(lang := lang, lt := lang_tok) ORDER BY lang) AS ls,
         |         CAST(sum(lang_tok) AS BIGINT) AS n_total
         |  FROM tot),
         |p AS (
         |  SELECT ls, n_total,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(ls, x -> pow(x.lt::DOUBLE, $MixTemperatureAlpha))),
         |      (a, b) -> a + b) AS pow_total
         |  FROM l),
         |sel AS (SELECT unnest(ls) AS u, n_total, pow_total FROM p)
         |SELECT u.lang AS lang, CAST(u.lt AS BIGINT) AS lang_tok,
         |  round(u.lt::DOUBLE / n_total::DOUBLE, 4) AS nat_share,
         |  round(pow(u.lt::DOUBLE, $MixTemperatureAlpha) / pow_total, 4) AS temp_share,
         |  round((pow(u.lt::DOUBLE, $MixTemperatureAlpha) / pow_total)
         |        / (u.lt::DOUBLE / n_total::DOUBLE), 4) AS boost
         |FROM sel ORDER BY lang""".stripMargin,

    "tx_mix_upsample" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS m
        |  FROM documents),
        |tot AS (SELECT lang, CAST(sum(m) AS BIGINT) AS lang_tok FROM t GROUP BY lang),
        |f AS (
        |  SELECT lang,
        |    CAST((SELECT max(lang_tok) FROM tot) AS DOUBLE)
        |      / CAST(lang_tok AS DOUBLE) AS f
        |  FROM tot),
        |r AS (
        |  SELECT t.lang, t.m, f.f,
        |    CAST(floor(f.f) AS BIGINT)
        |      + CASE WHEN CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 12))::BIGINT
        |             AS DOUBLE) / 281474976710656.0 < f.f - floor(f.f)
        |        THEN 1 ELSE 0 END AS n_rep
        |  FROM t JOIN f ON t.lang = f.lang)
        |SELECT lang, CAST(sum(n_rep) AS BIGINT) AS n_docs,
        |  CAST(sum(m * n_rep) AS BIGINT) AS n_tok, round(f, 6) AS factor
        |FROM r GROUP BY lang, f ORDER BY lang""".stripMargin,

    "tx_mix" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS m
        |  FROM documents),
        |tot AS (SELECT lang, CAST(sum(m) AS BIGINT) AS lang_tok FROM t GROUP BY lang),
        |r AS (
        |  SELECT lang,
        |    CAST((SELECT min(lang_tok) FROM tot) AS DOUBLE)
        |      / CAST(lang_tok AS DOUBLE) AS rate
        |  FROM tot),
        |k AS (
        |  SELECT t.lang, t.m, r.rate FROM t JOIN r ON t.lang = r.lang
        |  WHERE CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 12))::BIGINT
        |        AS DOUBLE) / 281474976710656.0 < r.rate)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(m) AS BIGINT) AS n_tok, round(rate, 6) AS rate
        |FROM k GROUP BY lang, rate ORDER BY lang""".stripMargin,

    // DuckDB regexp_replace needs the explicit 'g' flag to match Spark's
    // replace-all semantics.
    "tx_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(spark|customer|vector)\b')) AS BIGINT) AS n_hits,
        |  md5(regexp_replace(text, '\b(spark|customer|vector)\b', '[X]', 'g')) AS redacted_md5,
        |  CAST(length(regexp_replace(text, '\b(spark|customer|vector)\b', '[X]', 'g')) AS BIGINT) AS redacted_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // replace() is non-overlapping left-to-right on both engines, so the
    // '...'-count arithmetic (char-delta / 3) matches Spark exactly; the
    // CASE WHEN ... ELSE 0 flags reproduce Spark's when/otherwise NULL
    // semantics (a NULL statistic fails the rule, not propagates).
    "tx_gopher_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
         |    string_split(text, chr(10)) AS lines
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS tok_chars,
         |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
         |    CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_dots,
         |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS BIGINT) AS n_ellline,
         |    CAST(len(list_distinct(list_filter(list_transform(toks, x -> lower(x)),
         |      x -> x IN $GopherStopSql))) AS BIGINT) AS n_req_stop
         |  FROM t),
         |r AS (
         |  SELECT doc_id, n_words,
         |    round(CAST(tok_chars AS DOUBLE) / nullif(n_words, 0), 4) AS mean_word_len,
         |    round(CAST(n_hash + n_dots AS DOUBLE) / nullif(n_words, 0), 4) AS symbol_ratio,
         |    round(CAST(n_alpha AS DOUBLE) / nullif(n_words, 0), 4) AS alpha_ratio,
         |    round(CAST(n_bullet AS DOUBLE) / n_lines, 4) AS bullet_ratio,
         |    round(CAST(n_ellline AS DOUBLE) / n_lines, 4) AS ellipsis_ratio,
         |    n_req_stop
         |  FROM m)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio,
         |  bullet_ratio, ellipsis_ratio, n_req_stop,
         |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_wc,
         |  CAST(CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS BIGINT) AS r_mwl,
         |  CAST(CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS BIGINT) AS r_sym,
         |  CAST(CASE WHEN bullet_ratio <= 0.9 THEN 1 ELSE 0 END AS BIGINT) AS r_bullet,
         |  CAST(CASE WHEN ellipsis_ratio <= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS r_ell,
         |  CAST(CASE WHEN alpha_ratio >= 0.8 THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
         |  CAST(CASE WHEN n_req_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
         |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
         |     * CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END
         |     * CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END
         |     * CASE WHEN bullet_ratio <= 0.9 THEN 1 ELSE 0 END
         |     * CASE WHEN ellipsis_ratio <= 0.3 THEN 1 ELSE 0 END
         |     * CASE WHEN alpha_ratio >= 0.8 THEN 1 ELSE 0 END
         |     * CASE WHEN n_req_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    "tx_corpus_drift" ->
      s"""$DriftCte
         |SELECT CAST(count(*) AS BIGINT) AS n_vocab_union,
         |  CAST(sum(CASE WHEN cold > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab_old,
         |  CAST(sum(CASE WHEN cnew > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab_new,
         |  CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS js
         |FROM dc""".stripMargin,

    "tx_drift_tokens" ->
      s"""$DriftCte
         |SELECT word, round(p, 6) AS p, round(q, 6) AS q, c
         |FROM dc ORDER BY c DESC, word LIMIT 20""".stripMargin
  )

  /** Oracle twin of [[driftContrib]] — op-for-op: the same single
    * divisions, ln differences, and 6-dec contribution round. */
  private val DriftCte =
    """WITH tk AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS word
      |  FROM documents),
      |ct AS (
      |  SELECT word,
      |    CAST(sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cold,
      |    CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnew
      |  FROM tk GROUP BY word),
      |tt AS (SELECT CAST(sum(cold) AS BIGINT) AS told,
      |              CAST(sum(cnew) AS BIGINT) AS tnew FROM ct),
      |pc AS (
      |  SELECT word, cold, cnew,
      |    CASE WHEN told > 0 THEN CAST(cold AS DOUBLE) / told
      |         ELSE 0.0::DOUBLE END AS p,
      |    CASE WHEN tnew > 0 THEN CAST(cnew AS DOUBLE) / tnew
      |         ELSE 0.0::DOUBLE END AS q
      |  FROM ct CROSS JOIN tt),
      |dc AS (
      |  SELECT word, cold, cnew, p, q,
      |    round(CASE WHEN p > 0 THEN p * (ln(p) - ln((p + q) / 2)) / 2 ELSE 0 END
      |        + CASE WHEN q > 0 THEN q * (ln(q) - ln((p + q) / 2)) / 2 ELSE 0 END,
      |      6) AS c
      |  FROM pc)""".stripMargin

  private val GopherStopSql =
    GopherStop.map(w => s"'$w'").mkString("(", ",", ")")
}
