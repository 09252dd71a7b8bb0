package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Staging, Tables}

/** Lexical retrieval and model-based filtering — the sparse complement
  * of the dense ANN ladder and the trained complement of the rule-based
  * quality gate:
  *
  *  - `tx_bm25_topk` — BM25 (Robertson/Spärck Jones) query-by-example
  *    retrieval over the staged `term_freqs` postings table.
  *  - `ann_hybrid_rrf` — reciprocal-rank fusion (Cormack et al.) of the
  *    BM25 ranking with the exact dense-cosine ranking: the hybrid
  *    sparse+dense retrieval shape production RAG / curation pipelines
  *    run.
  *  - `tx_nb_train` / `tx_nb_score` — a naive-Bayes token classifier
  *    trained on the quality gate's own verdicts over a train split and
  *    scored on the held-out split: the GPT-3/CCNet-style "model-based
  *    quality filter" (train a cheap classifier on known labels, score
  *    the whole corpus), here with the rule gate as the label source so
  *    the whole loop is deterministic and oracle-replayable.
  *
  * Scale posture (100 TB): on the lexical and NB paths every join is an
  * equi-join. The query-term probe is broadcast onto the postings table
  * (postings are vocabulary × doc sized, the probe is queries × ≤[[QLen]]
  * terms); document frequency is computed only for probed terms via a
  * semi join; per-query top-k goes through the bounded-heap
  * [[graft.functions.GroupedTopK]] (O(queries × k) shuffle, nothing
  * fully sorted); the NB model is a STAGED vocabulary-bounded table
  * whose join strategy the engine size-gates from the artifact's scan
  * statistics (broadcast at gate scale, shuffle equi-join on `word` at
  * extreme vocabulary). The one deliberate exception is
  * `ann_hybrid_rrf`'s dense arm — an exact pairwise broadcast scan
  * (BroadcastNestedLoopJoin), kept as the metered ground-truth baseline
  * like `ann_topk`; the serving-shape fusion is `ann_hybrid_serving`,
  * whose dense arm comes from the staged IVF-PQ tier. All
  * cross-engine float arithmetic follows the repo conventions: per-term
  * contributions are rounded to 6 decimals and summed in DECIMAL
  * (order-independent, exact), logs/divisions are forced to DOUBLE on
  * both engines, rankings order by the rounded score with an id
  * tie-break.
  */
object Retrieval {

  import QueryFns.wsTokens

  /** Query-doc stride: docs with doc_id % QStep == 0 are the
    * query-by-example set (10 queries at the gate SFs, 100 at sf0.1). */
  private[queries] val QStep = 50

  /** Query length: first QLen tokens of the query doc. */
  private[graft] val QLen = 6

  /** BM25 shape parameters (the standard Robertson defaults). */
  private[queries] val K1 = 1.2
  private[queries] val B = 0.75

  /** Emitted depth of tx_bm25_topk. */
  private[graft] val BmK = 10

  /** Per-list depth entering the RRF fusion, the fused emitted depth,
    * and the RRF rank constant (Cormack's 60). */
  private[graft] val FuseDepth = 20
  private[queries] val HybK = 10
  private[queries] val RrfC = 60

  /** NB: minimum combined class count for a word to appear in the
    * tx_nb_train log-odds board, and the board's depth. */
  private[queries] val NbMinCount = 5
  private[queries] val NbTopK = 20

  /** Impact-ordered truncation depth: the approximate tier keeps only
    * the top-P postings of each probed term by (contribution, doc_id) —
    * the impact-sorted-index device (Anh & Moffat) that bounds
    * per-query work at P regardless of document frequency. */
  private[queries] val BmImpactP = 1000

  /** Query-by-example term probe over an arbitrary (doc_id, text)
    * frame: distinct (qid, word) over the first [[QLen]] lowercased
    * tokens. Queries × ≤QLen rows — broadcast-sized at any corpus
    * scale (the query SET is an input, not a corpus-sized derivation).
    */
  private def termsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id".as("qid"),
        explode(slice(wsTokens(lower($"text")), 1, QLen)).as("word"))
      .distinct()
  }

  /** The gate query set: every %[[QStep]]-stride corpus doc.
    * Session-memoized and persisted (r17 optimization): the probe set is
    * queries × ≤[[QLen]] rows, but its derivation — a documents scan +
    * tokenize + explode + distinct EXCHANGE — was re-planned per use,
    * and the lexical queries reference it 2–4 times each. A serving
    * deployment holds its query batch in memory; re-parsing it per
    * consumer was pure plan overhead (~0.1–0.2 s per use at sf0.1).
    */
  private[queries] def queryTerms(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.query_terms") {
      import s.implicits._
      termsOf(Tables(s, dir).documents.filter($"doc_id" % QStep === 0)).persist()
    }

  /** One serving micro-batch: score an arbitrary (doc_id, text) query
    * frame against the STAGED impact index and emit the per-query
    * top-k — the per-batch core of [[graft.streaming.Bm25Stream]].
    * Identical frames to tx_bm25_impact when fed the gate query docs
    * (parity spec-pinned); a query id absent from the corpus simply
    * never triggers the self-exclusion and retrieves from the full
    * index. */
  private[graft] def bm25ServeBatch(
      s: SparkSession, dir: String, queryDocs: DataFrame,
      k: Int = BmK): DataFrame = {
    implicit val sp: SparkSession = s
    topkBy(bm25Sum(termsOf(queryDocs), impactIndex(s, dir)), "bm25", k)
  }

  /** Session memos: per-(word, doc) contributions and the exact scored
    * candidates (shared by tx_bm25_topk, ann_hybrid_rrf, and the recall
    * meter), so the postings probe runs once per corpus generation.
    *
    * Per-(word, doc) BM25 contribution `c` (6-decimal-rounded
    * IDF × saturated-TF) for every posting of a probed term — computed
    * ONCE, before any query expansion, because the contribution does
    * not depend on the query: the doc-length join, the df lookup and
    * the float math run over probed-postings-sized input, and the
    * (query × posting) expansion that follows is a broadcast join
    * feeding straight into partial aggregation with nothing else
    * attached. Both score tiers and the recall meter read this frame.
    *
    * Plan: postings ⋈semi probed words → broadcast df of probed terms →
    * doc length from the staged token-accounting table → corpus stats
    * as a broadcast 1-row aggregate.
    */
  private def bm25Contrib(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.bm25_contrib")(
      contribFor(s, dir, queryTerms(s, dir)).persist())

  /** The contribution frame for an ARBITRARY probe's word set — the
    * parametric core of [[bm25Contrib]], reused by the RM3 second pass
    * whose probe carries expansion terms outside the gate query set. */
  private def contribFor(s: SparkSession, dir: String, probe: DataFrame): DataFrame = {
    import s.implicits._
    val words = probe.select($"word").distinct()
    val tf = TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word", $"n")
    val dl = TextAnalysis.tokenCounts(s, dir).select($"doc_id", $"m")
    val corp = TextAnalysis.tokenCounts(s, dir)
      .agg(count(lit(1)).as("n_docs"),
        (sum($"m").cast("double") / count(lit(1))).as("avgdl"))
    val dfq = tf.join(words, Seq("word"), "left_semi")
      .groupBy($"word").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
    val tfSat = ($"n" * lit(K1 + 1)) /
      ($"n" + lit(K1) * (lit(1.0) - lit(B) + lit(B) * $"m" / $"avgdl"))
    tf.join(words, Seq("word"), "left_semi")
      .join(broadcast(dfq), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corp))
      .select($"word", $"doc_id", round(idf * tfSat, 6).as("c"))
  }

  /** Expand contributions to (query, doc) and sum: broadcast the term
    * probe onto the contribution frame (query doc excluded —
    * query-by-example: the probe doc itself would trivially rank
    * first), sum the DECIMAL-cast contributions per (qid, doc_id) —
    * order-independent, bit-identical across engines. */
  private[queries] def bm25Sum(qt: DataFrame, contrib: DataFrame)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    contrib.join(broadcast(qt),
        contrib("word") === qt("word") && $"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("bm25"))
  }

  /** Exact BM25 candidates (qid, doc_id, bm25) — the metered baseline:
    * per-query work is Σ df over probed terms, which a stop-term-free
    * probe makes proportional to the corpus for common terms. The
    * impact tier below is the scale path. */
  private[graft] def bm25Scored(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.bm25_scored") {
      implicit val sp: SparkSession = s
      bm25Sum(queryTerms(s, dir), bm25Contrib(s, dir)).persist()
    }

  /** Impact-truncated candidates: each probed term's postings cut to
    * its top-[[BmImpactP]] by (contribution desc, doc_id) via the
    * bounded-heap aggregate — per-query work is then ≤ terms × P at ANY
    * document frequency. Queries share one truncated index. */
  private[queries] def bm25ImpactScored(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    bm25Sum(queryTerms(s, dir), impactIndex(s, dir))
  }

  /** The DURABLE impact index — staged per corpus generation
    * ([[graft.core.Staging]]): EVERY term's postings cut to the
    * top-[[BmImpactP]] by (contribution desc, doc_id). This is the
    * production split: the index build is an offline job over the full
    * postings table (df is a vocabulary aggregate, contribution one
    * projection, truncation one bounded-heap pass — index size ≤
    * vocab × P), and query probing is a broadcast join against the
    * stored artifact. For any probed term the rows are identical to
    * truncating the probed-only contribution frame (truncation is
    * per-word independent), so the oracle's probed-words-only
    * re-derivation checks this index exactly.
    */
  private[queries] def impactIndex(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.bm25_impact_index") {
      import s.implicits._
      // depth is part of the artifact identity: retuning BmImpactP
      // against an already-staged corpus must MISS and rebuild, never
      // silently reuse postings truncated at the old depth
      Staging.readElseBuild(s, dir, s"bm25_impact_index_p$BmImpactP", Seq("documents")) {
        allContrib(s, dir)
          .groupBy($"word")
          .agg(graft.functions.GroupedTopK.groupedTopK($"c", $"doc_id", BmImpactP).as("top"))
          .select($"word", explode($"top").as("t"))
          .select($"word", $"t.id".as("doc_id"), $"t.ord".as("c"))
      }.persist()
    }

  /** The FULL-vocabulary contribution frame the offline index jobs read
    * (per-word df over every term — deliberately NOT a broadcast join:
    * df is vocabulary-sized). Probed-term consumers use [[contribFor]]. */
  private def allContrib(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word", $"n")
    val dl = TextAnalysis.tokenCounts(s, dir).select($"doc_id", $"m")
    val corp = TextAnalysis.tokenCounts(s, dir)
      .agg(count(lit(1)).as("n_docs"),
        (sum($"m").cast("double") / count(lit(1))).as("avgdl"))
    val dfAll = tf.groupBy($"word").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
    val tfSat = ($"n" * lit(K1 + 1)) /
      ($"n" + lit(K1) * (lit(1.0) - lit(B) + lit(B) * $"m" / $"avgdl"))
    tf.join(dfAll, "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corp))
      .select($"word", $"doc_id", round(idf * tfSat, 6).as("c"))
  }

  /** Per-word exclusion bound at depth `p` over an arbitrary
    * contribution frame — shared by the probed-terms path
    * ([[exclusionBounds]]) and the staged full-vocab artifact. */
  private def boundsOf(contrib: DataFrame, p: Int): DataFrame = {
    import contrib.sparkSession.implicits._
    contrib
      .groupBy($"word")
      .agg(graft.functions.GroupedTopK.groupedTopK($"c", $"doc_id", p + 1).as("top"))
      .select($"word",
        when(size($"top") > p, element_at($"top", p + 1).getField("ord"))
          .otherwise(lit(0.0)).as("b"))
  }

  /** The DURABLE full-vocabulary exclusion bounds at the gate depth —
    * the per-list max-score metadata a production impact index stores
    * alongside its truncated postings (one more bounded-heap pass in
    * the same offline build; vocabulary-sized output). The gate-depth
    * wand path reads THIS artifact instead of re-deriving bounds, and
    * [[writeLexicalGeneration]] ships it with the index. For any
    * probed word the value equals the probed-frame derivation
    * (truncation is per-word independent). */
  private def stagedBounds(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.bm25_bounds") {
      Staging.readElseBuild(s, dir, s"bm25_bounds_p$BmImpactP", Seq("documents")) {
        boundsOf(allContrib(s, dir), BmImpactP)
      }.persist()
    }

  /** The probed contributions truncated per word to depth `p` — the
    * parametric twin of [[impactIndex]] (identical rows for probed terms
    * when p == [[BmImpactP]]: truncation is per-word independent). */
  private def truncatedAt(s: SparkSession, dir: String, p: Int): DataFrame = {
    import s.implicits._
    bm25Contrib(s, dir)
      .groupBy($"word")
      .agg(graft.functions.GroupedTopK.groupedTopK($"c", $"doc_id", p).as("top"))
      .select($"word", explode($"top").as("t"))
      .select($"word", $"t.id".as("doc_id"), $"t.ord".as("c"))
  }

  /** Truncation depth exposed for the spec's truncation-active planted
    * case (the gate constant's index is [[impactIndex]]). */
  private[graft] def bm25ImpactScoredAt(
      s: SparkSession, dir: String, p: Int): DataFrame = {
    implicit val sp: SparkSession = s
    bm25Sum(queryTerms(s, dir), truncatedAt(s, dir, p))
  }

  /** Per-term EXCLUSION BOUND at depth `p`: the largest contribution the
    * truncation dropped — the (p+1)-th per word, 0 when nothing was cut.
    * One bounded-heap pass at p+1 over the probed contributions; this is
    * the per-list max-score metadata an impact-ordered index stores
    * alongside each truncated postings list. */
  private def exclusionBounds(s: SparkSession, dir: String, p: Int): DataFrame =
    boundsOf(bm25Contrib(s, dir), p)

  /** RANK-SAFE serving from the impact tier — the set-oriented form of
    * WAND / max-score pruning over an impact-ordered index (Anh &
    * Moffat; Broder et al.): score the truncated lists, and use each
    * list's exclusion bound to PROVE whether the truncated answer is the
    * exact one.
    *
    * Per query q with residual budget U = Σ_t b_t over its terms:
    *  - θ = k-th best truncated score. The query is SAFE iff U == 0
    *    (nothing truncated) or θ > U with ≥ k candidates seen — no
    *    unseen document can reach the top-k.
    *  - For a safe query, a seen doc's true score is ≤ its upper bound
    *    ŝ(d) + (U − covered(d)) (covered = bounds of the lists d DID
    *    appear in); only docs at-or-above θ need exact rescoring, and
    *    the rescore is a candidate-RESTRICTED equi-join — (qid, doc_id,
    *    word) keys against the full contributions — O(|C| × terms), not
    *    a postings traversal.
    *  - An unsafe query falls back to the exact tier.
    *
    * Every true top-k doc has upper bound ≥ θ (its true score is), so
    * the rescored candidate set contains the exact top-k and the served
    * ranking equals the exact ranking — which is precisely what the
    * oracle checks. Returns (served top-k, per-query meter (qid, safe,
    * n_seen, n_rescore)): the meter prices the pruning — rescore work
    * actually done vs the full traversal the fallback costs.
    *
    * 100 TB posture: bounds are vocabulary-sized metadata built with the
    * index; the truncated probe is ≤ terms × P per query; the rescore
    * join is candidate-restricted; only provably-unsafe queries pay a
    * full postings traversal, and the meter makes that fraction a
    * measured, oracle-checked quantity instead of a hope.
    */
  /** Memo for the gate-depth wand pair: tx_bm25_wand and
    * tx_bm25_wand_meter share one probe DAG, and the det/verdict frames
    * feed three consumers each — persisted once per (session, corpus). */
  private[graft] def wandParts(
      s: SparkSession, dir: String, p: Int): (DataFrame, DataFrame) = {
    val (served, meter, _) =
      Memo(s, dir, s"Retrieval.wand_p$p")(wandPartsUncached(s, dir, p))
    (served, meter)
  }

  /** (served, meter, the persisted frames they share) — the third part
    * is held only so releasing the memo frees it. */
  private def wandPartsUncached(s: SparkSession, dir: String,
      p: Int): (DataFrame, DataFrame, Seq[DataFrame]) = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val k = BmK
    val idx = if (p == BmImpactP) impactIndex(s, dir) else truncatedAt(s, dir, p)
    val qt = queryTerms(s, dir)
    // gate depth reads the STAGED bounds artifact (restricted to probed
    // words by a broadcast semi-filter before the vocab-sized frame is
    // touched); a parametric depth derives them from the probed frame
    val bounds =
      if (p == BmImpactP)
        stagedBounds(s, dir).join(
          broadcast(qt.select($"word").distinct()), Seq("word"), "left_semi")
      else exclusionBounds(s, dir, p)
    val qtb = qt.join(broadcast(bounds), Seq("word"), "left")
      .select($"qid", $"word", coalesce($"b", lit(0.0)).as("b"))
    val uq = qtb.groupBy($"qid")
      .agg(sum($"b".cast("decimal(18,6)")).cast("double").as("u"))
    // one probe pass: truncated score + covered bound mass per (q, doc)
    val det = idx.join(broadcast(qtb),
        idx("word") === qtb("word") && $"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("s_hat"),
        sum($"b".cast("decimal(18,6)")).cast("double").as("covered"))
      .persist() // feeds theta, the candidate filter, and the meter
    val theta = det.groupBy($"qid")
      .agg(graft.functions.GroupedTopK.groupedTopK($"s_hat", $"doc_id", k).as("top"),
        count(lit(1)).as("n_seen"))
      .select($"qid", $"n_seen",
        when(size($"top") >= k, element_at($"top", k).getField("ord")).as("theta"))
    val verd = uq.join(theta, Seq("qid"), "left")
      .select($"qid", $"u", $"theta",
        coalesce($"n_seen", lit(0L)).as("n_seen"),
        when($"u" === 0.0, 1L)
          .otherwise(when(coalesce($"n_seen", lit(0L)) >= k && $"theta" > $"u", 1L)
            .otherwise(0L)).as("safe"))
      .persist() // read by cand, the fallback restriction, and the meter
    // bound comparison in DECIMAL: s_hat/u/covered/theta are exact
    // 6-decimal quantities held as nearest doubles, and a double-typed
    // `s_hat + (u - covered) >= theta` can round an exact tie just below
    // theta, silently dropping a true top-k doc from the rescore set —
    // the decimal casts recover the exact values (≤ 2^53/10^6, so the
    // double→decimal(18,6) round-trip is the identity) and the sum is
    // exact on both engines
    def dec6(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")
    val cand = det.join(verd.filter($"safe" === 1)
        .select($"qid", $"u", $"theta"), "qid")
      .filter($"theta".isNull ||
        dec6($"s_hat") + (dec6($"u") - dec6($"covered")) >= dec6($"theta"))
      .select($"qid", $"doc_id")
    val rescored = cand.join(qt, "qid")
      .join(bm25Contrib(s, dir), Seq("word", "doc_id"))
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("bm25"))
    // the fallback is RESTRICTED to the unsafe queries' probes before
    // the posting expansion — an all-safe batch must not pay (or even
    // plan) a full exact-tier traversal just to serve the meter. When
    // the session already materialized the exact tier (tx_bm25_topk /
    // tx_bm25_recall ran), filter ITS persisted frame instead of
    // re-expanding — value-identical either way, never an EXTRA
    // traversal.
    val unsafeQids = verd.filter($"safe" === 0).select($"qid")
    val unsafeExact = Memo.peek[DataFrame](s, dir, "Retrieval.bm25_scored") match {
      case Some(exact) => exact.join(unsafeQids, Seq("qid"), "left_semi")
      case None =>
        bm25Sum(qt.join(unsafeQids, Seq("qid"), "left_semi"), bm25Contrib(s, dir))
    }
    val served = topkBy(rescored.unionByName(unsafeExact), "bm25", k)
      .orderBy($"qid", $"rank")
    val nResc = cand.groupBy($"qid").agg(count(lit(1)).as("n_resc"))
    val nFull = unsafeExact.groupBy($"qid").agg(count(lit(1)).as("n_full"))
    val meter = verd
      .join(nResc, Seq("qid"), "left")
      .join(nFull, Seq("qid"), "left")
      .select($"qid", $"safe", $"n_seen",
        when($"safe" === 1, coalesce($"n_resc", lit(0L)))
          .otherwise(coalesce($"n_full", lit(0L))).as("n_rescore"))
      .orderBy($"qid")
    (served, meter, Seq(det, verd))
  }

  /** RM3 expansion width: terms appended to each query's probe. */
  private[queries] val RmE = 3

  /** Dirichlet smoothing mass for query-likelihood scoring. */
  private[queries] val QlMu = 1000.0

  /** DCG position discounts 1/log2(i+1) for i = 1..BmK, rounded to 6
    * decimals ONCE here and interpolated as DECIMAL literals into both
    * engines — the gain × discount product then runs in exact decimal
    * arithmetic on both sides (a float product + round() would tie-break
    * differently at the 6th decimal; it did, at sf0.001 row 7). */
  private[queries] val DcgDisc: IndexedSeq[java.math.BigDecimal] =
    (1 to BmK).map(i => java.math.BigDecimal
      .valueOf(1.0 / (math.log(i + 1.0) / math.log(2.0)))
      .setScale(6, java.math.RoundingMode.HALF_UP))

  /** QUERY-LIKELIHOOD retrieval (Dirichlet-smoothed unigram LM — Zhai
    * & Lafferty), the second classic lexical scorer over the SAME
    * postings: rank-equivalent decomposition
    *   s(q,d) = |q|·ln(μ/(|d|+μ)) + Σ_{t∈q∩d} ln(1 + tf·T/(μ·cf_t))
    * over candidates sharing ≥1 probed term (the standard practical
    * restriction — a no-overlap doc scores only the length prior and
    * is never retrieved ahead of a matching one at these sizes).
    * Same plan shape as BM25: broadcast probe, partial-agg DECIMAL
    * sum of 6-dec-rounded per-term contributions, bounded-heap top-k;
    * collection stats (cf per probed term, total tokens T) are
    * aggregates the incremental path maintains additively just like
    * df.
    *
    * [[qlScored]] is the EXACT tier — the metered baseline, per-query
    * work Σ cf-list length over probed terms (the cost class the BM25
    * exact tier measured at 146 s / 100× before its impact index
    * existed). The scale path is [[qlImpactIndex]]: the same
    * impact-ordering device on the QL contribution — ln(1 + tf·T/(μ·cf))
    * is monotone in tf per term, so a per-term top-[[BmImpactP]] cut by
    * (contribution desc, doc_id) keeps each list's largest QL mass and
    * bounds per-query work at terms × P regardless of collection
    * frequency. `tx_ql_recall` / `tx_ql_ndcg` meter the truncation and
    * `tx_ql_safe` certifies per-query exactness from the staged
    * exclusion bounds (U == 0 — no probed list was cut — implies the
    * truncated candidate set, sums, and priors all equal the exact
    * tier's, so the served ranking IS the exact ranking).
    *
    * Exact-tier QL candidates (qid, doc_id, ql) — shared by the top-k
    * query and both meters, persisted once per (session, corpus). */
  private[graft] def qlScored(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.ql_scored") {
      import s.implicits._
      val qt = queryTerms(s, dir)
      val tf = TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word", $"n")
      val tt = TextAnalysis.tokenCounts(s, dir)
        .agg(coalesce(sum($"m"), lit(0L)).as("tt"))
      val cf = tf.join(qt.select($"word").distinct(), Seq("word"), "left_semi")
        .groupBy($"word").agg(sum($"n").as("cf"))
      val contrib = tf.join(broadcast(cf), "word")
        .crossJoin(broadcast(tt))
        .select($"word", $"doc_id",
          round(log(lit(1.0) +
            $"n".cast("double") * $"tt" / (lit(QlMu) * $"cf")), 6).as("c"))
      qlSum(s, dir, qt, contrib).persist()
    }

  /** Expand a QL contribution frame to (query, doc), sum the
    * DECIMAL-cast contributions, and add the per-doc Dirichlet length
    * prior — the shared scoring tail of the exact and impact tiers
    * (the tiers differ only in the contribution frame fed in). */
  private def qlSum(s: SparkSession, dir: String,
      qt: DataFrame, contrib: DataFrame): DataFrame = {
    import s.implicits._
    val dl = TextAnalysis.tokenCounts(s, dir).select($"doc_id", $"m")
    val qlen = qt.groupBy($"qid").agg(count(lit(1)).as("qlen"))
    contrib.join(broadcast(qt),
        contrib("word") === qt("word") && $"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("sm"))
      .join(dl, "doc_id")
      .join(broadcast(qlen), "qid")
      .select($"qid", $"doc_id",
        ($"sm" + round($"qlen".cast("double")
          * log(lit(QlMu) / ($"m" + lit(QlMu))), 6)).as("ql"))
  }

  /** FULL-vocabulary QL contribution frame for the offline index job —
    * collection frequency is a vocabulary aggregate (deliberately NOT
    * broadcast, like [[allContrib]]'s df). For any probed word the
    * values equal the probed-only derivation in [[qlScored]]: cf does
    * not depend on the probe. */
  private def qlAllContrib(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word", $"n")
    val tt = TextAnalysis.tokenCounts(s, dir)
      .agg(coalesce(sum($"m"), lit(0L)).as("tt"))
    val cfAll = tf.groupBy($"word").agg(sum($"n").as("cf"))
    tf.join(cfAll, "word")
      .crossJoin(broadcast(tt))
      .select($"word", $"doc_id",
        round(log(lit(1.0) +
          $"n".cast("double") * $"tt" / (lit(QlMu) * $"cf")), 6).as("c"))
  }

  /** Per-term truncation at depth `p` by the impact key
    * `c + w·ln(μ/(m+μ))` (w = [[QlPriorW]], measured to 0 — see there):
    * only the ORDERING is parameterized — the kept rows carry the plain
    * contribution `c`, so the truncated tier remains a row-subset of
    * the exact scorer and U == 0 still proves exactness. The ordering
    * key is computed in DECIMAL (both 6-dec addends exact), so both
    * engines cut identical sets. */
  private[graft] def qlTruncAt(s: SparkSession, dir: String, p: Int,
      w: Int = QlPriorW): DataFrame = {
    import s.implicits._
    val dl = TextAnalysis.tokenCounts(s, dir).select($"doc_id", $"m")
    val ac = qlAllContrib(s, dir)
    val keyed = ac.join(dl, "doc_id")
      .select($"word", $"doc_id", $"c",
        ($"c".cast("decimal(18,6)")
          + (round(log(lit(QlMu) / ($"m" + lit(QlMu))), 6) * lit(w))
              .cast("decimal(18,6)"))
          .cast("double").as("k"))
    val kept = keyed.groupBy($"word")
      .agg(graft.functions.GroupedTopK.groupedTopK($"k", $"doc_id", p).as("top"))
      .select($"word", explode($"top.id").as("doc_id"))
    kept.join(ac, Seq("word", "doc_id")).select($"word", $"doc_id", $"c")
  }

  /** Prior weight in the impact-ordering key — MEASURED, not assumed:
    * the plausible "prior-aware" keys (w = 1: per-term prior share;
    * w = [[QLen]]: the full single-term-match surrogate score) both
    * LOSE to pure contribution ordering on this score distribution
    * (recall@10 at 1×/P=1000: 0.540 w=0, 0.457 w=1, 0.035 w=6 — w > 0
    * floods every list with short docs while the exact winners are
    * multi-term-consensus docs whose contribution mass dominates the
    * prior). w = 0 reduces the key to the contribution itself; the
    * parametric key stays so the sweep is reproducible (SCALING.md). */
  private[queries] val QlPriorW = 0

  /** Exclusion bounds under the impact cut at depth `p`: per word,
    * the largest CONTRIBUTION the truncation dropped (0 when nothing
    * was cut) — dropped rows are the anti-join complement of the kept
    * set, so the bound composes with any ordering. */
  private[graft] def qlBoundsAt(s: SparkSession, dir: String, p: Int): DataFrame = {
    import s.implicits._
    val ac = qlAllContrib(s, dir)
    val dropped = ac.join(qlTruncAt(s, dir, p).select($"word", $"doc_id"),
      Seq("word", "doc_id"), "left_anti")
    ac.select($"word").distinct()
      .join(dropped.groupBy($"word").agg(max($"c").as("mb")), Seq("word"), "left")
      .select($"word", coalesce($"mb", lit(0.0)).as("b"))
  }

  /** The DURABLE cf-ordered QL impact index: every term's postings cut
    * to the top-[[BmImpactP]] by the impact key
    * ([[qlTruncAt]]), staged per corpus generation with the depth in
    * the artifact name — the [[impactIndex]] template applied to the
    * second scorer. Truncation is per-word independent, so the oracle's
    * probed-words-only re-derivation checks the stored artifact
    * exactly. */
  private def qlImpactIndex(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.ql_impact_index") {
      Staging.readElseBuild(s, dir, s"ql_impact_index_p$BmImpactP", Seq("documents")) {
        qlTruncAt(s, dir, BmImpactP)
      }.persist()
    }

  /** Per-list QL exclusion bounds at the gate depth — the max-score
    * metadata the offline build stages beside the index, consumed by
    * tx_ql_safe's per-query exactness certificate. */
  private def qlStagedBounds(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.ql_bounds") {
      Staging.readElseBuild(s, dir, s"ql_bounds_p$BmImpactP", Seq("documents")) {
        qlBoundsAt(s, dir, BmImpactP)
      }.persist()
    }

  /** Impact-tier QL candidates: the gate probes against the staged
    * truncated index — per-query work ≤ terms × P at ANY collection
    * frequency. */
  private[graft] def qlImpactScored(s: SparkSession, dir: String): DataFrame =
    qlSum(s, dir, queryTerms(s, dir), qlImpactIndex(s, dir))

  /** Truncation depth exposed for the spec's truncation-active planted
    * case and the P-frontier probe (the gate constant's index is
    * [[qlImpactIndex]]). */
  private[graft] def qlImpactScoredAt(
      s: SparkSession, dir: String, p: Int, w: Int = QlPriorW): DataFrame =
    qlSum(s, dir, queryTerms(s, dir), qlTruncAt(s, dir, p, w))

  /** Per-query exact-vs-truncated overlap at an arbitrary depth — the
    * parametric form of tx_ql_recall for the frontier probe. */
  private[graft] def qlRecallAt(
      s: SparkSession, dir: String, p: Int, w: Int = QlPriorW): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val ex = topkBy(qlScored(s, dir), "ql", BmK).select($"qid", $"doc_id")
    val im = topkBy(qlImpactScoredAt(s, dir, p, w), "ql", BmK)
      .select($"qid", $"doc_id")
    // r17 optimization: one-pass overlap counter (see tx_bm25_recall)
    graft.core.Overlap.counts(ex, im, "qid", "doc_id",
      "n_exact", "n_impact", requireRight = false)
      .select($"qid", $"n_exact", $"n_common")
  }

  /** PSEUDO-RELEVANCE FEEDBACK (RM3-style query expansion), both passes
    * over the impact tier: rank once, weight each feedback-doc term by
    * its relevance-model mass Σ_d (tf_wd / |d|) · score_d over the
    * top-[[BmK]] feedback docs, append the top-[[RmE]] non-query terms
    * to the probe, and rank again with the expanded probe. Fully
    * deterministic (weights are 6-decimal-rounded components summed in
    * DECIMAL; term ties break lexically), so the oracle re-derives both
    * passes CTE for CTE.
    *
    * 100 TB posture: the feedback frame is queries × k rows (broadcast);
    * term weighting joins it to the postings of just those docs; the
    * expanded probe adds ≤ [[RmE]] terms per query and the second pass
    * is the same ≤ terms × P impact probe as the first — no stage
    * touches more than probed-postings-sized data.
    */
  private def rm3Topk(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val qt = queryTerms(s, dir)
    // r18 optimization: pass 1's per-(qid, doc) DECIMAL contribution
    // sums are materialized ONCE and pass 2 ADDS the expansion terms'
    // sums to them, instead of re-probing the index with the full
    // expanded probe (which repeated all of pass 1's join + aggregation
    // work for the original terms). Decimal sums are exact, and qt /
    // expf are disjoint by construction (expf is anti-joined against
    // qt), so sum over qt ∪ expf = sum over qt + sum over expf, term
    // for term — the merged double is bit-identical to the
    // one-aggregation form. The index is probed once by the query
    // terms and once by the ≤[[RmE]]-per-query expansion set.
    val idx = impactIndex(s, dir)
    def sums(probe: DataFrame): DataFrame =
      idx.join(broadcast(probe),
          idx("word") === probe("word") && $"doc_id" =!= $"qid")
        .groupBy($"qid", $"doc_id")
        .agg(sum($"c".cast("decimal(18,6)")).as("d"))
    val s1 = sums(qt).localCheckpoint()
    val fb = s1
      .groupBy($"qid")
      .agg(graft.functions.GroupedTopK.groupedTopK(
        $"d".cast("double"), $"doc_id", BmK).as("top"))
      .select($"qid", explode($"top").as("t"))
      .select($"qid", $"t.id".as("doc_id"), $"t.ord".as("sc"))
    val tf = TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word", $"n")
    val dl = TextAnalysis.tokenCounts(s, dir).select($"doc_id", $"m")
    val exp0 = tf.join(broadcast(fb), "doc_id")
      .join(dl, "doc_id")
      .groupBy($"qid", $"word")
      .agg(sum(round($"n".cast("double") / $"m" * $"sc", 6)
        .cast("decimal(18,6)")).cast("double").as("w"))
    val expf = exp0.join(qt, Seq("qid", "word"), "left_anti")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"qid").orderBy($"w".desc, $"word")))
      .filter($"rk" <= RmE)
      .select($"qid", $"word")
    // the second pass probes the STAGED full-vocabulary impact index
    // with the expansion terms only — corpus words, so their truncated
    // lists are already in the artifact, value-identical to a fresh
    // per-probe derivation (truncation is per-word independent)
    val merged = s1.unionByName(sums(expf))
      .groupBy($"qid", $"doc_id")
      .agg(sum($"d").cast("double").as("bm25"))
    topkBy(merged, "bm25", BmK)
      .orderBy($"qid", $"rank")
  }

  /** Incremental-ingest split: docs with doc_id % 5 == 0 are the
    * arriving batch; the rest are the stored base (same stride as
    * dedup_incremental — the gate queries, doc_id % [[QStep]], are all
    * inside the arriving batch, so the query is "score the new batch's
    * probes against the merged index"). */
  private[queries] val IncStep = 5

  /** STAGED base-split aggregates for the incremental merge — the
    * per-generation df / doc-count / total-length artifacts a stored
    * production index keeps beside its postings. Before these were
    * staged, every tx_bm25_incremental run re-aggregated the base
    * corpus to recover df and the corpus stats (the cost BASELINE.md
    * flagged); now the merge reads a vocabulary-sized artifact plus a
    * 1-row scalar and pays O(batch) aggregation for the delta only.
    * Session-memoized like the other staged lexical artifacts. */
  private[graft] def incBaseAggs(
      s: SparkSession, dir: String): (DataFrame, DataFrame) =
    Memo(s, dir, "Retrieval.inc_base_aggs") {
      import s.implicits._
      val df = Staging.readElseBuild(s, dir, s"bm25_base_df_inc$IncStep",
        Seq("documents")) {
        TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word")
          .filter($"doc_id" % IncStep =!= 0)
          .groupBy($"word").agg(count(lit(1)).as("df"))
      }.persist()
      val st = Staging.readElseBuild(s, dir, s"bm25_base_stats_inc$IncStep",
        Seq("documents")) {
        TextAnalysis.tokenCounts(s, dir).filter($"doc_id" % IncStep =!= 0)
          .agg(count(lit(1)).as("nd"), coalesce(sum($"m"), lit(0L)).as("len"))
      }.persist()
      (df, st)
    }

  /** INCREMENTAL lexical-index maintenance: serve the gate queries from
    * the stored base index MERGED with the arriving batch — postings by
    * union, every global statistic (df, doc count, total length) by
    * ADDITIVE aggregate merge, never a rebuild over the base. The oracle
    * is the exact full-corpus top-k, so the hash gate proves the merged
    * path serves bit-identically to a from-scratch rebuild (the
    * [[graft.queries.Dedup]] DeltaMergeSpec contract, on the lexical
    * index).
    *
    * 100 TB posture: the base frames are the staged `term_freqs` /
    * `token_counts` artifacts (filtered here by split, read in
    * production as the stored generation, bucketed by word); the base
    * AGGREGATES (full-vocab df, doc count, total length) are the staged
    * [[incBaseAggs]] artifacts — read, never recomputed; the delta
    * aggregates are O(batch); the merge is a probed-words df merge plus
    * 1-row scalar sums — the impact tier stays a periodic
    * per-generation rebuild ([[impactIndex]]), which is the standard
    * stale-tier/exact-base split.
    */
  private def bm25IncrementalTopk(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val base = $"doc_id" % IncStep =!= 0
    val tf = TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word", $"n")
    val dl = TextAnalysis.tokenCounts(s, dir).select($"doc_id", $"m")
    val qt = queryTerms(s, dir)
    val qw = qt.select($"word").distinct()
    val (baseDf, baseStats) = incBaseAggs(s, dir)
    def stats(side: DataFrame) = side.agg(
      count(lit(1)).as("nd"), coalesce(sum($"m"), lit(0L)).as("len"))
    val corp = baseStats.toDF("nd_b", "len_b")
      .crossJoin(broadcast(stats(dl.filter(!base)).toDF("nd_d", "len_d")))
      .select(($"nd_b" + $"nd_d").as("n_docs"),
        (($"len_b" + $"len_d").cast("double") / ($"nd_b" + $"nd_d")).as("avgdl"))
    def dfOf(side: DataFrame) = side.join(qw, Seq("word"), "left_semi")
      .groupBy($"word").agg(count(lit(1)).as("df"))
    // df merge as union + one sum (r17 optimization): the previous
    // full-outer join planned a SortMergeJoin (two sorts + an exchange)
    // for a probed-words-sized merge; summing the unioned per-side
    // counts is the same additive merge — a word absent from one side
    // simply contributes no row — in a single hash aggregate.
    val dfq = baseDf.join(qw, Seq("word"), "left_semi")
      .select($"word", $"df")
      .unionByName(dfOf(tf.filter(!base)))
      .groupBy($"word").agg(sum($"df").as("df"))
    val posts = tf.filter(base).join(qw, Seq("word"), "left_semi")
      .unionByName(tf.filter(!base).join(qw, Seq("word"), "left_semi"))
    val idf = log(lit(1.0) +
      ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
    val tfSat = ($"n" * lit(K1 + 1)) /
      ($"n" + lit(K1) * (lit(1.0) - lit(B) + lit(B) * $"m" / $"avgdl"))
    val contrib = posts
      .join(broadcast(dfq), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corp))
      .select($"word", $"doc_id", round(idf * tfSat, 6).as("c"))
    topkBy(bm25Sum(qt, contrib), "bm25", BmK).orderBy($"qid", $"rank")
  }

  /** Force-build the retrieval family's durable artifacts for `dir`. */
  def stageIndexes(s: SparkSession, dir: String): Unit =
    Staging.buildAll(s)(
      () => impactIndex(s, dir),
      () => stagedBounds(s, dir),
      () => qlImpactIndex(s, dir),
      () => qlStagedBounds(s, dir),
      () => incBaseAggs(s, dir),
      () => nbModel(s, dir))

  /** Write the NEXT lexical serving generation under `root` and flip
    * the `_latest` pointer atomically — the lexical twin of
    * [[Similarity.writeServingGeneration]]: a generation is
    * `gen-N/{index, bounds}` (the impact-truncated postings plus their
    * per-list exclusion bounds — self-contained: contributions embed
    * the build-time global stats, so a serving tier needs nothing
    * else). [[graft.streaming.Bm25Stream.serveLatest]] resolves the
    * pointer per micro-batch, so a rebuilt index (new corpus
    * generation, retuned P) cuts over live; rollback is a pointer
    * write; retention via [[graft.core.Generations.prune]].
    */
  def writeLexicalGeneration(s: SparkSession, dir: String, root: String): Long = {
    import graft.core.WbLayout
    import s.implicits._
    val next = graft.core.Generations.next(root)
    val gdir = s"$root/gen-$next"
    // every word-keyed slice is WORD-BUCKETED (wb = xxhash64(word) mod
    // NB partition dirs, word-sorted within — the positional tier's
    // committed layout): a serving batch's probed words prune to their
    // buckets at planning and to word row groups inside them, so the
    // per-batch probe is a lookup, not a full-index scan. One NB for
    // all four slices (they share the probe's word set), sized from the
    // largest (the BM25 impact index) and committed in the wb_n sidecar.
    val nb = WbLayout.bucketsFor(impactIndex(s, dir).count())
    def put(df: DataFrame, name: String): Unit =
      WbLayout.bucketed(df, "word", nb, Seq("doc_id").filter(df.columns.contains))
        .write.mode("overwrite").partitionBy("wb").parquet(s"$gdir/$name")
    put(impactIndex(s, dir), "index")
    put(stagedBounds(s, dir), "bounds")
    // the generation carries BOTH lexical scorers: the QL pair (index +
    // bounds are the staged ql_* artifacts) plus the stored doc lengths
    // the QL serving tier needs for the exact per-doc Dirichlet prior —
    // unlike BM25 (whose contributions embed every global stat), a QL
    // generation is only self-contained WITH dl
    put(qlImpactIndex(s, dir), "ql_index")
    put(qlStagedBounds(s, dir), "ql_bounds")
    // dl is doc-keyed, never word-probed — it stays flat
    TextAnalysis.tokenCounts(s, dir).select($"doc_id", $"m")
      .write.mode("overwrite").parquet(s"$gdir/dl")
    WbLayout.writeSidecar(gdir, nb)
    graft.core.Generations.setLatest(root, next)
    next
  }

  /** One committed lexical generation: number + loaded artifact pair.
    * `wbN` is the word-bucket modulus of the committed layout, None for
    * a pre-bucketing (flat-parquet) generation — those load and serve
    * unchanged, just without the bucket prune. */
  final case class LexicalGeneration(
      gen: Long, index: DataFrame, bounds: DataFrame,
      wbN: Option[Int] = None)

  /** Load the generation `_latest` points at (an unpublished root is an
    * error, not an empty index). */
  def loadLexicalGeneration(s: SparkSession, root: String): LexicalGeneration = {
    val gen = graft.core.Generations.latest(root).getOrElse(
      sys.error(s"$root: no committed lexical serving generation"))
    LexicalGeneration(gen,
      s.read.parquet(s"$root/gen-$gen/index"),
      s.read.parquet(s"$root/gen-$gen/bounds"),
      graft.core.WbLayout.readSidecar(s"$root/gen-$gen"))
  }

  /** One committed QL serving slice of a lexical generation: the
    * cf-ordered truncated index, its exclusion bounds, the stored doc
    * lengths (the exact Dirichlet prior's input), and the collection
    * minimum doc length `mMin` (the unseen-candidate prior bound's
    * scalar), computed ONCE per generation load — never per batch. */
  final case class QlGeneration(
      gen: Long, index: DataFrame, bounds: DataFrame, dl: DataFrame, mMin: Long,
      wbN: Option[Int] = None)

  /** Load the QL slice of the generation `_latest` points at. */
  def loadQlGeneration(s: SparkSession, root: String): QlGeneration = {
    import s.implicits._
    val gen = graft.core.Generations.latest(root).getOrElse(
      sys.error(s"$root: no committed lexical serving generation"))
    val dl = s.read.parquet(s"$root/gen-$gen/dl")
    // A generation whose dl has no m > 0 rows (degenerate corpus: every
    // doc empty) makes the aggregate NULL — read it as an Option and
    // fall back to mMin = 0, the most favorable unseen-doc prior bound
    // (mp = qlen·log(µ/(0+µ)) = 0 ≥ any real doc's prior), so the wand
    // verdict degrades to safe = 0 / full-fallback instead of the load
    // throwing on a null primitive — the batch tier's degenerate-corpus
    // behavior (qlWandPartsUncached keeps mn as a frame and coalesces).
    val mMin = dl.filter($"m" > 0).agg(min($"m")).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    QlGeneration(gen,
      s.read.parquet(s"$root/gen-$gen/ql_index"),
      s.read.parquet(s"$root/gen-$gen/ql_bounds"),
      dl, mMin,
      graft.core.WbLayout.readSidecar(s"$root/gen-$gen"))
  }

  /** Serve one query micro-batch from an EXPLICIT generation's
    * artifacts: per-query top-k over the stored truncated lists, plus —
    * with `certificate` — a per-answer EXACTNESS flag: safe = 1 iff the
    * query's residual budget is ZERO (no probed term's list was
    * truncated), in which case the served ranking IS the exact ranking
    * value for value. This is deliberately STRONGER than the batch wand
    * verdict: without a rescore pass, θ > U only bounds which docs can
    * ENTER the top-k — truncated residuals can still reorder or
    * promote within reach of θ — so a no-rescore serving tier may only
    * certify the U == 0 case. The tier stays bounded per batch
    * (≤ terms × P probe rows, never a rescore); approximate answers
    * are flagged, not silently exact-looking — the streaming form of
    * the wand meter's honesty contract.
    */
  private[graft] def bm25ServeGenBatch(
      s: SparkSession, g: LexicalGeneration, queryDocs: DataFrame,
      k: Int = BmK, certificate: Boolean = true): DataFrame = {
    import graft.core.WbLayout
    implicit val sp: SparkSession = s
    import s.implicits._
    val qt = termsOf(queryDocs)
    val qw = qt.select($"word").distinct()
    // word-bucketed generation: prune the index/bounds scans to the
    // probed words' partition dirs + row groups at PLANNING (one
    // queries-sized bucket-id job, reused across both slices); a
    // pre-bucketing generation keeps the flat-scan plans unchanged
    val probe = g.wbN.map(nb => WbLayout.probeOf(qw, "word", nb))
    val idx = WbLayout.pruneOr(g.index, "word", probe)(identity)
    val served = topkBy(bm25Sum(qt, idx), "bm25", k)
    if (!certificate) served.orderBy($"qid", $"rank")
    else {
      val b = WbLayout.pruneOr(g.bounds, "word", probe)(
        _.join(broadcast(qw), Seq("word"), "left_semi"))
      val cert = qt.join(broadcast(b), Seq("word"), "left")
        .select($"qid", coalesce($"b", lit(0.0)).as("b"))
        .groupBy($"qid")
        .agg(when(sum($"b".cast("decimal(18,6)")).cast("double") === 0.0, 1L)
          .otherwise(0L).as("safe"))
      served.join(cert, "qid").orderBy($"qid", $"rank")
    }
  }

  /** Serve one QL query micro-batch from a generation's QL slice — the
    * BOUNDED no-rescore tier: per-query top-k over the stored truncated
    * lists plus the exact per-doc Dirichlet prior from the stored
    * lengths, each answer carrying the U == 0 exactness certificate
    * (tx_ql_safe's predicate — a no-rescore tier may only certify the
    * nothing-was-truncated case, exactly like [[bm25ServeGenBatch]]:
    * the prior bound certifies top-k MEMBERSHIP against unseen docs,
    * but truncated residuals can still reorder seen docs, so ordering
    * exactness under active truncation needs the rescore mode below).
    * Per-batch work ≤ terms × P probe rows + a doc-keyed prior join —
    * nothing corpus-sized beyond the stored-artifact equi-joins.
    * Parity: fed the gate query docs, rows equal tx_ql_impact's with
    * tx_ql_safe's verdicts (Bm25StreamSpec pins it).
    */
  private[graft] def qlServeGenBatch(
      s: SparkSession, g: QlGeneration, queryDocs: DataFrame,
      k: Int = BmK): DataFrame = {
    import graft.core.WbLayout
    implicit val sp: SparkSession = s
    import s.implicits._
    val qt = termsOf(queryDocs)
    val qw = qt.select($"word").distinct()
    val probe = g.wbN.map(nb => WbLayout.probeOf(qw, "word", nb))
    val idx = WbLayout.pruneOr(g.index, "word", probe)(identity)
    val qlen = qt.groupBy($"qid").agg(count(lit(1)).as("qlen"))
    val scored = idx.join(broadcast(qt),
        idx("word") === qt("word") && $"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("sm"))
      .join(g.dl, "doc_id")
      .join(broadcast(qlen), "qid")
      .select($"qid", $"doc_id",
        ($"sm" + round($"qlen".cast("double")
          * log(lit(QlMu) / ($"m" + lit(QlMu))), 6)).as("ql"))
    val served = topkBy(scored, "ql", k)
    val b = WbLayout.pruneOr(g.bounds, "word", probe)(
      _.join(broadcast(qw), Seq("word"), "left_semi"))
    val cert = qt.join(broadcast(b), Seq("word"), "left")
      .select($"qid", coalesce($"b", lit(0.0)).as("b"))
      .groupBy($"qid")
      .agg(when(sum($"b".cast("decimal(18,6)")).cast("double") === 0.0, 1L)
        .otherwise(0L).as("safe"))
    served.join(cert, "qid").orderBy($"qid", $"rank")
  }

  /** PRIOR-BOUND CERTIFIED QL serving — the wand verdict + restricted
    * rescore ([[qlWandParts]]'s flow) per micro-batch against a
    * committed generation: probe the stored truncated lists once for
    * (ŝ, covered), certify per query with the PRIOR bound (safe iff
    * U == 0, or ≥ k candidates seen AND θ > U + qlen·ln(μ/(m_min+μ))
    * in DECIMAL — m_min is the generation's stored scalar), exact-
    * rescore only candidates whose upper bound reaches θ, exact
    * fallback restricted to provably-unsafe probes. Every answer is
    * exact (no certificate column — nothing approximate to flag), and
    * the prior bound is what makes QL queries certifiable under ACTIVE
    * truncation, a class BM25's U-only verdict cannot reach
    * ([[qlWandParts]]'s measured P=16000 knee: 1000/1000 certified at
    * 0.08% rescore). `dir` is the stored corpus the rescore reads (the
    * exact base a rescoring server retains — the
    * [[bm25ServeGenBatchRescored]] contract). Parity: fed the gate
    * query docs against the corpus's own generation, rows equal
    * tx_ql_wand's (Bm25StreamSpec pins it).
    */
  private[graft] def qlServeGenBatchWand(
      s: SparkSession, g: QlGeneration, dir: String,
      queryDocs: DataFrame, k: Int = BmK): DataFrame = {
    import graft.core.WbLayout
    implicit val sp: SparkSession = s
    import s.implicits._
    val qt = termsOf(queryDocs)
    val qw = qt.select($"word").distinct()
    val probe = g.wbN.map(nb => WbLayout.probeOf(qw, "word", nb))
    val gidx = WbLayout.pruneOr(g.index, "word", probe)(identity)
    val bounds = WbLayout.pruneOr(g.bounds, "word", probe)(
      _.join(broadcast(qw), Seq("word"), "left_semi"))
    val qtb = qt.join(broadcast(bounds), Seq("word"), "left")
      .select($"qid", $"word", coalesce($"b", lit(0.0)).as("b"))
    val uq = qtb.groupBy($"qid")
      .agg(sum($"b".cast("decimal(18,6)")).cast("double").as("u"))
    val qlen = qt.groupBy($"qid").agg(count(lit(1)).as("qlen"))
    val det = gidx.join(broadcast(qtb),
        gidx("word") === qtb("word") && $"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("sm_hat"),
        sum($"b".cast("decimal(18,6)")).cast("double").as("covered"))
      .join(g.dl, "doc_id")
      .join(broadcast(qlen), "qid")
      .select($"qid", $"doc_id", $"covered",
        ($"sm_hat" + round($"qlen".cast("double")
          * log(lit(QlMu) / ($"m" + lit(QlMu))), 6)).as("s_hat"))
    val theta = det.groupBy($"qid")
      .agg(graft.functions.GroupedTopK.groupedTopK($"s_hat", $"doc_id", k).as("top"),
        count(lit(1)).as("n_seen"))
      .select($"qid", $"n_seen",
        when(size($"top") >= k, element_at($"top", k).getField("ord")).as("theta"))
    // the most favorable prior any unseen candidate could carry, from
    // the generation's stored m_min scalar — identical arithmetic to
    // the batch tier's crossJoined 1-row frame
    val maxp = qlen.select($"qid",
      round($"qlen".cast("double")
        * log(lit(QlMu) / (lit(g.mMin) + lit(QlMu))), 6).as("mp"))
    def dec6(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")
    val verd = uq.join(theta, Seq("qid"), "left")
      .join(maxp, "qid")
      .select($"qid", $"u", $"theta",
        coalesce($"n_seen", lit(0L)).as("n_seen"),
        when($"u" === 0.0, 1L)
          .otherwise(when(coalesce($"n_seen", lit(0L)) >= k
              && dec6($"theta") > dec6($"u") + dec6($"mp"), 1L)
            .otherwise(0L)).as("safe"))
    val cand = det.join(verd.filter($"safe" === 1)
        .select($"qid", $"u", $"theta"), "qid")
      .filter($"theta".isNull ||
        dec6($"s_hat") + (dec6($"u") - dec6($"covered")) >= dec6($"theta"))
      .select($"qid", $"doc_id")
    // exact rescore from the stored corpus's postings, probed words only
    val tf = TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word", $"n")
    val tt = TextAnalysis.tokenCounts(s, dir)
      .agg(coalesce(sum($"m"), lit(0L)).as("tt"))
    val cf = tf.join(broadcast(qw), Seq("word"), "left_semi")
      .groupBy($"word").agg(sum($"n").as("cf"))
    val contrib = tf.join(broadcast(cf), "word")
      .crossJoin(broadcast(tt))
      .select($"word", $"doc_id",
        round(log(lit(1.0) +
          $"n".cast("double") * $"tt" / (lit(QlMu) * $"cf")), 6).as("c"))
    val dl = TextAnalysis.tokenCounts(s, dir).select($"doc_id", $"m")
    def qlOf(sm: DataFrame) = sm
      .join(dl, "doc_id")
      .join(broadcast(qlen), "qid")
      .select($"qid", $"doc_id",
        ($"sm" + round($"qlen".cast("double")
          * log(lit(QlMu) / ($"m" + lit(QlMu))), 6)).as("ql"))
    val rescored = qlOf(cand.join(qt, "qid")
      .join(contrib, Seq("word", "doc_id"))
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("sm")))
    val unsafeQids = verd.filter($"safe" === 0).select($"qid")
    val qtu = qt.join(unsafeQids, Seq("qid"), "left_semi")
    val unsafeExact = qlOf(contrib.join(broadcast(qtu),
        contrib("word") === qtu("word") && $"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("sm")))
    topkBy(rescored.unionByName(unsafeExact), "ql", k)
      .orderBy($"qid", $"rank")
  }

  /** RANK-SAFE pruned serving for QUERY-LIKELIHOOD — the wand device
    * adapted to a scorer with a per-doc length prior. Per query q with
    * residual budget U = Σ_t b_t over its probed terms' staged bounds:
    *
    *  - ŝ(d) = truncated contribution sum + the EXACT prior (the prior
    *    is a per-doc quantity the serving tier knows from the stored
    *    doc lengths — never approximated), so ŝ(d) ≤ s(d) ≤
    *    ŝ(d) + (U − covered(d)) exactly as in BM25's wand.
    *  - An UNSEEN candidate (≥1 full-list posting, none surviving) has
    *    s(d) ≤ U + maxprior_q where maxprior_q = round(qlen·ln(μ/
    *    (m_min+μ)), 6) and m_min is the corpus minimum doc length — a
    *    1-row collection stat the incremental path maintains like tt.
    *    So q is SAFE iff U == 0, or (≥ k candidates seen AND
    *    θ > U + maxprior_q in DECIMAL) — NOTE the prior makes QL
    *    queries certifiable even under active truncation (unseen docs
    *    are throttled by the most favorable possible prior), unlike
    *    BM25 on this corpus where U alone decides.
    *  - Safe queries exact-rescore only candidates whose upper bound
    *    reaches θ; provably-unsafe queries take the exact fallback
    *    restricted to their probes. The oracle is the EXACT ranking
    *    (tx_ql_topk's SQL verbatim), so the hash gate PROVES
    *    rank-safety.
    */
  private[graft] def qlWandParts(
      s: SparkSession, dir: String, p: Int = BmImpactP): (DataFrame, DataFrame) = {
    val (served, meter, _) =
      Memo(s, dir, s"Retrieval.ql_wand_p$p")(qlWandPartsUncached(s, dir, p))
    (served, meter)
  }

  /** (served, meter, the persisted frames they share) — see [[wandPartsUncached]]. */
  private def qlWandPartsUncached(s: SparkSession, dir: String,
      p: Int): (DataFrame, DataFrame, Seq[DataFrame]) = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val k = BmK
    val idx = if (p == BmImpactP) qlImpactIndex(s, dir) else qlTruncAt(s, dir, p)
    val qt = queryTerms(s, dir)
    val qw = qt.select($"word").distinct()
    val bounds =
      (if (p == BmImpactP) qlStagedBounds(s, dir) else qlBoundsAt(s, dir, p))
        .join(broadcast(qw), Seq("word"), "left_semi")
    val qtb = qt.join(broadcast(bounds), Seq("word"), "left")
      .select($"qid", $"word", coalesce($"b", lit(0.0)).as("b"))
    val uq = qtb.groupBy($"qid")
      .agg(sum($"b".cast("decimal(18,6)")).cast("double").as("u"))
    val dl = TextAnalysis.tokenCounts(s, dir).select($"doc_id", $"m")
    val qlen = qt.groupBy($"qid").agg(count(lit(1)).as("qlen"))
    // one probe pass over the stored index: truncated contribution sum
    // + covered bound mass, then the EXACT per-doc prior joined in
    val det = idx.join(broadcast(qtb),
        idx("word") === qtb("word") && $"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("sm_hat"),
        sum($"b".cast("decimal(18,6)")).cast("double").as("covered"))
      .join(dl, "doc_id")
      .join(broadcast(qlen), "qid")
      .select($"qid", $"doc_id", $"covered",
        ($"sm_hat" + round($"qlen".cast("double")
          * log(lit(QlMu) / ($"m" + lit(QlMu))), 6)).as("s_hat"))
      .persist()
    val theta = det.groupBy($"qid")
      .agg(graft.functions.GroupedTopK.groupedTopK($"s_hat", $"doc_id", k).as("top"),
        count(lit(1)).as("n_seen"))
      .select($"qid", $"n_seen",
        when(size($"top") >= k, element_at($"top", k).getField("ord")).as("theta"))
    // the most favorable prior any unseen candidate could carry
    val mn = dl.filter($"m" > 0).agg(min($"m").as("mn"))
    val maxp = qlen.crossJoin(broadcast(mn))
      .select($"qid",
        round($"qlen".cast("double")
          * log(lit(QlMu) / ($"mn" + lit(QlMu))), 6).as("mp"))
    def dec6(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")
    val verd = uq.join(theta, Seq("qid"), "left")
      .join(maxp, "qid")
      .select($"qid", $"u", $"theta",
        coalesce($"n_seen", lit(0L)).as("n_seen"),
        when($"u" === 0.0, 1L)
          .otherwise(when(coalesce($"n_seen", lit(0L)) >= k
              && dec6($"theta") > dec6($"u") + dec6($"mp"), 1L)
            .otherwise(0L)).as("safe"))
      .persist()
    val cand = det.join(verd.filter($"safe" === 1)
        .select($"qid", $"u", $"theta"), "qid")
      .filter($"theta".isNull ||
        dec6($"s_hat") + (dec6($"u") - dec6($"covered")) >= dec6($"theta"))
      .select($"qid", $"doc_id")
    // exact rescore restricted to (qid, doc_id) candidates: full probed
    // contributions + the exact prior — identical arithmetic to the
    // exact tier, on candidate rows only
    val tf = TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word", $"n")
    val tt = TextAnalysis.tokenCounts(s, dir)
      .agg(coalesce(sum($"m"), lit(0L)).as("tt"))
    val cf = tf.join(broadcast(qw), Seq("word"), "left_semi")
      .groupBy($"word").agg(sum($"n").as("cf"))
    val contrib = tf.join(broadcast(cf), "word")
      .crossJoin(broadcast(tt))
      .select($"word", $"doc_id",
        round(log(lit(1.0) +
          $"n".cast("double") * $"tt" / (lit(QlMu) * $"cf")), 6).as("c"))
    val rescored = cand.join(qt, "qid")
      .join(contrib, Seq("word", "doc_id"))
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("sm"))
      .join(dl, "doc_id")
      .join(broadcast(qlen), "qid")
      .select($"qid", $"doc_id",
        ($"sm" + round($"qlen".cast("double")
          * log(lit(QlMu) / ($"m" + lit(QlMu))), 6)).as("ql"))
    // unsafe fallback: the exact tier restricted to unsafe probes BEFORE
    // expansion; reuse the session-memoized exact frame when it exists
    val unsafeQids = verd.filter($"safe" === 0).select($"qid")
    val unsafeExact = Memo.peek[DataFrame](s, dir, "Retrieval.ql_scored") match {
      case Some(exact) => exact.join(unsafeQids, Seq("qid"), "left_semi")
      case None =>
        qlSum(s, dir, qt.join(unsafeQids, Seq("qid"), "left_semi"), contrib)
    }
    val served = topkBy(rescored.unionByName(unsafeExact), "ql", k)
      .orderBy($"qid", $"rank")
    val nResc = cand.groupBy($"qid").agg(count(lit(1)).as("n_resc"))
    val nFull = unsafeExact.groupBy($"qid").agg(count(lit(1)).as("n_full"))
    val meter = verd
      .join(nResc, Seq("qid"), "left")
      .join(nFull, Seq("qid"), "left")
      .select($"qid", $"safe", $"n_seen",
        when($"safe" === 1, coalesce($"n_resc", lit(0L)))
          .otherwise(coalesce($"n_full", lit(0L))).as("n_rescore"))
      .orderBy($"qid")
    (served, meter, Seq(det, verd))
  }

  /** OPT-IN EXACT-RESCORE serving: serve a query micro-batch from a
    * committed generation's `{index, bounds}` THROUGH the wand
    * verdict + candidate-restricted rescore — for consumers that need
    * exactness below the U == 0 knee the no-rescore certificate covers.
    * Per batch: one ≤ terms × P probe over the stored index computing
    * (ŝ, covered); θ and the safety verdict from the staged bounds;
    * safe queries rescore only candidates whose upper bound reaches θ
    * (a (qid, doc_id, word)-keyed equi-join against the stored
    * postings' probed contributions — O(|C| × terms)); provably-unsafe
    * queries fall back to the exact tier, restricted to their probes
    * BEFORE the posting expansion. Every answer is exact — the batch
    * tx_bm25_wand rank-safety argument, per micro-batch — so the
    * output carries no certificate column (there is nothing
    * approximate to flag). `dir` is the stored corpus the rescore
    * reads (the exact base tier a rescoring server must retain; a
    * serving fleet without postings access uses the certificate mode).
    * Parity: fed the gate query docs against the gate generation, rows
    * equal tx_bm25_wand's (Bm25StreamSpec pins it).
    */
  private[graft] def bm25ServeGenBatchRescored(
      s: SparkSession, g: LexicalGeneration, dir: String,
      queryDocs: DataFrame, k: Int = BmK): DataFrame = {
    import graft.core.WbLayout
    implicit val sp: SparkSession = s
    import s.implicits._
    val qt = termsOf(queryDocs)
    val qw = qt.select($"word").distinct()
    val probe = g.wbN.map(nb => WbLayout.probeOf(qw, "word", nb))
    val gidx = WbLayout.pruneOr(g.index, "word", probe)(identity)
    val bounds = WbLayout.pruneOr(g.bounds, "word", probe)(
      _.join(broadcast(qw), Seq("word"), "left_semi"))
    val qtb = qt.join(broadcast(bounds), Seq("word"), "left")
      .select($"qid", $"word", coalesce($"b", lit(0.0)).as("b"))
    val uq = qtb.groupBy($"qid")
      .agg(sum($"b".cast("decimal(18,6)")).cast("double").as("u"))
    val det = gidx.join(broadcast(qtb),
        gidx("word") === qtb("word") && $"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("s_hat"),
        sum($"b".cast("decimal(18,6)")).cast("double").as("covered"))
    val theta = det.groupBy($"qid")
      .agg(graft.functions.GroupedTopK.groupedTopK($"s_hat", $"doc_id", k).as("top"),
        count(lit(1)).as("n_seen"))
      .select($"qid", $"n_seen",
        when(size($"top") >= k, element_at($"top", k).getField("ord")).as("theta"))
    val verd = uq.join(theta, Seq("qid"), "left")
      .select($"qid", $"u", $"theta",
        when($"u" === 0.0, 1L)
          .otherwise(when(coalesce($"n_seen", lit(0L)) >= k && $"theta" > $"u", 1L)
            .otherwise(0L)).as("safe"))
    def dec6(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")
    val cand = det.join(verd.filter($"safe" === 1)
        .select($"qid", $"u", $"theta"), "qid")
      .filter($"theta".isNull ||
        dec6($"s_hat") + (dec6($"u") - dec6($"covered")) >= dec6($"theta"))
      .select($"qid", $"doc_id")
    val contrib = contribFor(s, dir, qt)
    val rescored = cand.join(qt, "qid")
      .join(contrib, Seq("word", "doc_id"))
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c".cast("decimal(18,6)")).cast("double").as("bm25"))
    val unsafeQids = verd.filter($"safe" === 0).select($"qid")
    val unsafeExact = bm25Sum(qt.join(unsafeQids, Seq("qid"), "left_semi"), contrib)
    topkBy(rescored.unionByName(unsafeExact), "bm25", k)
      .orderBy($"qid", $"rank")
  }

  /** TWO-PASS (RM3) serving: rank the micro-batch once against the
    * committed generation, mine the per-query expansion terms from the
    * top-[[BmK]] feedback docs' stored postings, and rank again with
    * the expanded probe — the batch tx_bm25_rm3 flow per micro-batch,
    * both passes on the stored impact index. `dir` is the stored
    * corpus the term weighting reads (postings of feedback docs only —
    * queries × k docs, broadcast-joined). Parity: fed the gate query
    * docs against the gate generation, rows equal tx_bm25_rm3's
    * (Bm25StreamSpec pins it).
    */
  private[graft] def bm25ServeGenBatchRm3(
      s: SparkSession, g: LexicalGeneration, dir: String,
      queryDocs: DataFrame, k: Int = BmK): DataFrame = {
    import graft.core.WbLayout
    implicit val sp: SparkSession = s
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val qt = termsOf(queryDocs)
    // pass 1: the probe words' buckets only (word-bucketed generation)
    val idx1 = g.wbN.map(nb => WbLayout.prune(g.index, "word",
      WbLayout.probeOf(qt.select($"word").distinct(), "word", nb)))
      .getOrElse(g.index)
    val fb = bm25Sum(qt, idx1)
      .groupBy($"qid")
      .agg(graft.functions.GroupedTopK.groupedTopK($"bm25", $"doc_id", BmK).as("top"))
      .select($"qid", explode($"top").as("t"))
      .select($"qid", $"t.id".as("doc_id"), $"t.ord".as("sc"))
    val tf = TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word", $"n")
    val dl = TextAnalysis.tokenCounts(s, dir).select($"doc_id", $"m")
    val exp0 = tf.join(broadcast(fb), "doc_id")
      .join(dl, "doc_id")
      .groupBy($"qid", $"word")
      .agg(sum(round($"n".cast("double") / $"m" * $"sc", 6)
        .cast("decimal(18,6)")).cast("double").as("w"))
    val expf0 = exp0.join(qt, Seq("qid", "word"), "left_anti")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"qid").orderBy($"w".desc, $"word")))
      .filter($"rk" <= RmE)
      .select($"qid", $"word")
    // pass 2 probes the EXPANDED word set. On a bucketed generation the
    // expansion terms are collected (queries × RmE rows — probe-sized)
    // and re-localized, so the prune's bucket-id job never re-runs the
    // expansion chain and the second pass scans only the expanded
    // probe's buckets; a flat generation keeps the original plan.
    val (expf, idx2) = g.wbN match {
      case Some(nb) =>
        val rows = expf0.collect().map(r => (r.getLong(0), r.getString(1)))
        val local = rows.toSeq.toDF("qid", "word")
        val words = qt.select($"word").unionByName(local.select($"word")).distinct()
        (local, WbLayout.prune(g.index, "word", WbLayout.probeOf(words, "word", nb)))
      case None => (expf0, g.index)
    }
    val qexp = qt.unionByName(expf)
    topkBy(bm25Sum(qexp, idx2), "bm25", k)
      .orderBy($"qid", $"rank")
  }

  /** Per-query exact-vs-truncated overlap at an arbitrary depth `p` —
    * the parametric form of tx_bm25_recall, for the P-frontier probe
    * that prices the truncation knob. */
  private[graft] def bm25RecallAt(
      s: SparkSession, dir: String, p: Int): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val ex = topkBy(bm25Scored(s, dir), "bm25", BmK).select($"qid", $"doc_id")
    val im = topkBy(bm25ImpactScoredAt(s, dir, p), "bm25", BmK)
      .select($"qid", $"doc_id")
    val nExact = ex.groupBy($"qid").agg(count(lit(1)).as("n_exact"))
    val nCommon = ex.join(im, Seq("qid", "doc_id"), "left_semi")
      .groupBy($"qid").agg(count(lit(1)).as("n_common"))
    nExact.join(nCommon, Seq("qid"), "left")
      .select($"qid", $"n_exact", coalesce($"n_common", lit(0L)).as("n_common"))
  }

  /** Bounded-heap per-query top-k over a (qid, doc_id, ord) frame —
    * the [[graft.queries.Similarity]] topk shape with retrieval column
    * names. */
  private[queries] def topkBy(scored: DataFrame, ord: String, k: Int)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    scored
      .groupBy($"qid")
      .agg(graft.functions.GroupedTopK.groupedTopK(col(ord), $"doc_id", k).as("top"))
      .select($"qid", posexplode($"top").as(Seq("pos", "t")))
      .select($"qid", ($"pos" + 1).as("rank"), $"t.id".as("doc_id"),
        round($"t.ord", 6).as(ord))
  }

  /** Quality-gate labels (doc_id, y): the EXACT tx_quality formula
    * (English stop list, raw-token stop count — tx_quality's own
    * tokenization) thresholded at 0.7; empty docs excluded. The NB
    * classifier trains against these — the label source is the rule
    * gate, so train + score replay deterministically on both engines.
    */
  private def gateLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = $"toks"
    Tables(s, dir).documents
      .select($"doc_id", wsTokens($"text").as("toks"))
      .select($"doc_id", size(toks).cast("long").as("n_tok"),
        size(filter(toks, t => t.isInCollection(TextAnalysis.stop("en"))))
          .cast("long").as("n_stop"))
      .filter($"n_tok" > 0)
      .select($"doc_id",
        when(round(
          least(lit(1.0), $"n_tok".cast("double") / 50.0) * 0.5
            + least(lit(1.0), $"n_stop".cast("double") * 10.0 / $"n_tok") * 0.5,
          4) >= 0.7, 1L).otherwise(0L).as("y"))
  }

  /** NB model: per-word class counts and the 6-decimal smoothed
    * log-odds, trained on the doc_id % 3 != 0 split. (word, c_pos,
    * c_neg, lo) plus the totals frame (t_pos, t_neg, vocab) re-derived
    * from it. The model is a DURABLE per-generation artifact
    * ([[graft.core.Staging]]) — the production split (train offline,
    * score everywhere), and what makes the scorer's join strategy
    * honest: the scorer joins the staged scan WITHOUT a broadcast hint,
    * so the engine size-gates it from the artifact's file statistics —
    * broadcast at gate vocabularies, shuffle equi-join on `word` past
    * `spark.sql.autoBroadcastJoinThreshold`.
    */
  private def nbModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val lo = Staging.readElseBuild(s, dir, "nb_model", Seq("documents")) {
      val trn = TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word", $"n")
        .join(gateLabels(s, dir), "doc_id")
        .filter($"doc_id" % 3 =!= 0)
      val wc = trn.groupBy($"word").agg(
        coalesce(sum(when($"y" === 1, $"n")), lit(0L)).as("c_pos"),
        coalesce(sum(when($"y" === 0, $"n")), lit(0L)).as("c_neg"))
      val tot0 = wc.agg(sum($"c_pos").as("t_pos"), sum($"c_neg").as("t_neg"),
        count(lit(1)).as("vocab"))
      wc.crossJoin(broadcast(tot0))
        .select($"word", $"c_pos", $"c_neg",
          round(
            log(($"c_pos" + lit(1.0)) / ($"t_pos" + $"vocab").cast("double"))
              - log(($"c_neg" + lit(1.0)) / ($"t_neg" + $"vocab").cast("double")),
            6).as("lo"))
    }
    val tot = lo.agg(sum($"c_pos").as("t_pos"), sum($"c_neg").as("t_neg"),
      count(lit(1)).as("vocab"))
    (lo, tot)
  }

  /** Sparse fusion arm: impact-tier BM25 top-[[FuseDepth]] for the
    * embedded-query probe set (term probe restricted BEFORE the posting
    * expansion — the round-13 141→4 s fix). (qid, doc_id, rb). */
  private def hybridSparseRank(s: SparkSession, dir: String,
      probeFilter: org.apache.spark.sql.Column): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val qids = Similarity.vecs(s, dir)
      .filter(probeFilter).select($"vec_id".as("qid"))
    val qtv = queryTerms(s, dir).join(qids, Seq("qid"), "left_semi")
    topkBy(bm25Sum(qtv, impactIndex(s, dir)), "bm25", FuseDepth)
      .select($"qid", $"doc_id", $"rank".as("rb"))
  }

  /** RRF fusion of the sparse arm with a dense (qid, doc_id, rd) arm:
    * missing-in-one-list docs contribute only the list they appear in
    * (standard RRF), fused top-[[HybK]] emitted. */
  private def rrfFused(s: SparkSession, brank: DataFrame,
      drank: DataFrame): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val fused = brank.join(drank, Seq("qid", "doc_id"), "full_outer")
      .select($"qid", $"doc_id",
        round(
          coalesce(lit(1.0) / (lit(RrfC) + $"rb"), lit(0.0))
            + coalesce(lit(1.0) / (lit(RrfC) + $"rd"), lit(0.0)),
          6).as("rrf"))
    topkBy(fused, "rrf", HybK).orderBy($"qid", $"rank")
  }

  /** RRF fusion core exposed for the streaming hybrid twin
    * ([[graft.streaming.HybridStream]]) — identical arithmetic to the
    * batch fusion. */
  private[graft] def hybridFuseRanks(s: SparkSession,
      brank: DataFrame, drank: DataFrame): DataFrame = rrfFused(s, brank, drank)

  /** Three-arm RRF: BM25 × dense × QL, fixed left-to-right addition of
    * the three reciprocal ranks (one expression — bit-identical on both
    * engines, the 2-arm form's determinism discipline; a SUM over a
    * unioned list would re-associate floating adds). Full-outer on
    * (qid, doc_id): a doc missing from an arm contributes only the arms
    * it appears in. */
  private def rrfFused3(s: SparkSession, brank: DataFrame,
      drank: DataFrame, qrank: DataFrame): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val fused = brank.join(drank, Seq("qid", "doc_id"), "full_outer")
      .join(qrank, Seq("qid", "doc_id"), "full_outer")
      .select($"qid", $"doc_id",
        round(
          coalesce(lit(1.0) / (lit(RrfC) + $"rb"), lit(0.0))
            + coalesce(lit(1.0) / (lit(RrfC) + $"rd"), lit(0.0))
            + coalesce(lit(1.0) / (lit(RrfC) + $"rq"), lit(0.0)),
          6).as("rrf"))
    topkBy(fused, "rrf", HybK).orderBy($"qid", $"rank")
  }

  /** QL fusion arm for the embedded-query probe set: top-[[FuseDepth]]
    * by the exact scorer (`impact = false`, the truth arm) or the
    * staged cf-ordered truncated index (`impact = true`, the serving
    * arm). The probe restriction lands BEFORE the posting expansion —
    * the same no-work-for-unservable-queries discipline as
    * [[hybridSparseRank]]. (qid, doc_id, rq). */
  private def qlArmRank(s: SparkSession, dir: String,
      probeFilter: org.apache.spark.sql.Column, impact: Boolean): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val qids = Similarity.vecs(s, dir)
      .filter(probeFilter).select($"vec_id".as("qid"))
    val qtv = queryTerms(s, dir).join(qids, Seq("qid"), "left_semi")
    val contrib =
      if (impact) qlImpactIndex(s, dir)
      else {
        // exact-tier contributions for the restricted probe's words —
        // cf is a per-word collection aggregate, so values equal the
        // full gate derivation's for every probed word
        val tf = TextAnalysis.termFreqs(s, dir).select($"doc_id", $"word", $"n")
        val tt = TextAnalysis.tokenCounts(s, dir)
          .agg(coalesce(sum($"m"), lit(0L)).as("tt"))
        val cf = tf.join(qtv.select($"word").distinct(), Seq("word"), "left_semi")
          .groupBy($"word").agg(sum($"n").as("cf"))
        tf.join(broadcast(cf), "word")
          .crossJoin(broadcast(tt))
          .select($"word", $"doc_id",
            round(log(lit(1.0) +
              $"n".cast("double") * $"tt" / (lit(QlMu) * $"cf")), 6).as("c"))
      }
    topkBy(qlSum(s, dir, qtv, contrib), "ql", FuseDepth)
      .select($"qid", $"doc_id", $"rank".as("rq"))
  }

  /** Exact dense fusion arm: pairwise cosine top-[[FuseDepth]] for the
    * %[[QStep]] embedded probes — the deliberate broadcast scan kept as
    * the metered truth arm. (qid, doc_id, rd). */
  private def denseExactRank(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val v = Similarity.vecs(s, dir)
    val probes = v
      .filter($"vec_id" % QStep === 0)
      .select($"vec_id".as("qid"), $"embedding".as("pe"), $"norm2".as("pn"))
    val dpairs = v.join(broadcast(probes), $"vec_id" =!= $"qid")
      .withColumn("cos",
        graft.functions.FloatDot.floatDot($"pe", $"embedding")
          / sqrt($"pn" * $"norm2"))
      .select($"qid", $"vec_id".as("doc_id"), $"cos")
    topkBy(dpairs, "cos", FuseDepth)
      .select($"qid", $"doc_id", $"rank".as("rd"))
  }

  /** The QL fusion arm at an ARBITRARY truncation depth `p` — the
    * fused-recall-vs-P ladder's knob (p == [[BmImpactP]] is
    * ann_hybrid_ql_serving's arm, up to the staged-artifact identity).
    * (qid, doc_id, rq). */
  private[graft] def qlArmRankAt(s: SparkSession, dir: String, p: Int): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val qids = Similarity.vecs(s, dir)
      .filter($"vec_id" % QStep === 0).select($"vec_id".as("qid"))
    val qtv = queryTerms(s, dir).join(qids, Seq("qid"), "left_semi")
    topkBy(qlSum(s, dir, qtv, qlTruncAt(s, dir, p)), "ql", FuseDepth)
      .select($"qid", $"doc_id", $"rank".as("rq"))
  }

  /** The exact QL arm (the truth the ladder's arm-recall is measured
    * against). */
  private[graft] def qlArmExactRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    qlArmRank(s, dir, $"vec_id" % QStep === 0, impact = false)
  }

  /** The 3-arm all-staged serving fusion with the QL arm truncated at
    * depth `p` — prices the QL arm's truncation against FUSED answer
    * quality (the r16 verdict's open question: the 0.67 fused reading
    * had no tuning curve). */
  private[graft] def hybridQlServingFusedAt(s: SparkSession, dir: String,
      p: Int): DataFrame = {
    import s.implicits._
    val (nprobe, shortlist) = Similarity.pqServingDefaults
    val drank = Similarity.pqTopkFor(s, dir,
        $"vec_id" % QStep === 0, nprobe, shortlist, FuseDepth)
      .select($"probe".as("qid"), $"neighbor".as("doc_id"), $"rank".as("rd"))
    rrfFused3(s,
      hybridSparseRank(s, dir, $"vec_id" % QStep === 0),
      drank,
      qlArmRankAt(s, dir, p))
  }

  /** The 3-arm exact truth, exposed for the ladder's recall
    * denominators. */
  private[graft] def hybridQlExactFusedFrame(s: SparkSession, dir: String): DataFrame =
    hybridQlExactFused(s, dir)

  /** Three-arm ground truth: BM25 impact × exact dense × exact QL —
    * shared by ann_hybrid_ql_rrf and the recall meter. */
  private def hybridQlExactFused(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.hybrid_ql_exact3") {
      import s.implicits._
      rrfFused3(s,
        hybridSparseRank(s, dir, $"vec_id" % QStep === 0),
        denseExactRank(s, dir),
        qlArmRank(s, dir, $"vec_id" % QStep === 0, impact = false))
        .persist()
    }

  /** Three-arm all-staged serving fusion: BM25 impact × IVF-PQ dense ×
    * QL impact — shared by ann_hybrid_ql_serving and the recall meter. */
  private def hybridQlServingFused(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.hybrid_ql_serving3") {
      import s.implicits._
      val (nprobe, shortlist) = Similarity.pqServingDefaults
      val drank = Similarity.pqTopkFor(s, dir,
          $"vec_id" % QStep === 0, nprobe, shortlist, FuseDepth)
        .select($"probe".as("qid"), $"neighbor".as("doc_id"), $"rank".as("rd"))
      rrfFused3(s,
        hybridSparseRank(s, dir, $"vec_id" % QStep === 0),
        drank,
        qlArmRank(s, dir, $"vec_id" % QStep === 0, impact = true))
        .persist()
    }

  /** Ground-truth fusion: sparse impact arm × EXACT dense cosine —
    * shared by ann_hybrid_rrf and the recall meter. */
  private def hybridExactFused(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.hybrid_exact") {
      import s.implicits._
      rrfFused(s, hybridSparseRank(s, dir, $"vec_id" % QStep === 0),
        denseExactRank(s, dir))
        .persist()
    }

  /** All-staged serving fusion: sparse impact arm × IVF-PQ dense arm at
    * the batch serving knobs — shared by ann_hybrid_serving and the
    * recall meter. */
  private def hybridServingFused(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Retrieval.hybrid_serving") {
      import s.implicits._
      hybridServingFusedFor(s, dir, $"vec_id" % QStep === 0).persist()
    }

  /** Probe-set-parameterized serving fusion — the ladder serves a FIXED
    * 400-query batch at every corpus multiple through this (a serving
    * deployment has a fixed per-batch query budget; the %QStep gate set
    * grows with the corpus and would conflate batch size with corpus
    * scale). */
  private[graft] def hybridServingFusedFor(s: SparkSession, dir: String,
      probeFilter: org.apache.spark.sql.Column): DataFrame = {
    import s.implicits._
    val (nprobe, shortlist) = Similarity.pqServingDefaults
    val drank = Similarity.pqTopkFor(s, dir,
        probeFilter, nprobe, shortlist, FuseDepth)
      .select($"probe".as("qid"), $"neighbor".as("doc_id"), $"rank".as("rd"))
    rrfFused(s, hybridSparseRank(s, dir, probeFilter), drank)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BM25 query-by-example retrieval: top-10 docs per query doc.
    "tx_bm25_topk" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      topkBy(bm25Scored(s, dir), "bm25", BmK).orderBy($"qid", $"rank")
    },

    // Impact-ordered BM25: same queries over the truncated index.
    "tx_bm25_impact" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      topkBy(bm25ImpactScored(s, dir), "bm25", BmK).orderBy($"qid", $"rank")
    },

    // Recall meter for the impact tier: per query, the exact top-10 vs
    // the truncated-index top-10 — the oracle-checked honesty contract
    // every approximate tier in this library carries.
    "tx_bm25_recall" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      // r17 optimization: the shared one-pass overlap counter — each
      // arm's scoring pass evaluates once (they used to run twice each,
      // for the count and the semi-join), both arms in one job
      val ex = topkBy(bm25Scored(s, dir), "bm25", BmK)
        .select($"qid", $"doc_id")
      val im = topkBy(bm25ImpactScored(s, dir), "bm25", BmK)
        .select($"qid", $"doc_id")
      graft.core.Overlap.counts(ex, im, "qid", "doc_id",
        "n_exact", "n_impact", requireRight = true)
        .orderBy($"qid")
    },

    // Hybrid sparse+dense GROUND TRUTH: RRF-fuse the IMPACT-tier BM25
    // top-20 (its term probe restricted to embedded query docs BEFORE
    // the posting expansion, so no work is done for queries the fusion
    // can't serve) with the EXACT cosine top-20 — the dense arm is the
    // deliberate pairwise broadcast scan, kept as the metered baseline
    // the serving fusion below is measured against.
    "ann_hybrid_rrf" -> { (s, dir) => hybridExactFused(s, dir) },

    // SERVING-grade hybrid fusion: both arms from staged tiers — the
    // impact-truncated BM25 index (sparse) and the IVF-PQ
    // retrieve-and-rescore pass (dense) at the batch serving knobs.
    // Nothing pairwise, nothing exact: the fusion shape a production
    // tier actually runs, with ann_hybrid_recall as its oracle-checked
    // honesty meter against the exact-arm ground truth.
    "ann_hybrid_serving" -> { (s, dir) => hybridServingFused(s, dir) },

    // Fusion-recall meter: per query, the exact-arm fused top-10
    // (ann_hybrid_rrf) vs the all-staged serving fusion's top-10 —
    // what swapping the exact dense arm for the PQ tier costs, as an
    // oracle-checked number instead of a hope.
    "ann_hybrid_recall" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      // r17 optimization: one-pass overlap counter (see tx_bm25_recall)
      val ex = hybridExactFused(s, dir).select($"qid", $"doc_id")
      val sv = hybridServingFused(s, dir).select($"qid", $"doc_id")
      graft.core.Overlap.counts(ex, sv, "qid", "doc_id",
        "n_exact", "n_serving", requireRight = true)
        .orderBy($"qid")
    },

    // THREE-arm hybrid ground truth: BM25 impact × exact dense cosine ×
    // exact QL, RRF-fused — the lexical generation carries both scorers
    // (r15), so fusion carries both too. QL ranks by a different
    // whole-document model (Dirichlet LM vs BM25's saturation), the
    // textbook reason multi-scorer RRF beats either alone.
    "ann_hybrid_ql_rrf" -> { (s, dir) => hybridQlExactFused(s, dir) },

    // The all-staged serving form: BM25 impact × IVF-PQ dense × QL
    // impact — every arm a committed artifact probe, nothing pairwise.
    "ann_hybrid_ql_serving" -> { (s, dir) => hybridQlServingFused(s, dir) },

    // Recall of the three-arm serving fusion against the three-arm
    // exact-arm truth — the family's honesty contract, extended to the
    // QL arm the r15 verdict called the one fusion gap.
    "ann_hybrid_ql_recall" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      // r17 optimization: one-pass overlap counter (see tx_bm25_recall)
      val ex = hybridQlExactFused(s, dir).select($"qid", $"doc_id")
      val sv = hybridQlServingFused(s, dir).select($"qid", $"doc_id")
      graft.core.Overlap.counts(ex, sv, "qid", "doc_id",
        "n_exact", "n_serving", requireRight = true)
        .orderBy($"qid")
    },

    // Rank-safe pruned serving (WAND/max-score over the impact tier):
    // the served top-k — oracle-checked against the EXACT ranking, so
    // the gate proves the pruning is rank-safe, not just plausible.
    "tx_bm25_wand" -> { (s, dir) => wandParts(s, dir, BmImpactP)._1 },

    // Its per-query work meter: safety verdict, truncated candidates
    // seen, and exact-rescore rows actually paid (full-traversal size
    // for the provably-unsafe fallback queries).
    "tx_bm25_wand_meter" -> { (s, dir) => wandParts(s, dir, BmImpactP)._2 },

    // Incremental index maintenance: base ∪ batch postings with
    // additively-merged global stats serve the exact top-k.
    "tx_bm25_incremental" -> { (s, dir) => bm25IncrementalTopk(s, dir) },

    // Pseudo-relevance-feedback expansion: rank, mine expansion terms
    // from the top-k feedback docs, rank again with the expanded probe.
    "tx_bm25_rm3" -> { (s, dir) => rm3Topk(s, dir) },

    // Dirichlet query-likelihood, EXACT tier: the second lexical scorer
    // over the same postings (rank-equivalent smoothed-LM
    // decomposition) — the metered ground-truth baseline, like
    // tx_bm25_topk; the scale path is tx_ql_impact.
    "tx_ql_topk" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      topkBy(qlScored(s, dir), "ql", BmK).orderBy($"qid", $"rank")
    },

    // cf-ordered QL impact tier: same queries over the staged
    // per-term-truncated index (per-query work ≤ terms × P).
    "tx_ql_impact" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      topkBy(qlImpactScored(s, dir), "ql", BmK).orderBy($"qid", $"rank")
    },

    // Recall meter for the QL impact tier: exact top-10 vs
    // truncated-index top-10 per query — the oracle-checked honesty
    // contract every approximate tier carries.
    "tx_ql_recall" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      // r17 optimization: one-pass overlap counter (see tx_bm25_recall)
      val ex = topkBy(qlScored(s, dir), "ql", BmK).select($"qid", $"doc_id")
      val im = topkBy(qlImpactScored(s, dir), "ql", BmK)
        .select($"qid", $"doc_id")
      graft.core.Overlap.counts(ex, im, "qid", "doc_id",
        "n_exact", "n_impact", requireRight = true)
        .orderBy($"qid")
    },

    // Graded ranking quality of the QL impact tier: rank-graded nDCG@k
    // (grade = BmK+1-rank from the EXACT ranking; QL totals are
    // negative — the Dirichlet length prior dominates — so score-valued
    // gains would invert the meter; integer rank grades keep DCG
    // positive and the gain × discount products exact in DECIMAL).
    "tx_ql_ndcg" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val disc = DcgDisc.zipWithIndex.foldLeft(
        lit(null).cast("decimal(18,6)")) { case (acc, (d, i)) =>
        when($"rank" === i + 1, lit(d)).otherwise(acc)
      }
      val grades = topkBy(qlScored(s, dir), "ql", BmK)
        .select($"qid", $"doc_id",
          (lit(BmK + 1) - $"rank").cast("decimal(18,6)").as("g"))
      def dcgOf(top: DataFrame, out: String) = top
        .join(grades, Seq("qid", "doc_id"), "left")
        .select($"qid",
          (coalesce($"g", lit(0).cast("decimal(18,6)")) * disc).as("gd"))
        .groupBy($"qid")
        .agg(sum($"gd").cast("double").as(out))
      val dcg = dcgOf(topkBy(qlImpactScored(s, dir), "ql", BmK)
        .select($"qid", $"doc_id", $"rank"), "dcg")
      val idcg = dcgOf(topkBy(qlScored(s, dir), "ql", BmK)
        .select($"qid", $"doc_id", $"rank"), "idcg")
      idcg.join(dcg, Seq("qid"), "left")
        .select($"qid", coalesce($"dcg", lit(0.0)).as("dcg"), $"idcg",
          round(coalesce($"dcg", lit(0.0)) / $"idcg", 4).as("ndcg"))
        .orderBy($"qid")
    },

    // Rank-safe pruned QL serving (wand adapted to a prior-carrying
    // scorer): the served top-k — oracle-checked against the EXACT QL
    // ranking, so the gate proves the pruning is rank-safe.
    "tx_ql_wand" -> { (s, dir) => qlWandParts(s, dir)._1 },

    // Its per-query work meter: safety verdict (U == 0 OR θ beats the
    // unseen-candidate bound U + qlen·ln(μ/(m_min+μ))), candidates
    // seen, and exact-rescore rows actually paid.
    "tx_ql_wand_meter" -> { (s, dir) => qlWandParts(s, dir)._2 },

    // Per-query exactness certificate for the QL impact tier: residual
    // budget U = Σ staged exclusion bounds over the query's terms;
    // U == 0 (no probed list was truncated) PROVES the truncated answer
    // equals the exact one — the no-rescore certificate the lexical
    // serving tier uses, on the second scorer.
    "tx_ql_safe" -> { (s, dir) =>
      import s.implicits._
      val qt = queryTerms(s, dir)
      val b = qlStagedBounds(s, dir)
        .join(broadcast(qt.select($"word").distinct()), Seq("word"), "left_semi")
      qt.join(broadcast(b), Seq("word"), "left")
        .select($"qid", coalesce($"b", lit(0.0)).as("b"))
        .groupBy($"qid")
        .agg(sum($"b".cast("decimal(18,6)")).cast("double").as("u"))
        .select($"qid", $"u",
          when($"u" === 0.0, 1L).otherwise(0L).as("safe"))
        .orderBy($"qid")
    },

    // Graded ranking quality of the impact tier: per-query DCG@k with
    // the EXACT scores as gains vs the ideal (exact-ranking) DCG —
    // the position-aware complement of tx_bm25_recall's set overlap.
    "tx_bm25_ndcg" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      // rank → 6-dec DECIMAL discount (when-chain keeps the literal at
      // scale 6 so the gain × discount product is exact decimal)
      val disc = DcgDisc.zipWithIndex.foldLeft(
        lit(null).cast("decimal(18,6)")) { case (acc, (d, i)) =>
        when($"rank" === i + 1, lit(d)).otherwise(acc)
      }
      val ex = bm25Scored(s, dir)
      def dcgOf(top: DataFrame, out: String) = top
        .join(ex, Seq("qid", "doc_id"))
        .select($"qid", ($"bm25".cast("decimal(18,6)") * disc).as("g"))
        .groupBy($"qid")
        .agg(sum($"g").cast("double").as(out))
      val dcg = dcgOf(topkBy(bm25ImpactScored(s, dir), "bm25", BmK)
        .select($"qid", $"doc_id", $"rank"), "dcg")
      val idcg = dcgOf(topkBy(ex, "bm25", BmK)
        .select($"qid", $"doc_id", $"rank"), "idcg")
      idcg.join(dcg, Seq("qid"), "left")
        .select($"qid", coalesce($"dcg", lit(0.0)).as("dcg"), $"idcg",
          round(coalesce($"dcg", lit(0.0)) / $"idcg", 4).as("ndcg"))
        .orderBy($"qid")
    },

    // NB trainer: the top-20 |log-odds| words of the trained model
    // (class counts >= NbMinCount). Top-k via TakeOrderedAndProject
    // (orderBy + limit — heap-based, distributed) + a 20-row array
    // fold for the rank column: no unpartitioned window, no global
    // sort, even at extreme vocabulary.
    "tx_nb_train" -> { (s, dir) =>
      import s.implicits._
      val (lo, _) = nbModel(s, dir)
      lo.filter($"c_pos" + $"c_neg" >= NbMinCount)
        .orderBy(abs($"lo").desc, $"word")
        .limit(NbTopK)
        .agg(sort_array(collect_list(struct(
          (-abs($"lo")).as("na"), $"word", $"c_pos", $"c_neg", $"lo"))).as("a"))
        .select(posexplode($"a").as(Seq("pos", "t")))
        .select(($"pos" + 1).as("rank"), $"t.word".as("word"),
          $"t.c_pos".as("c_pos"), $"t.c_neg".as("c_neg"), $"t.lo".as("lo"))
        .orderBy($"rank")
    },

    // NB scorer on the held-out split (doc_id % 3 == 0): per-doc
    // log-odds score = prior + Σ n_w · lo(w), unseen words at the
    // smoothing floor; per-word contributions summed in DECIMAL.
    // pred = 1 iff the posterior odds favor the gate-pass class.
    "tx_nb_score" -> { (s, dir) =>
      import s.implicits._
      nbScored(s, dir).orderBy($"doc_id")
    },

    // The classifier's CALIBRATION instrument: confusion matrix of the
    // NB predictions against the rule gate's own verdicts on the
    // HELD-OUT split — the agreement a production quality-filter run
    // reviews before trusting the cheap classifier over the expensive
    // rule (per cell: count + share of the held-out split). Joins the
    // scorer's output with the label source it was trained against;
    // one doc-keyed join + a 4-row aggregation.
    "tx_nb_confusion" -> { (s, dir) =>
      import s.implicits._
      val cells = nbScored(s, dir).select($"doc_id", $"pred")
        .join(gateLabels(s, dir).filter($"doc_id" % 3 === 0), "doc_id")
        .groupBy($"pred", $"y").agg(count(lit(1)).as("n"))
      cells.crossJoin(broadcast(cells.agg(sum($"n").as("tot"))))
        .select($"pred", $"y", $"n",
          round($"n".cast("double") / $"tot", 6).as("share"))
        .orderBy($"pred", $"y")
    })

  /** The held-out NB scoring frame (doc_id, n_tok, score, pred) —
    * shared by tx_nb_score and the confusion instrument. */
  private def nbScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (lo, tot) = nbModel(s, dir)
    val cls = gateLabels(s, dir).filter($"doc_id" % 3 =!= 0)
      .agg(coalesce(sum(when($"y" === 1, 1L)), lit(0L)).as("n_pos"),
        coalesce(sum(when($"y" === 0, 1L)), lit(0L)).as("n_neg"))
    // prior rounded to 6 decimals like every other cross-engine
    // transcendental in this file — an unrounded ln() ulp difference
    // between libms can flip pred for near-zero posteriors
    val prior = cls.select(
      round(log(($"n_pos" + lit(1.0)) / ($"n_neg" + lit(1.0))), 6).as("pri"))
    val unseen = tot.select(
      round(log(($"t_neg" + $"vocab").cast("double")
        / ($"t_pos" + $"vocab").cast("double")), 6).as("lo_u"))
    val tst = TextAnalysis.termFreqs(s, dir)
      .select($"doc_id", $"word", $"n")
      .filter($"doc_id" % 3 === 0)
    // NO broadcast hint on the model join: the staged model scan
    // carries size statistics, so the engine broadcasts a gate-sized
    // vocabulary and falls back to a shuffle equi-join past the
    // autoBroadcastJoinThreshold — the size-gated degradation the
    // module contract promises
    tst
      .join(lo.select($"word", $"lo"), Seq("word"), "left_outer")
      .crossJoin(broadcast(unseen))
      .groupBy($"doc_id")
      .agg(
        sum($"n" * coalesce($"lo", $"lo_u").cast("decimal(28,6)"))
          .cast("double").as("s"),
        sum($"n").as("n_tok"))
      .crossJoin(broadcast(prior))
      // score = prior + Σ contributions as the EXACT 6-decimal DECIMAL
      // sum cast to double (both addends are 6-dec quantities) — a
      // final round(·, 4) hit an exact half tie at sf0.1 (Spark
      // half-up vs DuckDB's double-path rounding), the verify-skill
      // tie class; the exact sum has no tie to round
      .select($"doc_id", $"n_tok",
        ($"pri".cast("decimal(18,6)") + $"s".cast("decimal(28,6)"))
          .cast("double").as("score"),
        when($"pri".cast("decimal(18,6)") + $"s".cast("decimal(28,6)") > 0, 1L)
          .otherwise(0L).as("pred"))
  }

  /** Shared oracle CTE fragments (interpolated constants match the
    * Scala side one for one). */
  private val TokCte =
    s"""tok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS word
       |  FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS n FROM tok GROUP BY 1, 2)""".stripMargin

  private val Bm25Cte =
    s"""$TokCte,
       |dl AS (SELECT doc_id, count(*) AS m FROM tok GROUP BY 1),
       |corp AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(COALESCE(SUM(m), 0) AS DOUBLE) / count(*) AS avgdl
       |  FROM documents d LEFT JOIN dl USING (doc_id)),
       |qterms AS (
       |  SELECT DISTINCT doc_id AS qid, unnest(
       |    (list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))[1:$QLen]) AS word
       |  FROM documents WHERE doc_id % $QStep = 0),
       |dfq AS (
       |  SELECT word, count(*) AS df FROM tf
       |  WHERE word IN (SELECT word FROM qterms) GROUP BY 1),
       |contrib AS (
       |  SELECT t.word, t.doc_id,
       |    round(
       |      ln(1.0::DOUBLE + (c.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE))
       |      * (t.n * ${K1 + 1}::DOUBLE)
       |      / (t.n + $K1::DOUBLE * (1.0::DOUBLE - $B::DOUBLE + $B::DOUBLE * d.m / c.avgdl)), 6)
       |      AS c
       |  FROM tf t
       |  JOIN dfq f ON f.word = t.word
       |  JOIN dl d ON d.doc_id = t.doc_id
       |  CROSS JOIN corp c),
       |scored AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(SUM(CAST(t.c AS DECIMAL(18,6))) AS DOUBLE) AS bm25
       |  FROM qterms q
       |  JOIN contrib t ON t.word = q.word AND t.doc_id <> q.qid
       |  GROUP BY q.qid, t.doc_id)""".stripMargin

  /** Appended after [[Bm25Cte]]: the impact-truncated index and its
    * (qid, doc_id) sums. */
  private val Bm25ImpactCte =
    s"""trunc AS (
       |  SELECT word, doc_id, c FROM (
       |    SELECT word, doc_id, c,
       |      row_number() OVER (PARTITION BY word ORDER BY c DESC, doc_id) AS pr
       |    FROM contrib) WHERE pr <= $BmImpactP),
       |iscored AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(SUM(CAST(t.c AS DECIMAL(18,6))) AS DOUBLE) AS bm25
       |  FROM qterms q
       |  JOIN trunc t ON t.word = q.word AND t.doc_id <> q.qid
       |  GROUP BY q.qid, t.doc_id)""".stripMargin

  /** Shared QL oracle fragment: tokenization, collection stats,
    * probed-term cf, the 6-dec contribution, and the exact-tier scored
    * candidates with the Dirichlet length prior (`full_s`). */
  private val QlCte =
    s"""$TokCte,
       |dl AS (SELECT doc_id, count(*) AS m FROM tok GROUP BY 1),
       |tt AS (SELECT CAST(COALESCE(SUM(m), 0) AS BIGINT) AS tt FROM dl),
       |qterms AS (
       |  SELECT DISTINCT doc_id AS qid, unnest(
       |    (list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))[1:$QLen]) AS word
       |  FROM documents WHERE doc_id % $QStep = 0),
       |cf AS (
       |  SELECT word, CAST(SUM(n) AS BIGINT) AS cf FROM tf
       |  WHERE word IN (SELECT word FROM qterms) GROUP BY 1),
       |qlen AS (SELECT qid, count(*) AS qlen FROM qterms GROUP BY 1),
       |contrib AS (
       |  SELECT t.word, t.doc_id,
       |    round(ln(1.0::DOUBLE + CAST(t.n AS DOUBLE) * c.tt / ($QlMu * f.cf)), 6) AS c
       |  FROM tf t JOIN cf f ON f.word = t.word CROSS JOIN tt c),
       |scored AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(SUM(CAST(t.c AS DECIMAL(18,6))) AS DOUBLE) AS sm
       |  FROM qterms q JOIN contrib t ON t.word = q.word AND t.doc_id <> q.qid
       |  GROUP BY 1, 2),
       |full_s AS (
       |  SELECT s.qid, s.doc_id,
       |    s.sm + round(CAST(l.qlen AS DOUBLE)
       |      * ln($QlMu / (d.m + $QlMu)), 6) AS ql
       |  FROM scored s JOIN dl d ON d.doc_id = s.doc_id
       |  JOIN qlen l ON l.qid = s.qid)""".stripMargin

  /** Prior-aware impact key per (word, doc): contribution + the doc's
    * per-query-term Dirichlet prior share, in exact DECIMAL — the
    * ordering [[qlTruncAt]] cuts by. */
  private val QlKeyCte =
    s"""qkey AS (
       |  SELECT t.word, t.doc_id, t.c,
       |    CAST(CAST(t.c AS DECIMAL(18,6))
       |      + CAST(round(ln($QlMu / (d.m + $QlMu)), 6) * $QlPriorW AS DECIMAL(18,6)) AS DOUBLE) AS k
       |  FROM contrib t JOIN dl d ON d.doc_id = t.doc_id)""".stripMargin

  /** Appended after [[QlCte]] + [[QlKeyCte]]: the impact-truncated
    * index and its scored candidates with the length prior (`ifull`). */
  private val QlImpactCte =
    s"""qtrunc AS (
       |  SELECT word, doc_id, c FROM (
       |    SELECT word, doc_id, c,
       |      row_number() OVER (PARTITION BY word ORDER BY k DESC, doc_id) AS pr
       |    FROM qkey) WHERE pr <= $BmImpactP),
       |iscored_q AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(SUM(CAST(t.c AS DECIMAL(18,6))) AS DOUBLE) AS sm
       |  FROM qterms q JOIN qtrunc t ON t.word = q.word AND t.doc_id <> q.qid
       |  GROUP BY 1, 2),
       |ifull AS (
       |  SELECT s.qid, s.doc_id,
       |    s.sm + round(CAST(l.qlen AS DOUBLE)
       |      * ln($QlMu / (d.m + $QlMu)), 6) AS ql
       |  FROM iscored_q s JOIN dl d ON d.doc_id = s.doc_id
       |  JOIN qlen l ON l.qid = s.qid)""".stripMargin

  /** QL fusion-arm oracle chain — appended after [[Bm25Cte]] (which
    * provides tok/tf/dl/qterms) and a `qv` embedded-probe CTE; every
    * name is ql-prefixed so the two scorers' chains compose in ONE
    * WITH. Produces `qlxrank` (exact arm) and `qlirank` (impact arm),
    * both probe-restricted before the posting expansion. */
  private val QlArmCte =
    s"""qltt AS (SELECT CAST(COALESCE(SUM(m), 0) AS BIGINT) AS tt FROM dl),
       |qlcf AS (
       |  SELECT word, CAST(SUM(n) AS BIGINT) AS cf FROM tf
       |  WHERE word IN (SELECT word FROM qterms) GROUP BY 1),
       |qlqlen AS (SELECT qid, count(*) AS qlen FROM qterms GROUP BY 1),
       |qlcontrib AS (
       |  SELECT t.word, t.doc_id,
       |    round(ln(1.0::DOUBLE + CAST(t.n AS DOUBLE) * c.tt / ($QlMu * f.cf)), 6) AS c
       |  FROM tf t JOIN qlcf f ON f.word = t.word CROSS JOIN qltt c),
       |qlxscored AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(SUM(CAST(t.c AS DECIMAL(18,6))) AS DOUBLE) AS sm
       |  FROM qterms q JOIN qlcontrib t ON t.word = q.word AND t.doc_id <> q.qid
       |  WHERE q.qid IN (SELECT qid FROM qv)
       |  GROUP BY 1, 2),
       |qlxfull AS (
       |  SELECT s.qid, s.doc_id,
       |    s.sm + round(CAST(l.qlen AS DOUBLE) * ln($QlMu / (d.m + $QlMu)), 6) AS ql
       |  FROM qlxscored s JOIN dl d ON d.doc_id = s.doc_id
       |  JOIN qlqlen l ON l.qid = s.qid),
       |qlxrank AS (
       |  SELECT qid, doc_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY ql DESC, doc_id) AS rq
       |  FROM qlxfull),
       |qlkey2 AS (
       |  SELECT t.word, t.doc_id, t.c,
       |    CAST(CAST(t.c AS DECIMAL(18,6))
       |      + CAST(round(ln($QlMu / (d.m + $QlMu)), 6) * $QlPriorW AS DECIMAL(18,6)) AS DOUBLE) AS k
       |  FROM qlcontrib t JOIN dl d ON d.doc_id = t.doc_id),
       |qltrunc2 AS (
       |  SELECT word, doc_id, c FROM (
       |    SELECT word, doc_id, c,
       |      row_number() OVER (PARTITION BY word ORDER BY k DESC, doc_id) AS pr
       |    FROM qlkey2) WHERE pr <= $BmImpactP),
       |qliscored AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(SUM(CAST(t.c AS DECIMAL(18,6))) AS DOUBLE) AS sm
       |  FROM qterms q JOIN qltrunc2 t ON t.word = q.word AND t.doc_id <> q.qid
       |  WHERE q.qid IN (SELECT qid FROM qv)
       |  GROUP BY 1, 2),
       |qlifull AS (
       |  SELECT s.qid, s.doc_id,
       |    s.sm + round(CAST(l.qlen AS DOUBLE) * ln($QlMu / (d.m + $QlMu)), 6) AS ql
       |  FROM qliscored s JOIN dl d ON d.doc_id = s.doc_id
       |  JOIN qlqlen l ON l.qid = s.qid),
       |qlirank AS (
       |  SELECT qid, doc_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY ql DESC, doc_id) AS rq
       |  FROM qlifull)""".stripMargin

  /** Three-arm fusion oracle fragment: `${p}bd` pairs the BM25 and
    * dense arms, `${p}fused` adds the QL arm — the SAME fixed
    * left-to-right reciprocal-rank addition as [[rrfFused3]], so both
    * engines compute bit-identical doubles. */
  private def fused3Cte(p: String, dRank: String, qlArm: String): String =
    s"""${p}bd AS (
       |  SELECT COALESCE(b.qid, d.qid) AS qid,
       |    COALESCE(b.doc_id, d.doc_id) AS doc_id, b.rb, d.rd
       |  FROM (SELECT * FROM brank WHERE rb <= $FuseDepth) b
       |  FULL OUTER JOIN (SELECT * FROM $dRank WHERE rd <= $FuseDepth) d
       |    ON b.qid = d.qid AND b.doc_id = d.doc_id),
       |${p}fused AS (
       |  SELECT COALESCE(x.qid, q.qid) AS qid,
       |    COALESCE(x.doc_id, q.doc_id) AS doc_id,
       |    round(COALESCE(1.0::DOUBLE / ($RrfC + x.rb), 0)
       |        + COALESCE(1.0::DOUBLE / ($RrfC + x.rd), 0)
       |        + COALESCE(1.0::DOUBLE / ($RrfC + q.rq), 0), 6) AS rrf
       |  FROM ${p}bd x
       |  FULL OUTER JOIN (SELECT * FROM $qlArm WHERE rq <= $FuseDepth) q
       |    ON x.qid = q.qid AND x.doc_id = q.doc_id)""".stripMargin

  /** The exact QL ranking — the oracle of tx_ql_topk AND, by the
    * rank-safety contract, of tx_ql_wand (both must hash-match it). */
  private val ExactQlSql =
    s"""WITH $QlCte,
       |ranked AS (
       |  SELECT qid, doc_id, ql,
       |    row_number() OVER (PARTITION BY qid ORDER BY ql DESC, doc_id) AS rank
       |  FROM full_s)
       |SELECT qid, rank, doc_id, round(ql, 6) AS ql FROM ranked WHERE rank <= $BmK
       |ORDER BY qid, rank""".stripMargin

  private val NbCte =
    s"""lab AS (
       |  SELECT doc_id,
       |    CASE WHEN round(least(1.0, CAST(n_tok AS DOUBLE)/50.0)*0.5
       |         + least(1.0, CAST(n_stop AS DOUBLE)*10.0/nullif(n_tok,0))*0.5, 4) >= 0.7
       |         THEN 1 ELSE 0 END AS y
       |  FROM (
       |    SELECT doc_id, len(toks) AS n_tok,
       |      len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS n_stop
       |    FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
       |          FROM documents)) WHERE n_tok > 0),
       |$TokCte,
       |trn AS (SELECT tf.doc_id, word, n, y FROM tf JOIN lab USING (doc_id)
       |        WHERE tf.doc_id % 3 <> 0),
       |wc AS (
       |  SELECT word,
       |    CAST(COALESCE(SUM(CASE WHEN y = 1 THEN n END), 0) AS BIGINT) AS c_pos,
       |    CAST(COALESCE(SUM(CASE WHEN y = 0 THEN n END), 0) AS BIGINT) AS c_neg
       |  FROM trn GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos, CAST(SUM(c_neg) AS BIGINT) AS t_neg,
       |         count(*) AS vocab FROM wc),
       |lo AS (
       |  SELECT word, c_pos, c_neg,
       |    round(ln((c_pos + 1.0::DOUBLE) / CAST(t_pos + vocab AS DOUBLE))
       |        - ln((c_neg + 1.0::DOUBLE) / CAST(t_neg + vocab AS DOUBLE)), 6) AS lo
       |  FROM wc CROSS JOIN tot)""".stripMargin

  /** The exact-ranking answer — the oracle of tx_bm25_topk and, by the
    * rank-safety / merge-exactness contracts, of tx_bm25_wand and
    * tx_bm25_incremental too: all three must hash-match it. */
  private val ExactTopkSql =
    s"""WITH $Bm25Cte,
       |ranked AS (
       |  SELECT qid, doc_id, bm25,
       |    row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT qid, rank, doc_id, bm25 FROM ranked WHERE rank <= $BmK
       |ORDER BY qid, rank""".stripMargin

  /** Appended after [[Bm25ImpactCte]]: exclusion bounds, per-query
    * residual budget, truncated-probe detail with covered bound mass,
    * threshold θ, safety verdict, and the safe rescore candidate set —
    * the WAND meter's full re-derivation. */
  private val WandCte =
    s"""bounds AS (
       |  SELECT word, max(c) AS b FROM (
       |    SELECT word, c,
       |      row_number() OVER (PARTITION BY word ORDER BY c DESC, doc_id) AS pr
       |    FROM contrib) WHERE pr > $BmImpactP GROUP BY 1),
       |qtb AS (
       |  SELECT q.qid, q.word, COALESCE(b.b, 0.0::DOUBLE) AS b
       |  FROM qterms q LEFT JOIN bounds b ON b.word = q.word),
       |uq AS (SELECT qid, CAST(SUM(CAST(b AS DECIMAL(18,6))) AS DOUBLE) AS u
       |       FROM qtb GROUP BY 1),
       |det AS (
       |  SELECT q.qid, t.doc_id,
       |    CAST(SUM(CAST(t.c AS DECIMAL(18,6))) AS DOUBLE) AS s_hat,
       |    CAST(SUM(CAST(q.b AS DECIMAL(18,6))) AS DOUBLE) AS covered
       |  FROM qtb q JOIN trunc t ON t.word = q.word AND t.doc_id <> q.qid
       |  GROUP BY 1, 2),
       |nseen AS (SELECT qid, count(*) AS n_seen FROM det GROUP BY 1),
       |theta AS (
       |  SELECT qid, max(CASE WHEN rk = $BmK THEN s_hat END) AS theta FROM (
       |    SELECT qid, s_hat,
       |      row_number() OVER (PARTITION BY qid ORDER BY s_hat DESC, doc_id) AS rk
       |    FROM det) GROUP BY 1),
       |verd AS (
       |  SELECT u.qid, u.u, t.theta, COALESCE(n.n_seen, 0) AS n_seen,
       |    CASE WHEN u.u = 0 THEN 1
       |         WHEN COALESCE(n.n_seen, 0) >= $BmK AND t.theta > u.u THEN 1
       |         ELSE 0 END AS safe
       |  FROM uq u LEFT JOIN theta t ON t.qid = u.qid
       |  LEFT JOIN nseen n ON n.qid = u.qid),
       |cand AS (
       |  SELECT d.qid, d.doc_id FROM det d JOIN verd v ON v.qid = d.qid
       |  WHERE v.safe = 1
       |    AND (v.theta IS NULL
       |      OR CAST(d.s_hat AS DECIMAL(18,6))
       |         + (CAST(v.u AS DECIMAL(18,6)) - CAST(d.covered AS DECIMAL(18,6)))
       |        >= CAST(v.theta AS DECIMAL(18,6))))""".stripMargin

  def oracle: Map[String, String] = Map(

    "tx_bm25_topk" -> ExactTopkSql,

    "tx_bm25_wand" -> ExactTopkSql,

    "tx_bm25_incremental" -> ExactTopkSql,

    "tx_bm25_rm3" ->
      s"""WITH $Bm25Cte,
         |$Bm25ImpactCte,
         |fb AS (
         |  SELECT qid, doc_id, bm25 AS sc FROM (
         |    SELECT qid, doc_id, bm25,
         |      row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rk
         |    FROM iscored) WHERE rk <= $BmK),
         |exp0 AS (
         |  SELECT f.qid, t.word,
         |    CAST(SUM(CAST(round(CAST(t.n AS DOUBLE) / d.m * f.sc, 6)
         |      AS DECIMAL(18,6))) AS DOUBLE) AS w
         |  FROM fb f JOIN tf t ON t.doc_id = f.doc_id
         |  JOIN dl d ON d.doc_id = f.doc_id
         |  GROUP BY 1, 2),
         |expf AS (
         |  SELECT qid, word FROM (
         |    SELECT e.qid, e.word,
         |      row_number() OVER (PARTITION BY e.qid ORDER BY e.w DESC, e.word) AS rk
         |    FROM exp0 e
         |    WHERE NOT EXISTS (
         |      SELECT 1 FROM qterms q WHERE q.qid = e.qid AND q.word = e.word))
         |  WHERE rk <= $RmE),
         |qexp AS (SELECT qid, word FROM qterms UNION SELECT qid, word FROM expf),
         |dfq2 AS (
         |  SELECT word, count(*) AS df FROM tf
         |  WHERE word IN (SELECT word FROM qexp) GROUP BY 1),
         |contrib2 AS (
         |  SELECT t.word, t.doc_id,
         |    round(
         |      ln(1.0::DOUBLE + (c.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE))
         |      * (t.n * ${K1 + 1}::DOUBLE)
         |      / (t.n + $K1::DOUBLE * (1.0::DOUBLE - $B::DOUBLE + $B::DOUBLE * d.m / c.avgdl)), 6)
         |      AS c
         |  FROM tf t
         |  JOIN dfq2 f ON f.word = t.word
         |  JOIN dl d ON d.doc_id = t.doc_id
         |  CROSS JOIN corp c),
         |trunc2 AS (
         |  SELECT word, doc_id, c FROM (
         |    SELECT word, doc_id, c,
         |      row_number() OVER (PARTITION BY word ORDER BY c DESC, doc_id) AS pr
         |    FROM contrib2) WHERE pr <= $BmImpactP),
         |scored2 AS (
         |  SELECT q.qid, t.doc_id,
         |    CAST(SUM(CAST(t.c AS DECIMAL(18,6))) AS DOUBLE) AS bm25
         |  FROM qexp q JOIN trunc2 t ON t.word = q.word AND t.doc_id <> q.qid
         |  GROUP BY 1, 2),
         |ranked2 AS (
         |  SELECT qid, doc_id, bm25,
         |    row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
         |  FROM scored2)
         |SELECT qid, rank, doc_id, bm25 FROM ranked2 WHERE rank <= $BmK
         |ORDER BY qid, rank""".stripMargin,

    "tx_ql_topk" -> ExactQlSql,

    // the oracle of tx_ql_wand IS the exact ranking — the hash gate
    // proves the prior-aware certificate + rescore is rank-safe
    "tx_ql_wand" -> ExactQlSql,

    "tx_ql_wand_meter" ->
      s"""WITH $QlCte,
         |$QlKeyCte,
         |$QlImpactCte,
         |qbounds AS (
         |  SELECT word, max(c) AS b FROM (
         |    SELECT word, c,
         |      row_number() OVER (PARTITION BY word ORDER BY k DESC, doc_id) AS pr
         |    FROM qkey) WHERE pr > $BmImpactP GROUP BY 1),
         |qtb AS (
         |  SELECT q.qid, q.word, COALESCE(b.b, 0.0::DOUBLE) AS b
         |  FROM qterms q LEFT JOIN qbounds b ON b.word = q.word),
         |uq AS (SELECT qid, CAST(SUM(CAST(b AS DECIMAL(18,6))) AS DOUBLE) AS u
         |       FROM qtb GROUP BY 1),
         |qdet AS (
         |  SELECT q.qid, t.doc_id,
         |    CAST(SUM(CAST(t.c AS DECIMAL(18,6))) AS DOUBLE) AS sm_hat,
         |    CAST(SUM(CAST(q.b AS DECIMAL(18,6))) AS DOUBLE) AS covered
         |  FROM qtb q JOIN qtrunc t ON t.word = q.word AND t.doc_id <> q.qid
         |  GROUP BY 1, 2),
         |qdetf AS (
         |  SELECT d.qid, d.doc_id, d.covered,
         |    d.sm_hat + round(CAST(l.qlen AS DOUBLE)
         |      * ln($QlMu / (dd.m + $QlMu)), 6) AS s_hat
         |  FROM qdet d JOIN dl dd ON dd.doc_id = d.doc_id
         |  JOIN qlen l ON l.qid = d.qid),
         |qnseen AS (SELECT qid, count(*) AS n_seen FROM qdetf GROUP BY 1),
         |qtheta AS (
         |  SELECT qid, max(CASE WHEN rk = $BmK THEN s_hat END) AS theta FROM (
         |    SELECT qid, s_hat,
         |      row_number() OVER (PARTITION BY qid ORDER BY s_hat DESC, doc_id) AS rk
         |    FROM qdetf) GROUP BY 1),
         |mnv AS (SELECT min(m) AS mn FROM dl),
         |qmaxp AS (
         |  SELECT l.qid,
         |    round(CAST(l.qlen AS DOUBLE) * ln($QlMu / (v.mn + $QlMu)), 6) AS mp
         |  FROM qlen l CROSS JOIN mnv v),
         |qverd AS (
         |  SELECT u.qid, u.u, t.theta, COALESCE(n.n_seen, 0) AS n_seen,
         |    CASE WHEN u.u = 0 THEN 1
         |         WHEN COALESCE(n.n_seen, 0) >= $BmK
         |           AND CAST(t.theta AS DECIMAL(18,6))
         |             > CAST(u.u AS DECIMAL(18,6)) + CAST(p.mp AS DECIMAL(18,6))
         |         THEN 1
         |         ELSE 0 END AS safe
         |  FROM uq u LEFT JOIN qtheta t ON t.qid = u.qid
         |  LEFT JOIN qnseen n ON n.qid = u.qid
         |  JOIN qmaxp p ON p.qid = u.qid),
         |qcand AS (
         |  SELECT d.qid, d.doc_id FROM qdetf d JOIN qverd v ON v.qid = d.qid
         |  WHERE v.safe = 1
         |    AND (v.theta IS NULL
         |      OR CAST(d.s_hat AS DECIMAL(18,6))
         |         + (CAST(v.u AS DECIMAL(18,6)) - CAST(d.covered AS DECIMAL(18,6)))
         |        >= CAST(v.theta AS DECIMAL(18,6))))
         |SELECT v.qid, CAST(v.safe AS BIGINT) AS safe,
         |  CAST(v.n_seen AS BIGINT) AS n_seen,
         |  CAST(CASE WHEN v.safe = 1 THEN COALESCE(r.n, 0)
         |            ELSE COALESCE(f.n, 0) END AS BIGINT) AS n_rescore
         |FROM qverd v
         |LEFT JOIN (SELECT qid, count(*) AS n FROM qcand GROUP BY 1) r
         |  ON r.qid = v.qid
         |LEFT JOIN (SELECT qid, count(*) AS n FROM full_s GROUP BY 1) f
         |  ON f.qid = v.qid
         |ORDER BY v.qid""".stripMargin,

    "tx_ql_impact" ->
      s"""WITH $QlCte,
         |$QlKeyCte,
         |$QlImpactCte,
         |ranked AS (
         |  SELECT qid, doc_id, ql,
         |    row_number() OVER (PARTITION BY qid ORDER BY ql DESC, doc_id) AS rank
         |  FROM ifull)
         |SELECT qid, rank, doc_id, round(ql, 6) AS ql FROM ranked WHERE rank <= $BmK
         |ORDER BY qid, rank""".stripMargin,

    "tx_ql_recall" ->
      s"""WITH $QlCte,
         |$QlKeyCte,
         |$QlImpactCte,
         |ex AS (
         |  SELECT qid, doc_id FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY ql DESC, doc_id) AS rank
         |    FROM full_s) WHERE rank <= $BmK),
         |im AS (
         |  SELECT qid, doc_id FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY ql DESC, doc_id) AS rank
         |    FROM ifull) WHERE rank <= $BmK),
         |ne AS (SELECT qid, count(*) AS n_exact FROM ex GROUP BY 1),
         |ni AS (SELECT qid, count(*) AS n_impact FROM im GROUP BY 1),
         |nc AS (SELECT e.qid, count(*) AS n_common
         |       FROM ex e JOIN im i ON e.qid = i.qid AND e.doc_id = i.doc_id
         |       GROUP BY 1)
         |SELECT ne.qid, CAST(ne.n_exact AS BIGINT) AS n_exact,
         |  CAST(ni.n_impact AS BIGINT) AS n_impact,
         |  CAST(COALESCE(nc.n_common, 0) AS BIGINT) AS n_common
         |FROM ne JOIN ni ON ne.qid = ni.qid
         |LEFT JOIN nc ON ne.qid = nc.qid
         |ORDER BY ne.qid""".stripMargin,

    "tx_ql_ndcg" ->
      s"""WITH $QlCte,
         |$QlKeyCte,
         |$QlImpactCte,
         |disc(rank, d) AS (
         |  SELECT * FROM (VALUES ${DcgDisc.zipWithIndex
                .map { case (d, i) => s"(${i + 1}, ${d.toPlainString}::DECIMAL(18,6))" }
                .mkString(", ")})),
         |etop AS (
         |  SELECT qid, doc_id, rank FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY ql DESC, doc_id) AS rank
         |    FROM full_s) WHERE rank <= $BmK),
         |itop AS (
         |  SELECT qid, doc_id, rank FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY ql DESC, doc_id) AS rank
         |    FROM ifull) WHERE rank <= $BmK),
         |grades AS (
         |  SELECT qid, doc_id,
         |    CAST(${BmK + 1} - rank AS DECIMAL(18,6)) AS g
         |  FROM etop),
         |dcg AS (
         |  SELECT t.qid,
         |    CAST(SUM(COALESCE(g.g, 0::DECIMAL(18,6)) * x.d) AS DOUBLE) AS dcg
         |  FROM itop t
         |  LEFT JOIN grades g ON g.qid = t.qid AND g.doc_id = t.doc_id
         |  JOIN disc x ON x.rank = t.rank
         |  GROUP BY 1),
         |idcg AS (
         |  SELECT t.qid,
         |    CAST(SUM(g.g * x.d) AS DOUBLE) AS idcg
         |  FROM etop t JOIN grades g ON g.qid = t.qid AND g.doc_id = t.doc_id
         |  JOIN disc x ON x.rank = t.rank
         |  GROUP BY 1)
         |SELECT i.qid, COALESCE(d.dcg, 0.0::DOUBLE) AS dcg, i.idcg,
         |  round(COALESCE(d.dcg, 0.0::DOUBLE) / i.idcg, 4) AS ndcg
         |FROM idcg i LEFT JOIN dcg d ON d.qid = i.qid
         |ORDER BY i.qid""".stripMargin,

    "tx_ql_safe" ->
      s"""WITH $QlCte,
         |$QlKeyCte,
         |qbounds AS (
         |  SELECT word, max(c) AS b FROM (
         |    SELECT word, c,
         |      row_number() OVER (PARTITION BY word ORDER BY k DESC, doc_id) AS pr
         |    FROM qkey) WHERE pr > $BmImpactP GROUP BY 1),
         |qtb AS (
         |  SELECT q.qid, q.word, COALESCE(b.b, 0.0::DOUBLE) AS b
         |  FROM qterms q LEFT JOIN qbounds b ON b.word = q.word),
         |uq AS (SELECT qid, CAST(SUM(CAST(b AS DECIMAL(18,6))) AS DOUBLE) AS u
         |       FROM qtb GROUP BY 1)
         |SELECT qid, u,
         |  CAST(CASE WHEN u = 0 THEN 1 ELSE 0 END AS BIGINT) AS safe
         |FROM uq ORDER BY qid""".stripMargin,

    "tx_bm25_ndcg" ->
      s"""WITH $Bm25Cte,
         |$Bm25ImpactCte,
         |disc(rank, d) AS (
         |  SELECT * FROM (VALUES ${DcgDisc.zipWithIndex
                .map { case (d, i) => s"(${i + 1}, ${d.toPlainString}::DECIMAL(18,6))" }
                .mkString(", ")})),
         |itop AS (
         |  SELECT qid, doc_id, rank FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
         |    FROM iscored) WHERE rank <= $BmK),
         |etop AS (
         |  SELECT qid, doc_id, rank FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
         |    FROM scored) WHERE rank <= $BmK),
         |dcg AS (
         |  SELECT t.qid,
         |    CAST(SUM(CAST(s.bm25 AS DECIMAL(18,6)) * x.d) AS DOUBLE) AS dcg
         |  FROM itop t JOIN scored s ON s.qid = t.qid AND s.doc_id = t.doc_id
         |  JOIN disc x ON x.rank = t.rank
         |  GROUP BY 1),
         |idcg AS (
         |  SELECT t.qid,
         |    CAST(SUM(CAST(s.bm25 AS DECIMAL(18,6)) * x.d) AS DOUBLE) AS idcg
         |  FROM etop t JOIN scored s ON s.qid = t.qid AND s.doc_id = t.doc_id
         |  JOIN disc x ON x.rank = t.rank
         |  GROUP BY 1)
         |SELECT i.qid, COALESCE(d.dcg, 0.0::DOUBLE) AS dcg, i.idcg,
         |  round(COALESCE(d.dcg, 0.0::DOUBLE) / i.idcg, 4) AS ndcg
         |FROM idcg i LEFT JOIN dcg d ON d.qid = i.qid
         |ORDER BY i.qid""".stripMargin,

    "tx_bm25_wand_meter" ->
      s"""WITH $Bm25Cte,
         |$Bm25ImpactCte,
         |$WandCte
         |SELECT v.qid, CAST(v.safe AS BIGINT) AS safe,
         |  CAST(v.n_seen AS BIGINT) AS n_seen,
         |  CAST(CASE WHEN v.safe = 1 THEN COALESCE(r.n, 0)
         |            ELSE COALESCE(f.n, 0) END AS BIGINT) AS n_rescore
         |FROM verd v
         |LEFT JOIN (SELECT qid, count(*) AS n FROM cand GROUP BY 1) r
         |  ON r.qid = v.qid
         |LEFT JOIN (SELECT qid, count(*) AS n FROM scored GROUP BY 1) f
         |  ON f.qid = v.qid
         |ORDER BY v.qid""".stripMargin,

    "tx_bm25_impact" ->
      s"""WITH $Bm25Cte,
         |$Bm25ImpactCte,
         |ranked AS (
         |  SELECT qid, doc_id, bm25,
         |    row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
         |  FROM iscored)
         |SELECT qid, rank, doc_id, bm25 FROM ranked WHERE rank <= $BmK
         |ORDER BY qid, rank""".stripMargin,

    "tx_bm25_recall" ->
      s"""WITH $Bm25Cte,
         |$Bm25ImpactCte,
         |ex AS (
         |  SELECT qid, doc_id FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
         |    FROM scored) WHERE rank <= $BmK),
         |im AS (
         |  SELECT qid, doc_id FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank
         |    FROM iscored) WHERE rank <= $BmK),
         |ne AS (SELECT qid, count(*) AS n_exact FROM ex GROUP BY 1),
         |ni AS (SELECT qid, count(*) AS n_impact FROM im GROUP BY 1),
         |nc AS (SELECT e.qid, count(*) AS n_common
         |       FROM ex e JOIN im i ON e.qid = i.qid AND e.doc_id = i.doc_id
         |       GROUP BY 1)
         |SELECT ne.qid, CAST(ne.n_exact AS BIGINT) AS n_exact,
         |  CAST(ni.n_impact AS BIGINT) AS n_impact,
         |  CAST(COALESCE(nc.n_common, 0) AS BIGINT) AS n_common
         |FROM ne JOIN ni ON ne.qid = ni.qid
         |LEFT JOIN nc ON ne.qid = nc.qid
         |ORDER BY ne.qid""".stripMargin,

    "ann_hybrid_rrf" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(embedding) + 1),
         |        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) AS norm2
         |  FROM embeddings),
         |$Bm25Cte,
         |$Bm25ImpactCte,
         |qv AS (SELECT vec_id AS qid FROM v WHERE vec_id % $QStep = 0),
         |brank AS (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rb
         |  FROM iscored WHERE qid IN (SELECT qid FROM qv)),
         |dpairs AS (
         |  SELECT q.qid, x.vec_id AS doc_id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.embedding) + 1),
         |        i -> p.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)),
         |      (a, b) -> a + b) / sqrt(p.norm2 * x.norm2) AS cos
         |  FROM qv q JOIN v p ON p.vec_id = q.qid
         |  JOIN v x ON x.vec_id <> q.qid),
         |drank AS (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rd
         |  FROM dpairs),
         |fused AS (
         |  SELECT COALESCE(b.qid, d.qid) AS qid, COALESCE(b.doc_id, d.doc_id) AS doc_id,
         |    round(COALESCE(1.0::DOUBLE / ($RrfC + b.rb), 0)
         |        + COALESCE(1.0::DOUBLE / ($RrfC + d.rd), 0), 6) AS rrf
         |  FROM (SELECT * FROM brank WHERE rb <= $FuseDepth) b
         |  FULL OUTER JOIN (SELECT * FROM drank WHERE rd <= $FuseDepth) d
         |    ON b.qid = d.qid AND b.doc_id = d.doc_id),
         |ranked AS (
         |  SELECT qid, doc_id, rrf,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fused)
         |SELECT qid, rank, doc_id, rrf FROM ranked WHERE rank <= $HybK
         |ORDER BY qid, rank""".stripMargin,

    "ann_hybrid_serving" ->
      s"""${Similarity.VecCte},
         |${Similarity.TrainedAsgCte},
         |${Similarity.PqCte},
         |${Similarity.pqSearchCtesWhere(s"vec_id % $QStep = 0")},
         |$Bm25Cte,
         |$Bm25ImpactCte,
         |qv AS (SELECT vec_id AS qid FROM v WHERE vec_id % $QStep = 0),
         |brank AS (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rb
         |  FROM iscored WHERE qid IN (SELECT qid FROM qv)),
         |srank AS (
         |  SELECT probe AS qid, neighbor AS doc_id, rank AS rd
         |  FROM pq5 WHERE rank <= $FuseDepth),
         |sfused AS (
         |  SELECT COALESCE(b.qid, d.qid) AS qid, COALESCE(b.doc_id, d.doc_id) AS doc_id,
         |    round(COALESCE(1.0::DOUBLE / ($RrfC + b.rb), 0)
         |        + COALESCE(1.0::DOUBLE / ($RrfC + d.rd), 0), 6) AS rrf
         |  FROM (SELECT * FROM brank WHERE rb <= $FuseDepth) b
         |  FULL OUTER JOIN srank d
         |    ON b.qid = d.qid AND b.doc_id = d.doc_id),
         |sranked AS (
         |  SELECT qid, doc_id, rrf,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank
         |  FROM sfused)
         |SELECT qid, rank, doc_id, rrf FROM sranked WHERE rank <= $HybK
         |ORDER BY qid, rank""".stripMargin,

    "ann_hybrid_recall" ->
      s"""${Similarity.VecCte},
         |${Similarity.TrainedAsgCte},
         |${Similarity.PqCte},
         |${Similarity.pqSearchCtesWhere(s"vec_id % $QStep = 0")},
         |$Bm25Cte,
         |$Bm25ImpactCte,
         |qv AS (SELECT vec_id AS qid FROM v WHERE vec_id % $QStep = 0),
         |brank AS (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rb
         |  FROM iscored WHERE qid IN (SELECT qid FROM qv)),
         |dpairs AS (
         |  SELECT q.qid, x.vec_id AS doc_id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.embedding) + 1),
         |        i -> p.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)),
         |      (a, b) -> a + b) / sqrt(p.norm2 * x.norm2) AS cos
         |  FROM qv q JOIN v p ON p.vec_id = q.qid
         |  JOIN v x ON x.vec_id <> q.qid),
         |drank AS (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rd
         |  FROM dpairs),
         |efused AS (
         |  SELECT COALESCE(b.qid, d.qid) AS qid, COALESCE(b.doc_id, d.doc_id) AS doc_id,
         |    round(COALESCE(1.0::DOUBLE / ($RrfC + b.rb), 0)
         |        + COALESCE(1.0::DOUBLE / ($RrfC + d.rd), 0), 6) AS rrf
         |  FROM (SELECT * FROM brank WHERE rb <= $FuseDepth) b
         |  FULL OUTER JOIN (SELECT * FROM drank WHERE rd <= $FuseDepth) d
         |    ON b.qid = d.qid AND b.doc_id = d.doc_id),
         |etop AS (
         |  SELECT qid, doc_id FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank
         |    FROM efused) WHERE rank <= $HybK),
         |srank AS (
         |  SELECT probe AS qid, neighbor AS doc_id, rank AS rd
         |  FROM pq5 WHERE rank <= $FuseDepth),
         |sfused AS (
         |  SELECT COALESCE(b.qid, d.qid) AS qid, COALESCE(b.doc_id, d.doc_id) AS doc_id,
         |    round(COALESCE(1.0::DOUBLE / ($RrfC + b.rb), 0)
         |        + COALESCE(1.0::DOUBLE / ($RrfC + d.rd), 0), 6) AS rrf
         |  FROM (SELECT * FROM brank WHERE rb <= $FuseDepth) b
         |  FULL OUTER JOIN srank d
         |    ON b.qid = d.qid AND b.doc_id = d.doc_id),
         |stop AS (
         |  SELECT qid, doc_id FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank
         |    FROM sfused) WHERE rank <= $HybK),
         |ne AS (SELECT qid, count(*) AS n_exact FROM etop GROUP BY 1),
         |ns AS (SELECT qid, count(*) AS n_serving FROM stop GROUP BY 1),
         |nc AS (SELECT e.qid, count(*) AS n_common
         |       FROM etop e JOIN stop s ON s.qid = e.qid AND s.doc_id = e.doc_id
         |       GROUP BY 1)
         |SELECT ne.qid, CAST(ne.n_exact AS BIGINT) AS n_exact,
         |  CAST(ns.n_serving AS BIGINT) AS n_serving,
         |  CAST(COALESCE(nc.n_common, 0) AS BIGINT) AS n_common
         |FROM ne JOIN ns ON ns.qid = ne.qid
         |LEFT JOIN nc ON nc.qid = ne.qid
         |ORDER BY ne.qid""".stripMargin,

    "ann_hybrid_ql_rrf" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(embedding) + 1),
         |        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) AS norm2
         |  FROM embeddings),
         |$Bm25Cte,
         |$Bm25ImpactCte,
         |qv AS (SELECT vec_id AS qid FROM v WHERE vec_id % $QStep = 0),
         |$QlArmCte,
         |brank AS (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rb
         |  FROM iscored WHERE qid IN (SELECT qid FROM qv)),
         |dpairs AS (
         |  SELECT q.qid, x.vec_id AS doc_id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.embedding) + 1),
         |        i -> p.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)),
         |      (a, b) -> a + b) / sqrt(p.norm2 * x.norm2) AS cos
         |  FROM qv q JOIN v p ON p.vec_id = q.qid
         |  JOIN v x ON x.vec_id <> q.qid),
         |drank AS (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rd
         |  FROM dpairs),
         |${fused3Cte("e", "drank", "qlxrank")},
         |ranked AS (
         |  SELECT qid, doc_id, rrf,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank
         |  FROM efused)
         |SELECT qid, rank, doc_id, rrf FROM ranked WHERE rank <= $HybK
         |ORDER BY qid, rank""".stripMargin,

    "ann_hybrid_ql_serving" ->
      s"""${Similarity.VecCte},
         |${Similarity.TrainedAsgCte},
         |${Similarity.PqCte},
         |${Similarity.pqSearchCtesWhere(s"vec_id % $QStep = 0")},
         |$Bm25Cte,
         |$Bm25ImpactCte,
         |qv AS (SELECT vec_id AS qid FROM v WHERE vec_id % $QStep = 0),
         |$QlArmCte,
         |brank AS (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rb
         |  FROM iscored WHERE qid IN (SELECT qid FROM qv)),
         |srank AS (
         |  SELECT probe AS qid, neighbor AS doc_id, rank AS rd
         |  FROM pq5 WHERE rank <= $FuseDepth),
         |${fused3Cte("s", "srank", "qlirank")},
         |sranked AS (
         |  SELECT qid, doc_id, rrf,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank
         |  FROM sfused)
         |SELECT qid, rank, doc_id, rrf FROM sranked WHERE rank <= $HybK
         |ORDER BY qid, rank""".stripMargin,

    "ann_hybrid_ql_recall" ->
      s"""${Similarity.VecCte},
         |${Similarity.TrainedAsgCte},
         |${Similarity.PqCte},
         |${Similarity.pqSearchCtesWhere(s"vec_id % $QStep = 0")},
         |$Bm25Cte,
         |$Bm25ImpactCte,
         |qv AS (SELECT vec_id AS qid FROM v WHERE vec_id % $QStep = 0),
         |$QlArmCte,
         |brank AS (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rb
         |  FROM iscored WHERE qid IN (SELECT qid FROM qv)),
         |dpairs AS (
         |  SELECT q.qid, x.vec_id AS doc_id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.embedding) + 1),
         |        i -> p.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)),
         |      (a, b) -> a + b) / sqrt(p.norm2 * x.norm2) AS cos
         |  FROM qv q JOIN v p ON p.vec_id = q.qid
         |  JOIN v x ON x.vec_id <> q.qid),
         |drank AS (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rd
         |  FROM dpairs),
         |srank AS (
         |  SELECT probe AS qid, neighbor AS doc_id, rank AS rd
         |  FROM pq5 WHERE rank <= $FuseDepth),
         |${fused3Cte("e", "drank", "qlxrank")},
         |${fused3Cte("s", "srank", "qlirank")},
         |etop AS (
         |  SELECT qid, doc_id FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank
         |    FROM efused) WHERE rank <= $HybK),
         |stop AS (
         |  SELECT qid, doc_id FROM (
         |    SELECT qid, doc_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rank
         |    FROM sfused) WHERE rank <= $HybK),
         |ne AS (SELECT qid, count(*) AS n_exact FROM etop GROUP BY 1),
         |ns AS (SELECT qid, count(*) AS n_serving FROM stop GROUP BY 1),
         |nc AS (SELECT e.qid, count(*) AS n_common
         |       FROM etop e JOIN stop s ON s.qid = e.qid AND s.doc_id = e.doc_id
         |       GROUP BY 1)
         |SELECT ne.qid, CAST(ne.n_exact AS BIGINT) AS n_exact,
         |  CAST(ns.n_serving AS BIGINT) AS n_serving,
         |  CAST(COALESCE(nc.n_common, 0) AS BIGINT) AS n_common
         |FROM ne JOIN ns ON ns.qid = ne.qid
         |LEFT JOIN nc ON nc.qid = ne.qid
         |ORDER BY ne.qid""".stripMargin,

    "tx_nb_train" ->
      s"""WITH $NbCte,
         |ranked AS (
         |  SELECT word, c_pos, c_neg, lo,
         |    row_number() OVER (ORDER BY abs(lo) DESC, word) AS rank
         |  FROM lo WHERE c_pos + c_neg >= $NbMinCount)
         |SELECT rank, word, c_pos, c_neg, lo FROM ranked WHERE rank <= $NbTopK
         |ORDER BY rank""".stripMargin,

    "tx_nb_score" ->
      s"""WITH $NbCte,
         |$NbScoreCte
         |SELECT doc_id, n_tok, score, pred FROM preds ORDER BY doc_id""".stripMargin,

    // Confusion of the held-out predictions against the gate's own
    // verdicts — shares the scoring CTE with tx_nb_score verbatim.
    "tx_nb_confusion" ->
      s"""WITH $NbCte,
         |$NbScoreCte,
         |cells AS (
         |  SELECT p.pred, CAST(l.y AS BIGINT) AS y, CAST(count(*) AS BIGINT) AS n
         |  FROM preds p JOIN lab l USING (doc_id)
         |  WHERE l.doc_id % 3 = 0
         |  GROUP BY 1, 2),
         |ct AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM cells)
         |SELECT pred, y, n, round(CAST(n AS DOUBLE) / tot, 6) AS share
         |FROM cells CROSS JOIN ct ORDER BY pred, y""".stripMargin)

  /** Held-out scoring chain appended after [[NbCte]] — the SQL twin of
    * [[nbScored]], shared by tx_nb_score and tx_nb_confusion. */
  private val NbScoreCte =
    s"""cls AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN y = 1 THEN 1 END), 0) AS BIGINT) AS n_pos,
       |         CAST(COALESCE(SUM(CASE WHEN y = 0 THEN 1 END), 0) AS BIGINT) AS n_neg
       |  FROM lab WHERE doc_id % 3 <> 0),
       |prior AS (SELECT round(ln((n_pos + 1.0::DOUBLE) / (n_neg + 1.0::DOUBLE)), 6) AS pri FROM cls),
       |unseen AS (SELECT round(ln(CAST(t_neg + vocab AS DOUBLE)
       |                        / CAST(t_pos + vocab AS DOUBLE)), 6) AS lo_u FROM tot),
       |tst AS (SELECT tf.doc_id, word, n FROM tf WHERE tf.doc_id % 3 = 0),
       |scontrib AS (
       |  SELECT t.doc_id,
       |    CAST(SUM(t.n * CAST(COALESCE(l.lo, u.lo_u) AS DECIMAL(28,6))) AS DOUBLE) AS s,
       |    CAST(SUM(t.n) AS BIGINT) AS n_tok
       |  FROM tst t LEFT JOIN lo l USING (word) CROSS JOIN unseen u
       |  GROUP BY t.doc_id),
       |preds AS (
       |  SELECT c.doc_id, c.n_tok,
       |    CAST(CAST(p.pri AS DECIMAL(18,6)) + CAST(c.s AS DECIMAL(28,6)) AS DOUBLE) AS score,
       |    CAST(CASE WHEN CAST(p.pri AS DECIMAL(18,6)) + CAST(c.s AS DECIMAL(28,6)) > 0
       |         THEN 1 ELSE 0 END AS BIGINT) AS pred
       |  FROM scontrib c CROSS JOIN prior p)""".stripMargin

  /** Driver-side export of the trained NB model for the streaming
    * scorer: (word → log-odds in exact micros, unseen-word log-odds in
    * micros, prior). Every value is COLLECTED from the same Spark
    * expressions the batch tx_nb_score evaluates — not recomputed
    * driver-side — so the streaming fold replays the batch arithmetic
    * bit for bit (the log-odds are 6-decimal-rounded, so scaled-long
    * micros represent them exactly; summing micros in a per-row long
    * fold IS the batch side's order-independent DECIMAL sum).
    *
    * 100 TB posture: same as [[TextAnalysis.unigramLmMap]] — the model
    * is vocabulary-bounded; past broadcast size the per-row shape loads
    * a task-local map from the staged model parquet in mapPartitions.
    */
  private[graft] def nbScoreParams(
      s: SparkSession, dir: String): (Map[String, Long], Long, Double) = {
    import s.implicits._
    val (lo, tot) = nbModel(s, dir)
    def micros(d: Double): Long =
      BigDecimal(java.math.BigDecimal.valueOf(d))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .underlying.movePointRight(6).longValueExact
    val loMap = lo.select($"word", $"lo").collect()
      .map(r => r.getString(0) -> micros(r.getDouble(1))).toMap
    val loU = micros(tot.select(
      round(log(($"t_neg" + $"vocab").cast("double")
        / ($"t_pos" + $"vocab").cast("double")), 6)).collect()(0).getDouble(0))
    val prior = gateLabels(s, dir).filter($"doc_id" % 3 =!= 0)
      .agg(coalesce(sum(when($"y" === 1, 1L)), lit(0L)).as("n_pos"),
        coalesce(sum(when($"y" === 0, 1L)), lit(0L)).as("n_neg"))
      .select(round(log(($"n_pos" + lit(1.0)) / ($"n_neg" + lit(1.0))), 6))
      .collect()(0).getDouble(0)
    (loMap, loU, prior)
  }

  /** Drop and release this module's session memos ([[Memo]]). */
  def clearCaches(): Unit = Memo.clear("Retrieval")
}
