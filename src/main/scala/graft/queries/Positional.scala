package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Memo, Staging, Tables}
import graft.queries.QueryFns.wsTokens

/** Positional retrieval — exact phrase and proximity search, the two
  * IR operators a bag-of-words lexical tier (BM25/QL) cannot express:
  *
  *  - `tx_phrase_search` — per query phrase (the first 3 tokens of
  *    every %[[Retrieval.QStep]]-stride corpus doc, the family's
  *    query-by-example convention), the top-10 docs by exact-phrase
  *    occurrence count.
  *  - `tx_phrase_meter` — the corpus-level instrument: per query, how
  *    many docs and total occurrences the phrase has (every query
  *    matches at least its own probe doc — the self-match anchor).
  *  - `tx_proximity` — unordered two-term proximity: per query (the
  *    probe doc's first token and its first DIFFERING token), the
  *    top-10 docs by minimum token distance between the two terms,
  *    within a distance bound of [[ProxW]].
  *
  * Scale posture (100 TB): the positional index (word, doc_id, pos) is
  * the standard positional-postings artifact, staged per corpus
  * generation and partitioned by word; maintenance is a pure union
  * (positions are a per-doc derivation with no corpus-dependent state,
  * like the dedup window index). Per query the work is bounded by the
  * probed terms' postings: the query-term frame is broadcast ONTO the
  * postings (the BM25 probe device — postings are corpus-sized, the
  * probe is queries × ≤3 terms), phrase assembly is ONE aggregation
  * keyed by (query, doc, aligned start) — count-distinct-offsets = the
  * phrase length admits a match, which handles repeated query words
  * without special cases. Proximity does NOT join the two terms'
  * occurrence lists pairwise (tf₁ × tf₂ per doc blows up exactly on
  * the stop-word-ish terms that matter): it MERGES both posting
  * streams per (query, doc) and takes one lag-window pass — the
  * plane-sweep; the minimum distance is always realized by an
  * adjacent pair in merged position order, so the cost is
  * O(tf log tf) per doc and the window partition key is (query, doc),
  * never the corpus.
  */
object Positional {

  /** Proximity distance bound (tokens). */
  private[queries] val ProxW = 10

  /** Anchor-candidate cap for the TRUNCATED phrase tier
    * (`tx_phrase_capped`): each anchor term's stored posting list is
    * cut to its first [[PhraseCapP]] postings by (doc_id, pos) — the
    * positional family's impact-tier convention (a doc-ordered index
    * read stops after P postings), bounding per-query candidate work at
    * O(P) regardless of the anchor's document frequency. A query whose
    * anchor df ≤ P is EXACT (its full posting list survived the cut —
    * rows equal tx_phrase_search's); the per-query flag says so, and
    * `tx_phrase_cap_meter` prices the cut per query. At the gate
    * corpora (measured): sf0.001 and sf0.01 read anchor df ~850-950 —
    * every query exact, rows hash-equal tx_phrase_search's; sf0.1
    * reads anchor df ~8.8-9.1k — every query capped (flag 0,
    * candidates from the doc_id-first prefix). Both oracle branches
    * are gate-exercised across the three SFs, and PositionalSpec
    * plants an over/under-cap pair in one corpus.
    */
  private[queries] val PhraseCapP = 2000

  /** Drop and release this module's session memos ([[Memo]]). */
  def clearCaches(): Unit = Memo.clear("Positional")

  /** Force-build the positional family's durable artifacts for `dir` —
    * the index-build half of the capped tier's production split. */
  def stageIndexes(s: SparkSession, dir: String): Unit =
    Staging.buildAll(s)(
      () => positionalIndex(s, dir),
      () => cappedIndex(s, dir),
      () => bigramIndex(s, dir),
      () => positionalCf(s, dir),
      () => bigramCf(s, dir))

  /** The STAGED per-word posting-count table (word, df) of the
    * positional index — the per-list length metadata a production
    * positional index stores beside its postings (the [[Retrieval]]
    * incBaseAggs device applied here; r17 optimization). Anchor
    * selection needs exactly these counts for the probed words, and
    * deriving them per query re-scanned + re-aggregated the full
    * postings table (~0.5–0.8 s per phrase query at sf0.1) where a
    * vocabulary-sized artifact lookup answers the same question. For
    * any probed word the staged count equals the per-probe derivation
    * (the count is per-word independent), so every anchor choice — and
    * the meters that EXPOSE adf — is bit-identical.
    */
  private[queries] def positionalCf(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Positional.positional_cf") {
      Staging.readElseBuild(s, dir, "positional_cf", Seq("documents")) {
        positionalIndex(s, dir).groupBy(col("word"))
          .agg(count(lit(1)).as("df"))
      }.persist()
    }

  /** The staged (bg, df) twin of [[positionalCf]] for the biword index. */
  private[queries] def bigramCf(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Positional.bigram_cf") {
      Staging.readElseBuild(s, dir, "bigram_cf", Seq("documents")) {
        bigramIndex(s, dir).groupBy(col("bg"))
          .agg(count(lit(1)).as("df"))
      }.persist()
    }

  /** The staged positional index: (word, doc_id, pos), lowercased
    * whitespace tokens (the lexical family's tokenizer). pos is
    * 0-based here and 1-based in the oracle — positions never leave a
    * query (only counts and differences do), so the bases never meet.
    */
  private[graft] def positionalIndex(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Positional.positional_index") {
      Staging.readElseBuild(s, dir, "positional_index", Seq("documents")) {
        positionalRowsOf(s, Tables(s, dir).documents
          .repartition(s.sparkContext.defaultParallelism))
      }.persist()
    }

  /** The DURABLE capped lists — every word's postings cut to the first
    * [[PhraseCapP]] by (doc_id, pos), staged per corpus generation with
    * the depth in the artifact name (the [[Retrieval]] impactIndex
    * template on the positional index): the cut is built ONCE by the
    * offline index job, and query time probes the stored artifact
    * instead of re-deriving the cut per query. The build is the
    * family's bounded-heap partial aggregate
    * ([[graft.functions.GroupedMinK]] — the [[Retrieval]] impact
    * builds' GroupedTopK device, prefix-keeping): each map task ships
    * at most P pairs per word, so a stop word's full posting list is
    * never sorted in one task (the per-word `row_number` window this
    * replaces was exactly that single-task sort at 100 TB; rows are
    * identical — PositionalSpec pins heap-cut == window-cut). For any
    * probed word the rows equal the per-probe derivation (truncation
    * is per-word independent), so the oracle's probed-words-only
    * re-derivation checks the artifact exactly.
    */
  private[graft] def cappedIndex(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Positional.positional_cap") {
      Staging.readElseBuild(s, dir, s"positional_cap_p$PhraseCapP", Seq("documents")) {
        cappedCut(positionalIndex(s, dir))
      }.persist()
    }

  /** The capped-list BUILD: each word's first [[PhraseCapP]] postings
    * by (doc_id, pos), as a bounded-heap partial aggregate — exposed
    * apart from the staging wrapper so PositionalSpec can pin both the
    * rows (== the window derivation's) and the plan (no Window). */
  private[graft] def cappedCut(index: DataFrame): DataFrame = {
    import index.sparkSession.implicits._
    index
      .groupBy($"word")
      .agg(graft.functions.GroupedMinK.groupedMinK(
        $"doc_id", $"pos".cast("long"), PhraseCapP).as("top"))
      .select($"word", explode($"top").as("e"))
      .select($"e.a".as("doc_id"), $"e.b".cast("int").as("pos"), $"word")
  }

  /** The staged positional BIGRAM index (bg, doc_id, pos) — the
    * classic biword device (Manning et al., IR ch. 2): one row per
    * adjacent token pair, pos = the pair's start. A 3-token phrase is
    * exactly two overlapping bigrams, and df(bigram) is typically
    * orders of magnitude below df(word), so candidate generation from
    * the RARER bigram is bounded far tighter than the word-anchored
    * plan — exact results (tx_phrase_bigram's oracle IS
    * tx_phrase_search's SQL: the hash gate proves route equivalence)
    * at a fraction of the candidate volume
    * (`tx_phrase_bigram_meter` prices the ratio per query). Same
    * maintenance story as the word index: a pure per-doc derivation,
    * merged by union. Costs one positional-index-sized artifact —
    * the standard space-for-candidates trade the biword index makes.
    */
  private[graft] def bigramIndex(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Positional.bigram_index") {
      Staging.readElseBuild(s, dir, "bigram_index", Seq("documents")) {
        bigramRowsOf(s, Tables(s, dir).documents
          .repartition(s.sparkContext.defaultParallelism))
      }.persist()
    }

  /** `dir`'s staged positional index extended by a batch of (doc_id,
    * text) — pure union: positions are a per-doc derivation with no
    * corpus-dependent state (the window-index argument), so this merge
    * is unconditionally exact ([[graft.queries]] DeltaMergeSpec pins
    * merged == rebuilt-from-union). The maintenance half of the
    * positional serving loop: merge per admitted batch, republish via
    * [[writePositionalGeneration]] at the cadence the serving tier
    * wants.
    */
  def mergedPositionalIndex(s: SparkSession, dir: String, batch: DataFrame): DataFrame =
    positionalIndex(s, dir).unionByName(positionalRowsOf(s, batch))

  /** The per-doc positional derivation of a (doc_id, text) batch — the
    * delta side every positional merge unions in. */
  private def positionalRowsOf(s: SparkSession, batch: DataFrame): DataFrame = {
    import s.implicits._
    batch.select($"doc_id", wsTokens(lower($"text")).as("toks"))
      .select($"doc_id", posexplode($"toks").as(Seq("pos", "word")))
  }

  /** The per-doc biword derivation of a (doc_id, text) batch. */
  private def bigramRowsOf(s: SparkSession, batch: DataFrame): DataFrame = {
    import s.implicits._
    batch.select($"doc_id", wsTokens(lower($"text")).as("toks"))
      .select($"doc_id", posexplode(
        when(size($"toks") >= 2,
          transform(sequence(lit(1), size($"toks") - 1),
            i => concat(element_at($"toks", i), lit(" "),
              element_at($"toks", i + 1))))
          .otherwise(array().cast("array<string>")))
        .as(Seq("pos", "bg")))
  }

  /** `dir`'s staged biword index extended by a batch — the same pure
    * per-doc-derivation union as [[mergedPositionalIndex]], for the
    * generation's `bigrams` slice: the exact fast route's maintenance
    * half (DeltaMergeSpec pins merged == rebuilt-from-union). */
  def mergedBigramIndex(s: SparkSession, dir: String, batch: DataFrame): DataFrame =
    bigramIndex(s, dir).unionByName(bigramRowsOf(s, batch))

  /** The capped anchor lists of `dir` ∪ batch, computed from the STORED
    * cut plus the batch's raw postings — EXACT, because the per-word
    * (doc_id, pos)-prefix min-k is mergeable: every row of the union's
    * true cut is among the k smallest of its own side, so
    * minK(A ∪ B) = minK(minK(A) ∪ B). This is what lets an ingest loop
    * maintain the truncated tier without re-reading corpus A's full
    * postings — including the DISPLACEMENT case where batch doc_ids
    * sort below an existing word's stored prefix (spec-pinned). */
  def mergedCappedIndex(s: SparkSession, dir: String, batch: DataFrame): DataFrame =
    cappedCut(cappedIndex(s, dir).select(
        col("word"), col("doc_id"), col("pos"))
      .unionByName(positionalRowsOf(s, batch)
        .select(col("word"), col("doc_id"), col("pos"))))

  /** Sentinel for "the unrestricted gate probe set" — a stable
    * reference, so the default-probe path below can recognise itself
    * and hit the session memo (an explicit restriction column never
    * does). */
  private[queries] val GateAll: org.apache.spark.sql.Column = lit(true)

  /** Session memo of the GATE probe-token frame (r17 optimization):
    * queries × 1 rows, but its derivation — a documents scan + filter +
    * tokenize — was re-planned by every phrase/proximity/snippet query
    * (≈10 consumers per bench run). The probe set is an INPUT, shared
    * the way a serving tier holds its query batch in memory. Restricted
    * probes (the scale ladders' fixed batches) bypass the memo.
    *
    * Probe docs with their materialized token arrays. The gate query
    * set is the family's %QStep stride; the scale probe narrows it to
    * a fixed batch via `extra` (a serving deployment has a per-batch
    * query budget — ms/query must not conflate batch size with corpus
    * scale).
    */
  private def probeToks(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column): DataFrame = {
    def derive = {
      import s.implicits._
      Tables(s, dir).documents
        .filter($"doc_id" % Retrieval.QStep === 0 && extra)
        .select($"doc_id".as("qid"), wsTokens(lower($"text")).as("toks"))
    }
    if (extra eq GateAll)
      Memo(s, dir, "Positional.gate_toks")(derive.persist())
    else derive
  }

  /** The gate phrase set: (qid, idx, word) for the first 3 tokens of
    * each probe doc (docs shorter than 3 tokens drop out — none do on
    * the test corpora, and the filter is identical on both engines).
    */
  private[queries] def queryPhrases(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column = GateAll): DataFrame = {
    import s.implicits._
    phrasesFromToks(s, probeToks(s, dir, extra))
  }

  private def phrasesFromToks(s: SparkSession, pt: DataFrame): DataFrame = {
    import s.implicits._
    pt.filter(size($"toks") >= 3)
      .select($"qid", posexplode(slice($"toks", 1, 3)).as(Seq("idx", "word")))
  }

  /** Phrase probes (qid, idx, word) from an arbitrary (doc_id, text)
    * query frame — the serving tier's entry ([[phraseServeBatch]]). */
  private def phrasesOf(s: SparkSession, queryDocs: DataFrame): DataFrame = {
    import s.implicits._
    phrasesFromToks(s, queryDocs
      .select($"doc_id".as("qid"), wsTokens(lower($"text")).as("toks")))
  }

  /** The gate phrase set as its two overlapping BIGRAMS: (qid, off,
    * bg) with off ∈ {0, 1} — a start s matches the phrase iff bigram 0
    * sits at s and bigram 1 at s+1 (exactly the three-word alignment,
    * re-expressed). */
  private def queryBigrams(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column = GateAll): DataFrame =
    bigramsFromToks(s, probeToks(s, dir, extra))

  private def bigramsFromToks(s: SparkSession, pt: DataFrame): DataFrame = {
    import s.implicits._
    pt.filter(size($"toks") >= 3)
      .select($"qid", posexplode(array(
        concat(element_at($"toks", 1), lit(" "), element_at($"toks", 2)),
        concat(element_at($"toks", 2), lit(" "), element_at($"toks", 3))))
        .as(Seq("off", "bg")))
  }

  /** A (qid, toks) frame from an arbitrary (doc_id, text) query batch. */
  private def toksOf(s: SparkSession, queryDocs: DataFrame): DataFrame = {
    import s.implicits._
    queryDocs.select($"doc_id".as("qid"), wsTokens(lower($"text")).as("toks"))
  }

  /** FULL-LENGTH phrase probes (qid, idx, word) — the query text IS the
    * phrase, any length ≥ 1 (the gate's opening-3-token convention is
    * the fixed-length special case). */
  private def phrasesOfFull(s: SparkSession, queryDocs: DataFrame): DataFrame = {
    import s.implicits._
    toksOf(s, queryDocs).filter(size($"toks") >= 1)
      .select($"qid", posexplode($"toks").as(Seq("idx", "word")))
  }

  /** FULL-LENGTH phrase probes as their overlapping-bigram chain
    * (qid, off, bg), off ∈ [0, L−2]: a start s matches the phrase iff
    * bigram `off` sits at s + off for every off — the n-token biword
    * decomposition ([[phraseBigramParts]] verifies the chain). */
  private def bigramsOfFull(s: SparkSession, queryDocs: DataFrame): DataFrame = {
    import s.implicits._
    toksOf(s, queryDocs).filter(size($"toks") >= 2)
      .select($"qid", posexplode(
        transform(sequence(lit(1), size($"toks") - 1),
          i => concat(element_at($"toks", i), lit(" "),
            element_at($"toks", i + 1))))
        .as(Seq("off", "bg")))
  }

  /** Full-length word-route occurrence counts against the session
    * corpus — the n-token reference the bigram route is pinned against
    * (PositionalSpec). */
  private[graft] def phraseOccFull(s: SparkSession, dir: String,
      queryDocs: DataFrame): DataFrame =
    phraseOccOn(s, positionalIndex(s, dir), phrasesOfFull(s, queryDocs),
      fixedRest = None, cf = Some(positionalCf(s, dir)))

  /** Full-length bigram-route occurrence counts against the session
    * corpus — must equal [[phraseOccFull]] row for row at every phrase
    * length ≥ 2 (route equivalence, n-token general). */
  private[graft] def phraseBigramOccFull(s: SparkSession, dir: String,
      queryDocs: DataFrame): DataFrame = {
    import s.implicits._
    phraseBigramParts(s, bigramIndex(s, dir), bigramsOfFull(s, queryDocs),
      fixedRest = None, cf = Some(bigramCf(s, dir)))._1
      .groupBy($"qid", $"doc_id")
      .agg(count(lit(1)).as("n_occ"))
  }

  /** The BIGRAM-anchored phrase core, n-token general: candidate
    * starts from the per-query RAREST bigram of the overlapping-bigram
    * chain, every remaining offset verified by exact (bg, doc, pos)
    * probes with a distinct-offset count — [[phraseAnchorParts]]'s plan
    * with bigrams as the unit, which shrinks the candidate frame from
    * df(rarest word) to df(rarest bigram). Takes any (qid, off, bg)
    * chain with off ∈ [0, L−2] (the gate's 3-token queries are the
    * two-bigram case; [[bigramsOfFull]] builds the full-length chain).
    * Returns (starts, anchors (qid, adf, aoff, bg)). Results are
    * IDENTICAL to the word-anchored plan (L aligned words ⇔ L−1
    * aligned bigrams); the gate pins the 3-token case by giving
    * tx_phrase_bigram tx_phrase_search's own oracle, PositionalSpec
    * pins arbitrary lengths including repeated words. */
  private def phraseBigramParts(s: SparkSession, index: DataFrame,
      bq: DataFrame, wbN: Option[Int] = None,
      fixedRest: Option[Int] = Some(1),
      cf: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    import s.implicits._
    val probed = wbN match {
      case Some(nb) =>
        graft.core.WbLayout.prune(index, "bg",
          graft.core.WbLayout.probeOf(bq.select($"bg"), "bg", nb))
      case None =>
        index.join(broadcast(bq.select($"bg").distinct()), Seq("bg"), "left_semi")
    }
    // probed-bigram dfs from the staged per-list counts when serving
    // the session corpus (see [[positionalCf]] — value-identical), else
    // derived from the pruned index.
    val qdf = cf match {
      case Some(cfDf) =>
        cfDf.join(broadcast(bq), Seq("bg"))
          .select($"qid", $"off", $"bg", $"df")
      case None =>
        val bdf = probed.groupBy($"bg").agg(count(lit(1)).as("df"))
        bq.join(broadcast(bdf), Seq("bg"))
    }
    val anchors = qdf
      .groupBy($"qid")
      .agg(min(struct($"df", $"off", $"bg")).as("a"))
      .select($"qid", $"a.df".as("adf"), $"a.off".as("aoff"), $"a.bg".as("bg"))
    val cands = probed
      .join(broadcast(anchors.select($"qid", $"aoff", $"bg")), Seq("bg"))
      .select($"qid", $"doc_id", ($"pos" - $"aoff").as("start"))
    // the OVERLAPPING-BIGRAM CHAIN verification. Two plan shapes, same
    // rows, chosen by whether the chain length is statically known:
    //  - fixedRest = Some(1) (the gate's 3-token / two-bigram queries):
    //    exactly one non-anchor bigram — one semi-join keeps a start
    //    iff its single probe matched, no counting (the r16 plan,
    //    byte-identical).
    //  - fixedRest = None (n-token general): probe EVERY offset of the
    //    chain — the anchor's probe is trivially true (candidates come
    //    from its postings), so a start matches iff its distinct
    //    verified-offset count equals the query's distinct offset
    //    count. One pass, one reference to `cands` (a per-length
    //    union branch would re-run the whole candidate chain), and the
    //    distinct-OFFSET count handles repeated bigrams ("a b a b"
    //    needs "a b" verified at two offsets) and the no-rest 2-token
    //    case (count 1 == 1) without special cases.
    val starts = fixedRest match {
      case Some(1) =>
        val rest = bq.join(anchors.select($"qid", $"aoff"), Seq("qid"))
          .filter($"off" =!= $"aoff")
          .select($"qid", $"off", $"bg")
        cands.join(broadcast(rest), Seq("qid"))
          .select($"qid", $"doc_id", $"start", $"bg",
            ($"start" + $"off").as("pos"))
          .join(probed, Seq("bg", "doc_id", "pos"), "left_semi")
          .select($"qid", $"doc_id", $"start")
      case _ =>
        val nOff = bq.groupBy($"qid").agg(countDistinct($"off").as("n_off"))
        cands.join(broadcast(bq), Seq("qid"))
          .select($"qid", $"doc_id", $"start", $"bg",
            ($"start" + $"off").as("pos"), $"off")
          .join(probed, Seq("bg", "doc_id", "pos"), "left_semi")
          .groupBy($"qid", $"doc_id", $"start")
          .agg(countDistinct($"off").as("n_ok"))
          .join(broadcast(nOff), Seq("qid"))
          .filter($"n_ok" === $"n_off")
          .select($"qid", $"doc_id", $"start")
    }
    (starts, anchors)
  }

  /** Bigram-route occurrence counts for an arbitrary probe restriction
    * — the ladder's fixed-batch form. */
  private[graft] def phraseBigramOcc(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column = GateAll): DataFrame = {
    import s.implicits._
    phraseBigramParts(s, bigramIndex(s, dir), queryBigrams(s, dir, extra),
      cf = Some(bigramCf(s, dir)))._1
      .groupBy($"qid", $"doc_id")
      .agg(count(lit(1)).as("n_occ"))
  }

  /** Exact-phrase occurrences: (qid, doc_id, n_occ), ANCHORED on each
    * query's rarest term. The naive formulation (probe ⋈ postings on
    * word, one aggregation over all three offsets) pays
    * Σ_word postings(word) × probes(word) — measured at 65 ms/query on
    * the 10× replica because a common probed word's whole posting list
    * fans out once per query probing it. This plan generates
    * candidates ONLY from the rarest term's postings (df computed for
    * probed words only — the BM25 probe device), then verifies the two
    * remaining offsets by exact (word, doc, pos) equi-joins against
    * the index — per-query work is O(postings(rarest term)), the
    * classic phrase-query optimization. The result is IDENTICAL to the
    * naive semantics (the oracle keeps the straightforward form).
    */
  private[graft] def phraseOcc(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column = GateAll): DataFrame =
    phraseOccOn(s, positionalIndex(s, dir), queryPhrases(s, dir, extra),
      cf = Some(positionalCf(s, dir)))

  private def phraseOccOn(s: SparkSession, index: DataFrame,
      phrases: DataFrame, wbN: Option[Int] = None,
      fixedRest: Option[Int] = Some(2),
      cf: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    phraseStartsOn(s, index, phrases, wbN, fixedRest, cf)
      .groupBy($"qid", $"doc_id")
      .agg(count(lit(1)).as("n_occ"))
  }

  /** Verified phrase match STARTS (qid, doc_id, start) — the
    * occurrence counter's input, kept separate so the snippet query
    * can anchor its context window on the first match. */
  private[queries] def phraseStartsOn(s: SparkSession, index: DataFrame,
      phrases: DataFrame, wbN: Option[Int] = None,
      fixedRest: Option[Int] = Some(2),
      cf: Option[DataFrame] = None): DataFrame =
    phraseAnchorParts(s, index, phrases, None, wbN, fixedRest = fixedRest,
      cf = cf)._1

  /** The anchored phrase core, optionally CAPPED: candidate starts plus
    * the per-query anchor frame (qid, adf, aidx, word). With
    * `capped = Some(lists)` candidate generation reads the supplied
    * PRE-TRUNCATED posting lists (the staged [[cappedIndex]] — each
    * word's first [[PhraseCapP]] postings by (doc_id, pos)) instead of
    * the full index; `None` is the exact anchored plan (unchanged
    * shape). Verification always probes the FULL probed-word postings:
    * the cap bounds which candidates are generated, never whether a
    * generated candidate is checked exactly.
    *
    * With `wbN = Some(nb)` (the generation serving path — postings
    * committed word-bucketed by [[writePositionalGeneration]]), the
    * probed-word restriction is a pair of literal In filters instead
    * of a semi-join: the probe words' bucket ids prune non-probed
    * `wb=` partition directories at PLANNING, and the words themselves
    * push to parquet as an In predicate that prunes row groups inside
    * the surviving buckets (word-sorted layout → tight row-group
    * stats) — the scan reads ~hit-buckets/NB of the index, a word-keyed
    * LOOKUP rather than a corpus stream. Computing the bucket ids is
    * one queries-sized job with the writer's own hash (the `wb_n`
    * sidecar carries the modulus).
    */
  private[queries] def phraseAnchorParts(s: SparkSession, index: DataFrame,
      phrases: DataFrame, capped: Option[DataFrame],
      wbN: Option[Int] = None,
      broadcastVerify: Boolean = true,
      fixedRest: Option[Int] = Some(2),
      cf: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    import s.implicits._
    val qt = phrases
    val idx = index
    // probed-word restriction: bucket+word In filters on the committed
    // layout (partition + row-group pruning), else a broadcast-hash
    // left-semi (scan-local, no shuffle) on the session corpus.
    // Everything downstream — df, candidates, verification — touches
    // only these rows, never the full index.
    val wbPrune: Option[DataFrame => DataFrame] = wbN.map { nb =>
      val p = graft.core.WbLayout.probeOf(qt.select($"word"), "word", nb)
      (d: DataFrame) => graft.core.WbLayout.prune(d, "word", p)
    }
    val idxProbed = wbPrune match {
      case Some(prune) => prune(idx)
      case None => idx
        .join(broadcast(qt.select($"word").distinct()), Seq("word"), "left_semi")
    }
    // per-(qid, word) df of the probed words: from the STAGED per-word
    // posting-count artifact when the caller serves the session corpus
    // (one vocabulary-sized scan with the tiny probe broadcast onto it —
    // r17 optimization: the per-query derivation re-scanned and
    // re-aggregated the full probed postings), else derived from the
    // (pruned) index as before. Counts are per-word independent, so the
    // two forms are value-identical for every probed word.
    val qdf = cf match {
      case Some(cfDf) =>
        cfDf.join(broadcast(qt), Seq("word"))
          .select($"qid", $"idx", $"word", $"df")
      case None =>
        val wdf = idxProbed.groupBy($"word").agg(count(lit(1)).as("df"))
        qt.join(broadcast(wdf), Seq("word"))
    }
    // per query: the (df, idx)-min term anchors candidate generation
    val anchors = qdf
      .groupBy($"qid")
      .agg(min(struct($"df", $"idx", $"word")).as("a"))
      .select($"qid", $"a.df".as("adf"), $"a.idx".as("aidx"), $"a.word".as("word"))
    val cands = capped match {
      case None =>
        idxProbed.join(broadcast(anchors.select($"qid", $"aidx", $"word")), Seq("word"))
          .select($"qid", $"doc_id", ($"pos" - $"aidx").as("start"))
      case Some(lists0) =>
        // candidates from the STORED truncated lists (the anchor join
        // restricts the scan to anchor words; the bucket prune — a
        // superset of the anchor words — lets the planner drop
        // non-probed partitions first) — per-query candidate work ≤ P
        // at any anchor df, no query-time sort anywhere
        val lists = wbPrune.map(_(lists0)).getOrElse(lists0)
        lists.join(broadcast(anchors.select($"qid", $"aidx", $"word")), Seq("word"))
          .select($"qid", $"doc_id", ($"pos" - $"aidx").as("start"))
    }
    // the probe offsets. fixedRest = Some(n) (the gate's 3-token
    // convention, n = 2): the non-anchor offsets only, verified by an
    // exact count against the literal — the r16 plan, byte-identical.
    // fixedRest = None (n-token general): probe EVERY offset — the
    // anchor's probe is trivially true (candidates are its postings),
    // so a start matches iff its distinct verified-offset count equals
    // the query's distinct offset count. One pass, one reference to
    // `cands` (a separate no-rest union branch would re-run the whole
    // candidate chain per query — measured 2.2× on the gate), and the
    // count handles repeated words AND 1-token phrases uniformly.
    val probeSet = fixedRest match {
      case Some(_) =>
        qt.join(anchors.select($"qid", $"aidx"), Seq("qid"))
          .filter($"idx" =!= $"aidx")
          .select($"qid", $"idx", $"word")
      case None => qt
    }
    val probes = cands.join(broadcast(probeSet), Seq("qid"))
      .select($"qid", $"doc_id", $"start", $"word",
        ($"start" + $"idx").as("pos"), $"idx")
    val verified = capped match {
      case Some(_) if broadcastVerify =>
        // CAPPED tier: probes are bounded at queries × P × rest-size,
        // so they broadcast ONTO the (pruned) postings — a map-side
        // hash probe. The probed words' full posting lists are
        // corpus-sized and were the one corpus-proportional SHUFFLE on
        // this path (the r15 ladder's 13.5 → 68 ms/query residual);
        // (word, doc_id, pos) is unique in the index, so this inner
        // join keeps exactly the probe rows the semi-join kept.
        // `broadcastVerify = false` (a serving batch whose bounded
        // frame would still exceed the broadcast budget — thousands of
        // phrase queries) degrades to the semi-join below instead of
        // failing the batch on the driver's broadcast limit.
        idxProbed.join(broadcast(probes), Seq("word", "doc_id", "pos"))
          .select($"qid", $"doc_id", $"start", $"idx")
      case _ =>
        // exact tier (candidates anchor-df-sized, unbroadcastable) and
        // the capped tier's over-budget fallback: the semi-join keeps
        // identical rows at a shuffle's cost
        probes.join(idxProbed, Seq("word", "doc_id", "pos"), "left_semi")
          .select($"qid", $"doc_id", $"start", $"idx")
    }
    val vcnt = verified
      .groupBy($"qid", $"doc_id", $"start")
      .agg(countDistinct($"idx").as("nidx"))
    val starts = fixedRest match {
      case Some(n) => vcnt.filter($"nidx" === n)
          .select($"qid", $"doc_id", $"start")
      case None =>
        val nOff = qt.groupBy($"qid").agg(countDistinct($"idx").as("n_off"))
        vcnt.join(broadcast(nOff), Seq("qid"))
          .filter($"nidx" === $"n_off")
          .select($"qid", $"doc_id", $"start")
    }
    (starts, anchors)
  }

  /** Capped-tier occurrence counts for an arbitrary probe restriction —
    * the scale probe's fixed-batch form of tx_phrase_capped's core. */
  private[graft] def phraseOccCapped(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column = GateAll): DataFrame = {
    import s.implicits._
    phraseAnchorParts(s, positionalIndex(s, dir), queryPhrases(s, dir, extra),
      Some(cappedIndex(s, dir)), cf = Some(positionalCf(s, dir)))._1
      .groupBy($"qid", $"doc_id")
      .agg(count(lit(1)).as("n_occ"))
  }

  /** The COUNTED phrase-query set for a probe restriction — the
    * ladder's ms/query denominator (queries actually posed: ≥3-token
    * probe docs, not raw probe documents). */
  private[graft] def probeQueryCount(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column): Long = {
    import s.implicits._
    queryPhrases(s, dir, extra).select($"qid").distinct().count()
  }

  /** Per-query recall of the capped tier against the exact phrase
    * match sets: n_exact = docs the full-postings search matches,
    * n_capped = docs the truncated tier matches (always a subset —
    * candidates come from a prefix of the anchor's postings and
    * verification is exact), n_common = their intersection. The
    * tx_bm25_recall convention applied to the doc_id-prefix cut: the
    * cut keeps the LOWEST doc_ids, not the best candidates, so its
    * miss mass is a fact to measure, never to assume. */
  private def capRecallOf(ex: DataFrame, cp: DataFrame): DataFrame = {
    import ex.sparkSession.implicits._
    // (r17 note: measured AGAINST a one-pass union rewrite and a
    // localCheckpoint of both sides — this original three-aggregate form
    // is ~2× faster here because the two searches share their probe /
    // postings exchanges within the one action and ReuseExchange already
    // dedups them; both "fixes" broke that sharing. Left alone.)
    val e = ex.select($"qid", $"doc_id")
    val c = cp.select($"qid", $"doc_id")
    val nE = e.groupBy($"qid").agg(count(lit(1)).as("n_exact"))
    val nC = c.groupBy($"qid").agg(count(lit(1)).as("n_capped"))
    val nCom = e.join(c, Seq("qid", "doc_id"), "left_semi")
      .groupBy($"qid").agg(count(lit(1)).as("n_common"))
    nE.join(nC, Seq("qid"), "left")
      .join(nCom, Seq("qid"), "left")
      .select($"qid", $"n_exact",
        coalesce($"n_capped", lit(0L)).as("n_capped"),
        coalesce($"n_common", lit(0L)).as("n_common"))
      .orderBy($"qid")
  }

  /** Capped-tier recall for an arbitrary probe restriction — the
    * ladder's miss-mass readout at 10×/100× where every query reads
    * exact = 0. */
  private[graft] def phraseCapRecallFor(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column): DataFrame =
    capRecallOf(phraseOcc(s, dir, extra), phraseOccCapped(s, dir, extra))

  /** Per-query (anchor_df, exact) for an arbitrary probe restriction —
    * the ladder's honesty readout for the capped tier. */
  private[graft] def phraseCapMeterFor(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column): DataFrame = {
    import s.implicits._
    phraseAnchorParts(s, positionalIndex(s, dir), queryPhrases(s, dir, extra),
      Some(cappedIndex(s, dir)), cf = Some(positionalCf(s, dir)))._2
      .select($"qid", $"adf".as("anchor_df"),
        when($"adf" <= PhraseCapP, 1L).otherwise(0L).as("exact"))
  }

  /** Per-query top-k by (n_occ desc, doc_id) over a (qid, doc_id,
    * n_occ) occurrence frame — shared by the gate query and the
    * serving tier. */
  private def phraseTopk(s: SparkSession, occ: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"qid").orderBy($"n_occ".desc, $"doc_id")
    occ.withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"qid", $"doc_id", $"n_occ", $"rk")
      .orderBy($"qid", $"rk")
  }

  /** Serve one micro-batch of (doc_id, text) phrase queries against
    * the session corpus index — the batch core of
    * [[graft.streaming.PositionalStream.serve]]. */
  private[graft] def phraseServeBatch(s: SparkSession, dir: String,
      queryDocs: DataFrame, k: Int = 10): DataFrame =
    phraseTopk(s,
      phraseOccOn(s, positionalIndex(s, dir), phrasesOf(s, queryDocs),
        cf = Some(positionalCf(s, dir))), k)

  /** Word-hash bucket count for a generation's postings layout — the
    * shared committed-layout sizing ([[graft.core.WbLayout.bucketsFor]],
    * kept under the family's historical name for the specs). */
  private[graft] def wbBucketsFor(nPostings: Long): Int =
    graft.core.WbLayout.bucketsFor(nPostings)

  /** Publish the positional postings as a committed serving
    * generation: `gen-N/postings` under `root`, `_latest` flipped
    * atomically ([[graft.core.Generations]] — the same loop the
    * lexical and vector tiers run: rebuild → commit → live cutover →
    * rollback by pointer → prune).
    *
    * Layout: both slices are WORD-BUCKETED — partitioned by
    * `wb = xxhash64(word) mod NB` and sorted by (word, doc_id, pos)
    * within buckets — so a serving batch's probed words prune to their
    * buckets at planning (directory pruning) and to word row groups
    * inside them (parquet In pushdown against the sorted stats),
    * instead of streaming the corpus per batch. NB adapts to corpus
    * size ([[wbBucketsFor]]) and is committed in the `wb_n` sidecar.
    */
  def writePositionalGeneration(s: SparkSession, dir: String, root: String): Long = {
    import s.implicits._
    val next = graft.core.Generations.next(root)
    val idx = positionalIndex(s, dir)
    val nb = wbBucketsFor(idx.count())
    def bucketed(df: DataFrame, key: String): DataFrame =
      graft.core.WbLayout.bucketed(df, key, nb, Seq("doc_id", "pos"))
    bucketed(idx, "word").write.mode("overwrite").partitionBy("wb")
      .parquet(s"$root/gen-$next/postings")
    // the generation carries the capped anchor lists too — the
    // truncated tier serves from the same commit point as the exact one
    bucketed(cappedIndex(s, dir), "word").write.mode("overwrite").partitionBy("wb")
      .parquet(s"$root/gen-$next/capped")
    // ... and the biword postings, bucketed by bigram — the exact
    // fast route serves from the same commit point too
    bucketed(bigramIndex(s, dir), "bg").write.mode("overwrite").partitionBy("wb")
      .parquet(s"$root/gen-$next/bigrams")
    graft.core.WbLayout.writeSidecar(s"$root/gen-$next", nb)
    graft.core.Generations.setLatest(root, next)
    next
  }

  /** One committed positional generation: full postings + the capped
    * anchor lists ([[cappedIndex]]'s cut, committed together). `capped`
    * is None for generations committed before the capped slice joined
    * the format (r15) — the exact tiers (phrase/proximity/snippet)
    * serve those unchanged; only a capped-mode request errors, with an
    * explicit republish message, instead of every mode failing at load.
    */
  final case class PositionalGeneration(
      gen: Long, postings: DataFrame, capped: Option[DataFrame],
      wbN: Option[Int] = None, bigrams: Option[DataFrame] = None) {
    /** The capped slice, or a clear republish demand — never a file
      * scan error surfacing mid-batch. */
    def cappedOrFail: DataFrame = capped.getOrElse(sys.error(
      s"positional gen-$gen has no capped slice (pre-r15 format) — " +
        "republish via writePositionalGeneration to serve the capped tier"))

    /** The biword slice, same contract. */
    def bigramsOrFail: DataFrame = bigrams.getOrElse(sys.error(
      s"positional gen-$gen has no bigram slice (pre-r16 format) — " +
        "republish via writePositionalGeneration to serve the bigram route"))
  }

  def loadPositionalGeneration(s: SparkSession, root: String): PositionalGeneration = {
    val gen = graft.core.Generations.latest(root).getOrElse(
      sys.error(s"$root: no committed positional serving generation"))
    def slice(name: String): Option[DataFrame] = {
      val p = java.nio.file.Paths.get(s"$root/gen-$gen/$name")
      if (java.nio.file.Files.isDirectory(p)) Some(s.read.parquet(p.toString))
      else None
    }
    PositionalGeneration(gen,
      s.read.parquet(s"$root/gen-$gen/postings"),
      slice("capped"),
      // pre-bucketing generations have no sidecar → no prune, same plans
      graft.core.WbLayout.readSidecar(s"$root/gen-$gen"),
      slice("bigrams"))
  }

  /** Serve one micro-batch of (doc_id, text) phrase queries through
    * the BIGRAM route against an EXPLICIT generation's biword slice —
    * exact answers (route equivalence), candidates bounded by the
    * rarer bigram's df. */
  private[graft] def phraseBigramServeGenBatch(s: SparkSession,
      g: PositionalGeneration, queryDocs: DataFrame, k: Int = 10): DataFrame = {
    import s.implicits._
    val bq = bigramsFromToks(s, queryDocs
      .select($"doc_id".as("qid"), wsTokens(lower($"text")).as("toks")))
    val occ = phraseBigramParts(s, g.bigramsOrFail, bq, g.wbN)._1
      .groupBy($"qid", $"doc_id").agg(count(lit(1)).as("n_occ"))
    phraseTopk(s, occ, k)
  }

  /** Serve one micro-batch from an EXPLICIT generation's postings. */
  private[graft] def phraseServeGenBatch(s: SparkSession,
      g: PositionalGeneration, queryDocs: DataFrame, k: Int = 10): DataFrame =
    phraseTopk(s, phraseOccOn(s, g.postings, phrasesOf(s, queryDocs), g.wbN), k)

  /** Broadcast budget (rows) for the capped tier's verification probe
    * frame: a bounded ≤ P × Σ_q rest_q frame under this broadcasts onto
    * the pruned postings (the measured fast path — the sf0.1 gate ships
    * ~4M rows); past it the verification degrades to the semi-join
    * instead of failing the batch on the driver's broadcast limit (the
    * thousands-of-phrase-queries serving batch). */
  private[queries] val CapVerifyBroadcastMax = 8000000L

  /** Σ_q max(L_q − 1, 0) × P — the capped verification probe frame's
    * row bound for a (qid, toks) batch (≤ P candidates per query, each
    * probed once per non-anchor offset), one queries-sized agg job. */
  private def capProbeBound(pt: DataFrame): Long = {
    import pt.sparkSession.implicits._
    val rests = pt
      .agg(coalesce(sum(greatest(size($"toks") - 1, lit(0)).cast("long")),
        lit(0L)))
      .collect()(0).getLong(0)
    rests * PhraseCapP
  }

  /** The CAPPED tier's serving core: candidates from the generation's
    * committed capped lists, anchors/verification from its full
    * postings, each answer carrying the per-query exact flag — the
    * tx_phrase_capped contract per micro-batch. */
  private[graft] def phraseCappedServeGenBatch(s: SparkSession,
      g: PositionalGeneration, queryDocs: DataFrame, k: Int = 10): DataFrame = {
    import s.implicits._
    val (starts, anchors) = phraseAnchorParts(
      s, g.postings, phrasesOf(s, queryDocs), Some(g.cappedOrFail), g.wbN,
      broadcastVerify =
        capProbeBound(toksOf(s, queryDocs).select($"qid",
          slice($"toks", 1, 3).as("toks"))) <= CapVerifyBroadcastMax)
    val occ = starts.groupBy($"qid", $"doc_id").agg(count(lit(1)).as("n_occ"))
    val exactf = anchors.select($"qid",
      when($"adf" <= PhraseCapP, 1L).otherwise(0L).as("exact"))
    phraseTopk(s, occ, k)
      .join(broadcast(exactf), "qid")
      .orderBy($"qid", $"rk")
  }

  /** The EXPRESSED production route choice for phrase serving — ONE
    * entry point, full-length phrases (the query text IS the phrase),
    * each answer row naming the route that produced it:
    *
    *  - generation carries the `bigrams` slice → the EXACT biword
    *    route (candidates from the rarest bigram of the chain,
    *    remaining offsets chain-verified): route = "bigram",
    *    exact = 1. This is the measured default — at 100× it serves
    *    exact answers at 14.0 ms/query, below even the lossy capped
    *    tier's 21.9 (SCALING.md r16) — so exactness costs LESS than
    *    the P-cut bound wherever the slice exists.
    *  - no bigram slice (pre-r16 generation) → the P-cut bound:
    *    candidates from the committed capped anchor lists, full-
    *    postings verification, the per-query exact flag (1 iff the
    *    anchor's full list survived the cut): route = "capped".
    *  - 1-token phrases (no bigram exists at any generation) → the
    *    word route's anchor postings, trivially exact:
    *    route = "word", exact = 1.
    *
    * Before r17 this ordering lived only in prose; a consumer had to
    * pick serveLatestBigram vs serveLatestCapped by hand.
    */
  private[graft] def phraseServeGenBatchAuto(s: SparkSession,
      g: PositionalGeneration, queryDocs: DataFrame, k: Int = 10): DataFrame = {
    import s.implicits._
    val pt = toksOf(s, queryDocs)
    val single = pt.filter(size($"toks") === 1)
      .select($"qid", posexplode($"toks").as(Seq("idx", "word")))
    val multi = pt.filter(size($"toks") >= 2)
    def occOf(starts: DataFrame) = starts
      .groupBy($"qid", $"doc_id").agg(count(lit(1)).as("n_occ"))
    val singleOcc = occOf(
      phraseAnchorParts(s, g.postings, single, None, g.wbN,
        fixedRest = None)._1)
    val singleFlags = single.select($"qid").distinct()
      .select($"qid", lit(1L).as("exact"), lit("word").as("route"))
    val (multiOcc, multiFlags) = g.bigrams match {
      case Some(bgIdx) =>
        val bq = multi.select($"qid", posexplode(
          transform(sequence(lit(1), size($"toks") - 1),
            i => concat(element_at($"toks", i), lit(" "),
              element_at($"toks", i + 1)))).as(Seq("off", "bg")))
        (occOf(phraseBigramParts(s, bgIdx, bq, g.wbN, fixedRest = None)._1),
          multi.select($"qid")
            .select($"qid", lit(1L).as("exact"), lit("bigram").as("route")))
      case None =>
        val ph = multi.select($"qid", posexplode($"toks").as(Seq("idx", "word")))
        val (starts, anchors) =
          phraseAnchorParts(s, g.postings, ph, Some(g.cappedOrFail), g.wbN,
            broadcastVerify = capProbeBound(multi) <= CapVerifyBroadcastMax,
            fixedRest = None)
        (occOf(starts),
          anchors.select($"qid",
            when($"adf" <= PhraseCapP, 1L).otherwise(0L).as("exact"),
            lit("capped").as("route")))
    }
    // branches are qid-disjoint (token count splits the batch), so one
    // top-k over the union is the per-branch top-k; the flag frames are
    // queries-sized
    phraseTopk(s, singleOcc.unionByName(multiOcc), k)
      .join(broadcast(singleFlags.unionByName(multiFlags)), "qid")
      .orderBy($"qid", $"rk")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_phrase_search" -> { (s, dir) => phraseTopk(s, phraseOcc(s, dir), 10) },

    // The BIWORD route to the same answer: candidates from the rarer
    // of the phrase's two overlapping bigrams (df(bigram) ≪ df(word)),
    // one exact-position semi-join to verify the other. Its oracle IS
    // tx_phrase_search's SQL — the hash gate proves the two routes
    // return identical rows; the meter below prices the candidate cut.
    "tx_phrase_bigram" -> { (s, dir) =>
      phraseTopk(s, phraseBigramOcc(s, dir), 10)
    },

    // Candidate-volume instrument: per query, the word-anchor df (what
    // tx_phrase_search's candidate frame costs) vs the bigram-anchor
    // df (what tx_phrase_bigram's costs) — the measured reason the
    // biword index earns its storage.
    "tx_phrase_bigram_meter" -> { (s, dir) =>
      import s.implicits._
      val w = phraseAnchorParts(
        s, positionalIndex(s, dir), queryPhrases(s, dir), None,
        cf = Some(positionalCf(s, dir)))._2
        .select($"qid", $"adf".as("word_adf"))
      val b = phraseBigramParts(
        s, bigramIndex(s, dir), queryBigrams(s, dir),
        cf = Some(bigramCf(s, dir)))._2
        .select($"qid", $"adf".as("bigram_adf"))
      w.join(b, "qid").orderBy($"qid")
    },

    "tx_phrase_meter" -> { (s, dir) =>
      import s.implicits._
      phraseOcc(s, dir)
        .groupBy($"qid")
        .agg(count(lit(1)).as("n_docs"), sum($"n_occ").as("n_occs"))
        .orderBy($"qid")
    },

    // Plane-sweep proximity: merge both terms' postings per (qid,
    // doc), one lag window in merged position order, min over
    // adjacent opposite-term gaps.
    "tx_proximity" -> { (s, dir) => proximityFor(s, dir, GateAll) },

    // Snippet extraction — the evidence a retrieval UI shows: for each
    // query's BEST phrase doc (n_occ desc, doc_id), the tokens in a
    // ±2-token context window around the FIRST match, reconstructed
    // from the positional index (sorted-by-position aggregation — no
    // document rescan, no substring math on raw text). The window
    // positions are relative to the match start, so the engines' 0- vs
    // 1-based posting offsets never meet the output.
    "tx_snippet" -> { (s, dir) =>
      snippetOn(s, positionalIndex(s, dir), queryPhrases(s, dir),
        cf = Some(positionalCf(s, dir)))
    },

    // The TRUNCATED phrase tier: candidates from each anchor's first
    // [[PhraseCapP]] postings only, per-query work bounded at O(P)
    // regardless of anchor df, each query flagged exact = 1 iff its
    // anchor's full list survived the cut (in which case the rows
    // equal tx_phrase_search's — PositionalSpec pins it).
    "tx_phrase_capped" -> { (s, dir) =>
      import s.implicits._
      val (starts, anchors) = phraseAnchorParts(
        s, positionalIndex(s, dir), queryPhrases(s, dir),
        Some(cappedIndex(s, dir)), cf = Some(positionalCf(s, dir)))
      val occ = starts.groupBy($"qid", $"doc_id").agg(count(lit(1)).as("n_occ"))
      val exactf = anchors.select($"qid",
        when($"adf" <= PhraseCapP, 1L).otherwise(0L).as("exact"))
      phraseTopk(s, occ, 10)
        .join(broadcast(exactf), "qid")
        .orderBy($"qid", $"rk")
    },

    // The cap's RECALL meter: per query, how many docs the exact
    // search matches, how many the capped tier keeps, and their
    // intersection — the miss-mass instrument every approximate tier
    // in this library carries (tx_bm25_recall, ann_*_recall,
    // dedup_lsh_recall). The doc_id-prefix cut is NOT an impact
    // ordering (it keeps the lowest doc_ids, not the best candidates),
    // so this meter is the only thing standing between the capped
    // tier's price tag and its answer quality.
    "tx_phrase_cap_recall" -> { (s, dir) =>
      capRecallOf(phraseOcc(s, dir), phraseOccCapped(s, dir))
    },

    // The cap's honesty meter: per query, the anchor's true df, the
    // exactness flag, and what the capped tier found — the instrument
    // that prices the truncation instead of hoping about it.
    "tx_phrase_cap_meter" -> { (s, dir) =>
      import s.implicits._
      val (starts, anchors) = phraseAnchorParts(
        s, positionalIndex(s, dir), queryPhrases(s, dir),
        Some(cappedIndex(s, dir)), cf = Some(positionalCf(s, dir)))
      val st = starts.groupBy($"qid", $"doc_id").agg(count(lit(1)).as("n_occ"))
        .groupBy($"qid")
        .agg(count(lit(1)).as("n_docs"), sum($"n_occ").as("n_occs"))
      anchors.select($"qid", $"adf".as("anchor_df"),
          when($"adf" <= PhraseCapP, 1L).otherwise(0L).as("exact"))
        .join(st, Seq("qid"), "left")
        .select($"qid", $"anchor_df", $"exact",
          coalesce($"n_docs", lit(0L)).as("n_docs"),
          coalesce($"n_occs", lit(0L)).as("n_occs"))
        .orderBy($"qid")
    }
  )

  /** The snippet core for an arbitrary index + phrase probe — shared by
    * tx_snippet and the serving tier ([[snippetServeGenBatch]]). */
  private[queries] def snippetOn(s: SparkSession, index: DataFrame,
      phrases: DataFrame, wbN: Option[Int] = None,
      cf: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    // ONE aggregation carries both the occurrence count and the
    // first-match anchor — the starts probe pass runs exactly once
    // (a two-branch formulation re-ran it and measured 4.5 s; this
    // one is in the family's band)
    val perDoc = phraseStartsOn(s, index, phrases, wbN, cf = cf)
      .groupBy($"qid", $"doc_id")
      .agg(count(lit(1)).as("n_occ"), min($"start").as("s0"))
    val w = Window.partitionBy($"qid").orderBy($"n_occ".desc, $"doc_id")
    val best = perDoc.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1).select($"qid", $"doc_id", $"n_occ", $"s0")
    // best is broadcast ONCE with n_occ carried through the snippet
    // aggregation key — a second reference to `best` here would
    // re-run the whole starts chain (measured: 3.5 s vs 2.2 s)
    index
      .join(broadcast(best), Seq("doc_id"))
      .filter($"pos" >= $"s0" - 2 && $"pos" <= $"s0" + 4)
      .groupBy($"qid", $"doc_id", $"n_occ")
      .agg(array_join(
        transform(array_sort(collect_list(struct($"pos", $"word"))),
          x => x.getField("word")), " ").as("snippet"))
      .select($"qid", $"doc_id", $"n_occ", $"snippet")
      .orderBy($"qid")
  }

  /** Serve one micro-batch of (doc_id, text) snippet queries from an
    * EXPLICIT generation's postings — the snippet contract's serving
    * half ([[graft.streaming.PositionalStream.serveLatestSnippet]]). */
  private[graft] def snippetServeGenBatch(s: SparkSession,
      g: PositionalGeneration, queryDocs: DataFrame): DataFrame =
    snippetOn(s, g.postings, phrasesOf(s, queryDocs), g.wbN)

  /** Proximity for an arbitrary probe restriction (the scale probe's
    * fixed-batch form; the gate query passes `true`).
    */
  private[graft] def proximityFor(s: SparkSession, dir: String,
      extra: org.apache.spark.sql.Column): DataFrame = {
    import s.implicits._
    proximityOn(s, positionalIndex(s, dir), probeToks(s, dir, extra))
  }

  /** Serve one micro-batch of (doc_id, text) proximity queries against
    * the session corpus index — the proximity half of
    * [[graft.streaming.PositionalStream]]. */
  private[graft] def proximityServeBatch(s: SparkSession, dir: String,
      queryDocs: DataFrame): DataFrame = {
    import s.implicits._
    proximityOn(s, positionalIndex(s, dir), queryDocs
      .select($"doc_id".as("qid"), wsTokens(lower($"text")).as("toks")))
  }

  /** The proximity serve core against an EXPLICIT generation. */
  private[graft] def proximityServeGenBatch(s: SparkSession,
      g: PositionalGeneration, queryDocs: DataFrame): DataFrame = {
    import s.implicits._
    proximityOn(s, g.postings, queryDocs
      .select($"doc_id".as("qid"), wsTokens(lower($"text")).as("toks")), g.wbN)
  }

  private[queries] def proximityOn(s: SparkSession, index: DataFrame,
      pt: DataFrame, wbN: Option[Int] = None): DataFrame = {
    import s.implicits._
    val qp = pt
      .select($"qid", get($"toks", lit(0)).as("w1"),
        get(filter($"toks", x => x =!= get($"toks", lit(0))), lit(0)).as("w2"))
      .filter($"w2".isNotNull)
    // generation layout: prune the scan to the probed terms' word
    // buckets (+ word row groups) before the broadcast probe joins —
    // the phraseAnchorParts device for the two-term probe set
    val p = wbN match {
      case Some(nb) if index.columns.contains("wb") =>
        graft.core.WbLayout.prune(index, "word", graft.core.WbLayout.probeOf(
          qp.select(explode(array($"w1", $"w2")).as("word")), "word", nb))
      case _ => index
    }
    // ONE scan of the (pruned) index instead of two (r17 optimization:
    // the old two-join union re-scanned the whole postings frame per
    // term): both probe terms are exploded to (qid, tag, word) rows —
    // tag 0 for w1, 1 for w2, exactly the union's branch tags — and
    // broadcast together. Rows are identical: w1 =!= w2 by
    // construction, so no posting row matches both probes of a query.
    val qw2 = qp.select($"qid",
      posexplode(array($"w1", $"w2")).as(Seq("tag", "word")))
    val pp = p.join(broadcast(qw2), Seq("word"))
      .select($"qid", $"doc_id", $"pos", $"tag")
    val sw = Window.partitionBy($"qid", $"doc_id").orderBy($"pos")
    val md = pp
      .withColumn("ppos", lag($"pos", 1).over(sw))
      .withColumn("ptag", lag($"tag", 1).over(sw))
      .filter($"ptag".isNotNull && $"ptag" =!= $"tag")
      .groupBy($"qid", $"doc_id")
      .agg(min($"pos" - $"ppos").cast("long").as("min_dist"))
      .filter($"min_dist" <= ProxW)
    val w = Window.partitionBy($"qid").orderBy($"min_dist", $"doc_id")
    md.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 10)
      .select($"qid", $"doc_id", $"min_dist", $"rk")
      .orderBy($"qid", $"rk")
  }

  /** Shared oracle prefix: 1-based positional postings and the probe
    * token arrays (positions never leave a query, so the base offset
    * vs Spark's 0-based posexplode is immaterial).
    */
  private val PosCte =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |p AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(toks) + 1)) AS pos,
       |    unnest(toks) AS word
       |  FROM t),
       |pq AS (SELECT doc_id AS qid, toks FROM t WHERE doc_id % ${Retrieval.QStep} = 0)""".stripMargin

  private val PhraseCte =
    s"""qt AS (
       |  SELECT qid, unnest(range(0, 3)) AS idx,
       |    unnest(list_transform(range(1, 4), i -> toks[i])) AS word
       |  FROM pq WHERE len(toks) >= 3),
       |st AS (
       |  SELECT qt.qid, p.doc_id, p.pos - qt.idx AS start
       |  FROM p JOIN qt ON qt.word = p.word
       |  GROUP BY 1, 2, 3
       |  HAVING count(DISTINCT qt.idx) = 3),
       |occ AS (
       |  SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_occ
       |  FROM st GROUP BY 1, 2)""".stripMargin

  /** Capped-tier oracle chain (appended after [[PhraseCte]], whose `qt`
    * it reuses): probed-word dfs, the per-query (df, idx, word)-min
    * anchor, the anchor lists cut to the first [[PhraseCapP]] postings
    * by (doc_id, pos), capped candidates, and full-postings
    * verification — mirroring [[phraseAnchorParts]] with the cap
    * operation for operation (the 1- vs 0-based posting offsets never
    * meet the output: the cut orders by (doc_id, pos), identical in
    * both bases).
    */
  private val CapCte =
    s"""wdf AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS df FROM p
       |  WHERE word IN (SELECT word FROM qt) GROUP BY word),
       |anch AS (
       |  SELECT qid, df AS adf, idx AS aidx, word FROM (
       |    SELECT qt.qid, w.df, qt.idx, qt.word,
       |      row_number() OVER (PARTITION BY qt.qid
       |        ORDER BY w.df, qt.idx, qt.word) AS rn
       |    FROM qt JOIN wdf w ON w.word = qt.word) WHERE rn = 1),
       |capp AS (
       |  SELECT word, doc_id, pos FROM (
       |    SELECT p.word, p.doc_id, p.pos,
       |      row_number() OVER (PARTITION BY p.word
       |        ORDER BY p.doc_id, p.pos) AS arn
       |    FROM p WHERE p.word IN (SELECT word FROM anch))
       |  WHERE arn <= $PhraseCapP),
       |ccand AS (
       |  SELECT a.qid, c.doc_id, c.pos - a.aidx AS start
       |  FROM capp c JOIN anch a ON a.word = c.word),
       |crest AS (
       |  SELECT qt.qid, qt.idx, qt.word
       |  FROM qt JOIN anch a ON a.qid = qt.qid WHERE qt.idx <> a.aidx),
       |cver AS (
       |  SELECT cd.qid, cd.doc_id, cd.start
       |  FROM ccand cd JOIN crest r ON r.qid = cd.qid
       |  JOIN p ON p.word = r.word AND p.doc_id = cd.doc_id
       |        AND p.pos = cd.start + r.idx
       |  GROUP BY cd.qid, cd.doc_id, cd.start
       |  HAVING count(DISTINCT r.idx) = 2),
       |cocc AS (
       |  SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_occ
       |  FROM cver GROUP BY 1, 2)""".stripMargin

  /** The exact-phrase top-10 — oracle of tx_phrase_search AND, by
    * route equivalence, of tx_phrase_bigram. */
  private val PhraseSearchSql =
    s"""$PosCte,
       |$PhraseCte
       |SELECT qid, doc_id, n_occ, rk FROM (
       |  SELECT qid, doc_id, n_occ,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY n_occ DESC, doc_id) AS INT) AS rk
       |  FROM occ)
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  def oracle: Map[String, String] = Map(
    "tx_phrase_capped" ->
      s"""$PosCte,
         |$PhraseCte,
         |$CapCte
         |SELECT o.qid, o.doc_id, o.n_occ, o.rk,
         |  CAST(CASE WHEN a.adf <= $PhraseCapP THEN 1 ELSE 0 END AS BIGINT)
         |    AS exact
         |FROM (
         |  SELECT qid, doc_id, n_occ,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY n_occ DESC, doc_id) AS INT) AS rk
         |  FROM cocc) o
         |JOIN anch a ON a.qid = o.qid
         |WHERE o.rk <= 10 ORDER BY o.qid, o.rk""".stripMargin,

    "tx_phrase_cap_recall" ->
      s"""$PosCte,
         |$PhraseCte,
         |$CapCte
         |SELECT e.qid, e.n_exact,
         |  CAST(COALESCE(c.n_capped, 0) AS BIGINT) AS n_capped,
         |  CAST(COALESCE(m.n_common, 0) AS BIGINT) AS n_common
         |FROM (
         |  SELECT qid, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM occ GROUP BY qid) e
         |LEFT JOIN (
         |  SELECT qid, CAST(count(*) AS BIGINT) AS n_capped
         |  FROM cocc GROUP BY qid) c ON c.qid = e.qid
         |LEFT JOIN (
         |  SELECT o.qid, CAST(count(*) AS BIGINT) AS n_common
         |  FROM occ o JOIN cocc cc ON cc.qid = o.qid AND cc.doc_id = o.doc_id
         |  GROUP BY o.qid) m ON m.qid = e.qid
         |ORDER BY e.qid""".stripMargin,

    "tx_phrase_cap_meter" ->
      s"""$PosCte,
         |$PhraseCte,
         |$CapCte
         |SELECT a.qid, a.adf AS anchor_df,
         |  CAST(CASE WHEN a.adf <= $PhraseCapP THEN 1 ELSE 0 END AS BIGINT)
         |    AS exact,
         |  CAST(COALESCE(st.n_docs, 0) AS BIGINT) AS n_docs,
         |  CAST(COALESCE(st.n_occs, 0) AS BIGINT) AS n_occs
         |FROM anch a LEFT JOIN (
         |  SELECT qid, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_occ) AS BIGINT) AS n_occs
         |  FROM cocc GROUP BY qid) st ON st.qid = a.qid
         |ORDER BY a.qid""".stripMargin,

    "tx_phrase_search" -> PhraseSearchSql,

    // the bigram route must return EXACTLY the word route's rows —
    // same oracle, so the hash gate is the equivalence proof
    "tx_phrase_bigram" -> PhraseSearchSql,

    "tx_phrase_bigram_meter" ->
      s"""$PosCte,
         |$PhraseCte,
         |wdf2 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS df FROM p
         |  WHERE word IN (SELECT word FROM qt) GROUP BY word),
         |wanch AS (
         |  SELECT qid, df FROM (
         |    SELECT qt.qid, w.df,
         |      row_number() OVER (PARTITION BY qt.qid
         |        ORDER BY w.df, qt.idx, qt.word) AS rn
         |    FROM qt JOIN wdf2 w ON w.word = qt.word) WHERE rn = 1),
         |bq AS (
         |  SELECT qid, unnest(range(0, 2)) AS off,
         |    unnest([toks[1] || ' ' || toks[2], toks[2] || ' ' || toks[3]]) AS bg
         |  FROM pq WHERE len(toks) >= 3),
         |bp AS (
         |  SELECT doc_id,
         |    unnest(range(1, len(toks))) AS pos,
         |    unnest(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS bg
         |  FROM t WHERE len(toks) >= 2),
         |bdf AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS df FROM bp
         |  WHERE bg IN (SELECT bg FROM bq) GROUP BY bg),
         |banch AS (
         |  SELECT qid, df FROM (
         |    SELECT bq.qid, b.df,
         |      row_number() OVER (PARTITION BY bq.qid
         |        ORDER BY b.df, bq.off, bq.bg) AS rn
         |    FROM bq JOIN bdf b ON b.bg = bq.bg) WHERE rn = 1)
         |SELECT w.qid, w.df AS word_adf, b.df AS bigram_adf
         |FROM wanch w JOIN banch b ON b.qid = w.qid
         |ORDER BY w.qid""".stripMargin,

    "tx_phrase_meter" ->
      s"""$PosCte,
         |$PhraseCte
         |SELECT qid, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_occ) AS BIGINT) AS n_occs
         |FROM occ GROUP BY qid ORDER BY qid""".stripMargin,

    "tx_snippet" ->
      s"""$PosCte,
         |$PhraseCte,
         |pd AS (
         |  SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_occ,
         |    min(start) AS s0
         |  FROM st GROUP BY 1, 2),
         |best AS (
         |  SELECT qid, doc_id, n_occ, s0 FROM (
         |    SELECT qid, doc_id, n_occ, s0,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY n_occ DESC, doc_id) AS rk
         |    FROM pd)
         |  WHERE rk = 1),
         |sn AS (
         |  SELECT b.qid, b.doc_id,
         |    string_agg(p.word, ' ' ORDER BY p.pos) AS snippet
         |  FROM p JOIN best b ON p.doc_id = b.doc_id
         |    AND p.pos >= b.s0 - 2 AND p.pos <= b.s0 + 4
         |  GROUP BY 1, 2)
         |SELECT b.qid, b.doc_id, b.n_occ, sn.snippet
         |FROM best b JOIN sn ON sn.qid = b.qid AND sn.doc_id = b.doc_id
         |ORDER BY b.qid""".stripMargin,

    "tx_proximity" ->
      s"""$PosCte,
         |qp AS (
         |  SELECT qid, toks[1] AS w1,
         |    (list_filter(toks, x -> x <> toks[1]))[1] AS w2
         |  FROM pq
         |  WHERE (list_filter(toks, x -> x <> toks[1]))[1] IS NOT NULL),
         |pp AS (
         |  SELECT qp.qid, p.doc_id, p.pos, 0 AS tag
         |  FROM p JOIN qp ON p.word = qp.w1
         |  UNION ALL
         |  SELECT qp.qid, p.doc_id, p.pos, 1
         |  FROM p JOIN qp ON p.word = qp.w2),
         |sw AS (
         |  SELECT qid, doc_id, pos, tag,
         |    lag(pos) OVER (PARTITION BY qid, doc_id ORDER BY pos) AS ppos,
         |    lag(tag) OVER (PARTITION BY qid, doc_id ORDER BY pos) AS ptag
         |  FROM pp),
         |md AS (
         |  SELECT qid, doc_id, CAST(min(pos - ppos) AS BIGINT) AS min_dist
         |  FROM sw WHERE ptag IS NOT NULL AND ptag <> tag
         |  GROUP BY 1, 2
         |  HAVING CAST(min(pos - ppos) AS BIGINT) <= $ProxW)
         |SELECT qid, doc_id, min_dist, rk FROM (
         |  SELECT qid, doc_id, min_dist,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY min_dist, doc_id) AS INT) AS rk
         |  FROM md)
         |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin
  )
}
