package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Staging, Tables}

/** Deduplication operators for a large-scale training-data pipeline:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine
  * near-dup — the standard near-duplicate stack for 100 TB corpora.
  *
  * Scale design:
  *  - every pairwise operator generates candidate pairs through an
  *    inverted index join (shingle → docs / band-bucket → docs / LSH
  *    bucket → vectors), never a cross join. The shuffle key is the
  *    shingle/band hash, so work distributes across executors.
  *  - stop-shingles (document frequency > MaxDf) are dropped before
  *    pair generation — the classic skew guard: one hot shingle would
  *    otherwise produce O(df²) candidate pairs on a single reducer.
  *  - all hashes go through md5 hex prefixes (portable: the DuckDB
  *    oracle reproduces the exact values); at production scale you'd
  *    swap in xxhash64 with one-line changes — the dataflow is the
  *    same.
  *
  * Reference lineage: the reference's data plane is (filename, contents)
  * documents with per-document distinct tokens (indexer map,
  * mrapps/indexer.go:21-25); these operators extend that surface with the
  * content-similarity layer the reference lacks.
  */
object Dedup {

  import QueryFns.{wsTokens, tokHash, hash48}

  /** Stop-shingle guard: shingles occurring in more than this many docs
    * are excluded from the shingle sets (and thus candidate generation).
    */
  private val MaxDf = 100

  /** Distinct word 3-gram shingles over an already-MATERIALIZED token
    * array attribute. `toks` must come from a prior projection, never an
    * inline `wsTokens(text)`: an expression substituted into the lambda
    * re-evaluates per element — the whole-document SPLIT would run once
    * per shingle, O(tokens²) (a 100k-token real book turned the shingle
    * front end into hours; the synthetic 60-token docs never showed it).
    * CollapseProject keeps the split materialized because the array is
    * referenced more than once here.
    */
  private[graft] def shingles(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** MinHash permutation family: genuine affine permutations over
    * Z_p with p = 2^31−1 (Mersenne prime). The base 48-bit hash is first
    * reduced mod p, then mapped by (a_i·h + b_i) mod p with large a_i so
    * the multiplication wraps and the 12 maps have independent argmins
    * (a non-wrapping map would be order-preserving: every "permutation"
    * would pick the same minimum shingle and banding would degenerate to
    * a single-minhash equality test). Overflow-safe: a_i, h < 2^31 →
    * product < 2^62.
    */
  private val MinhashP = 2147483647L // 2^31 − 1
  // Single source of truth for the affine family's constants: the staged
  // (groupBy) route uses permA/permB with Int indices; the per-row
  // streaming route ([[withBandStructs]]) rebuilds the same affine map
  // from these SAME four constants with a Column-typed index. An edit
  // that touches one constant now desyncs nothing.
  private val PermA0    = 1103515245L
  private val PermAStep = 12345L
  private val PermB0    = 54321L
  private val PermBStep = 1000003L
  private def permA(i: Int): Long = PermA0 + PermAStep * i
  private def permB(i: Int): Long = PermBStep * i + PermB0

  /** Session-scoped memo of the persisted shingle index ((doc_id,
    * shingle) pairs after the stop-shingle df filter + per-doc filtered
    * set sizes — the shared front end): the three
    * shingle-based dedup queries (jaccard, minhash, clusters) run in the
    * same session share one materialization instead of re-running the
    * tokenize+hash front end — the staged-intermediate-reuse pattern a
    * production pipeline gets by writing the index once per corpus.
    */
  private def shingleIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    Memo(s, dir, "Dedup.shingle_index")(buildShingleIndex(s, dir))

  /** The staged df-filtered (doc_id, sh) exchange — shared with
    * [[GraphRank]]'s source-graph build so both families read ONE
    * session-memoized shingle index.
    */
  private[graft] def shingleExchange(s: SparkSession, dir: String): DataFrame =
    shingleIndex(s, dir)._1

  /** Session-scoped memo of the persisted 5-token window index
    * (doc_id, pos, fp): the shared front end of the substring modality —
    * dedup_substring aggregates it by fp, dedup_spans additionally joins
    * the duplicated-fp set back against it. Without the memo each query
    * re-runs tokenize + window + hash over the full corpus; staged once
    * per (session, corpus), like [[shingleIndex]]. (A production pipeline
    * writes this index, the most reusable artifact of passage dedup.)
    */
  private def windowIndex(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Dedup.window_index") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "window_index", Seq("documents")) {
        Tables(s, dir).documents
          .repartition(s.sparkContext.defaultParallelism)
          .select($"doc_id", wsTokens($"text").as("toks")) // split ONCE per doc
          .select($"doc_id",
            posexplode(TextAnalysis.wordGrams($"toks", 5)).as(Seq("pos", "w")))
          .select($"doc_id", $"pos", substring(md5($"w"), 1, 16).as("fp"))
      }.persist()
    }

  /** The drop decisions (doc_id, cluster_rep, keep_id): per duplicate
    * cluster keep the best member (longest token count, ties to the
    * smallest doc_id — the standard keep-longest canonicalization), drop
    * the rest. Winner selection is an argmax-by-struct aggregate (min of
    * (−n_tok, doc_id) — one shuffle on cluster_rep), never a window
    * sort. Shared by dedup_drop_list (the decision artifact) and
    * dedup_apply (the surviving corpus).
    */
  private def dropList(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = clusterLabels(s, dir)
    val tok = Tables(s, dir).documents
      .select($"doc_id", size(wsTokens($"text")).as("n_tok"))
    val withTok = labels.join(tok, "doc_id")
    val keep = withTok.groupBy($"cluster_rep")
      .agg(min(struct(-$"n_tok", $"doc_id")).as("w"))
      .select($"cluster_rep", $"w.doc_id".as("keep_id"))
    withTok.join(keep, "cluster_rep")
      .filter($"doc_id" =!= $"keep_id")
      .select($"doc_id", $"cluster_rep", $"keep_id")
  }

  /** Session-scoped memo of the CONVERGED near-dup cluster labels
    * (doc_id, cluster_rep). Unlike the lazy staged indexes, the CC loop
    * is a multi-round job (an action per round), so re-deriving it per
    * consumer re-runs the whole iteration — dedup_clusters and
    * dedup_drop_list share the one converged artifact instead, the same
    * way a production pipeline writes cluster assignments once and fans
    * decisions out from them. The final frame is localCheckpoint-
    * materialized; releasing the memo frees its blocks explicitly.
    *
    * Connected components over the Jaccard ≥ 0.8 near-dup graph via
    * min-label propagation, run to a fixpoint. Each round is one shuffle
    * on the vertex id; convergence is checked with a scalar changed-count
    * per round (never data on the driver); rounds needed = graph
    * diameter, tiny for dup clusters.
    */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Dedup.cluster_labels")(Staging.readElseBuild(
      s, dir, "cluster_labels", Seq("documents")) {
      import s.implicits._
      val (_, sizes) = shingleIndex(s, dir)
      val pairs = interIndex(s, dir)
        .join(sizes.toDF("ia", "na"), "ia")
        .join(sizes.toDF("ib", "nb"), "ib")
        .filter($"inter".cast("double") / ($"na" + $"nb" - $"inter") >= 0.8)
        .select($"ia", $"ib")
      val edges = pairs.union(pairs.select($"ib", $"ia")).toDF("src", "dst").persist()
      var labels = edges.select($"src".as("v")).distinct()
        .select($"v", $"v".as("rep")).localCheckpoint()
      var changed = 1L
      var rounds = 0
      val maxRounds = 64 // propagation needs diameter rounds; fail loudly
      while (changed > 0 && rounds < maxRounds) {
        val neighborMin = edges.join(labels, $"dst" === $"v")
          .groupBy($"src").agg(min($"rep").as("nmin"))
        // localCheckpoint (eager) truncates the logical plan each round:
        // without it the plan nests one join deeper per iteration and
        // analysis/optimization cost grows with the graph diameter —
        // the classic iterative-Spark failure mode at scale.
        val updated = labels.join(neighborMin, $"v" === $"src", "left")
          .select($"v", least($"rep", coalesce($"nmin", $"rep")).as("rep"))
          .localCheckpoint()
        changed = updated.join(labels.withColumnRenamed("rep", "old"), "v")
          .filter($"rep" =!= $"old").count()
        // free the superseded round's checkpoint blocks explicitly:
        // unpersist() on a localCheckpointed frame is a no-op (the blocks
        // belong to the checkpointed RDD, not a CacheManager entry), and
        // waiting for ContextCleaner GC pins O(rounds × |labels|) storage
        org.apache.spark.sql.GraftBridge.freeLocalCheckpoint(labels)
        labels = updated
        rounds += 1
      }
      edges.unpersist(blocking = false)
      if (changed > 0)
        throw new IllegalStateException(
          s"dedup_clusters did not converge in $maxRounds rounds")
      // cache the RAW checkpointed frame (analyzed plan = LogicalRDD):
      // memo release frees blocks by matching that node, and a toDF
      // rename on top would hide it behind a Project. (With staging
      // enabled the memoized frame is instead the parquet scan of the
      // staged labels — freeLocalCheckpoint no-ops on it, and the one
      // build-time checkpoint is reclaimed by ContextCleaner GC.)
      labels
    }).toDF("doc_id", "cluster_rep")

  /** Drop and release this module's session memos ([[Memo]]). */
  def clearCaches(): Unit = Memo.clear("Dedup")

  /** Anchor-sampling modulus for dedup_lsh_recall_sampled: 1-in-m docs
    * anchor the exact side, m chosen so ~[[LshSampleTarget]] anchors
    * survive whatever the corpus size (floor 4 — never sample more than
    * 1-in-4). One planning-time count per (session, corpus), memoized —
    * a table-statistics lookup at production scale, like
    * [[Similarity]]'s corpusSize. The oracle derives the SAME modulus
    * from the same count with a scalar subquery.
    */
  private val LshSampleTarget = 500L
  private def lshSampleModulus(s: SparkSession, dir: String): Long = {
    val n = Memo(s, dir, "Dedup.doc_count")(Tables(s, dir).documents.count())
    math.max(4L, (n + LshSampleTarget - 1) / LshSampleTarget)
  }

  /** Force-build the dedup family's durable staged artifacts for `dir`
    * ([[graft.core.Staging]]): hot-shingle list, kept-shingle index,
    * MinHash band index, kept-shingle sets, passage window index, prefix
    * index, and near-dup cluster labels. Read-else-build — already-staged
    * artifacts cost one parquet footer read. This is the "index build
    * job" of a production ingest loop; every later session (batch
    * re-runs, incremental probes, the streaming twin) starts from the
    * stored artifacts.
    */
  def stageIndexes(s: SparkSession, dir: String): Unit =
    Staging.buildAll(s)(
      () => hotShingles(s, dir),
      () => shingleIndex(s, dir),
      () => minhashBandIndex(s, dir),
      () => keptSets(s, dir),
      () => windowIndex(s, dir),
      () => prefixIndex(s, dir),
      () => clusterLabels(s, dir),
      () => simhashBands0(s, dir),
      () => interIndex(s, dir),
      () => prefixCandidates(s, dir),
      () => prefixInter(s, dir))

  /** Shared persisted pair-intersection table (ia < ib, shared-shingle
    * count): the one genuinely expensive join of the shingle dedup
    * family, reused by jaccard, minhash verification, and clustering.
    */
  private def interIndex(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Dedup.inter_index") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "inter_index", Seq("documents")) {
        val (kept, _) = shingleIndex(s, dir)
        kept.toDF("ia", "sh")
          .join(kept.toDF("ib", "sh"), "sh").filter($"ia" < $"ib")
          .groupBy($"ia", $"ib")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("inter"))
      }.persist()
    }

  /** Session-scoped memo of the MinHash band index (doc_id, band, key):
    * 12 codegen'd permutation minima per doc (one HashAggregate with
    * map-side combine — the md5 base hash hoisted into a projection so it
    * is computed once per (doc, shingle) row, not once per permutation),
    * banded 4×3. This is the artifact a production pipeline STORES per
    * corpus: dedup_minhash_lsh self-joins it, and dedup_incremental
    * treats its existing-corpus subset as the stored index a new batch
    * probes — the index build is paid once, not per batch.
    */
  private[graft] def minhashBandIndex(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Dedup.band_index") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "band_index", Seq("documents")) {
        val (kept, _) = shingleIndex(s, dir)
        val hashed = kept.select($"doc_id", (hash48($"sh") % MinhashP).as("h"))
        val aggs = (0 to 11).map(i =>
          min(($"h" * permA(i) + permB(i)) % MinhashP).as(s"m$i"))
        val withMins = hashed
          .groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
          .select($"doc_id",
            array((0 to 11).map(i => col(s"m$i")): _*).as("m"))
        // Candidate generation downstream joins only (doc_id, band, key) —
        // shingle sets never enter the band shuffle.
        withMins.select(
          $"doc_id",
          explode(transform(sequence(lit(0), lit(3)),
            b => struct(b.as("band"),
              concat_ws(",",
                element_at($"m", b * 3 + 1),
                element_at($"m", b * 3 + 2),
                element_at($"m", b * 3 + 3)).as("key")))).as("bk"))
          .select($"doc_id", $"bk.band", $"bk.key")
      }.persist()
    }

  /** Publish the MinHash band index as a committed serving generation:
    * `gen-N/bands` under `root`, `_latest` flipped atomically
    * ([[graft.core.Generations]]) — the dedup family's entry into the
    * generation/pointer protocol the lexical/vector/positional tiers
    * run, which is what gives the rebuild policy an actionable root
    * ([[RebuildPolicy.applyPolicy]]): a stop-line crossing verdict now
    * commits the next band-index generation instead of waiting for the
    * staging layer's next corpus fingerprint. */
  def writeBandGeneration(s: SparkSession, dir: String, root: String): Long = {
    import s.implicits._
    val next = graft.core.Generations.next(root)
    minhashBandIndex(s, dir).write.mode("overwrite")
      .parquet(s"$root/gen-$next/bands")
    // the serving slices (r17): the stop-shingle list the banding
    // excluded at build time — an ingest batch MUST drop the same
    // shingles or its minima diverge from the stored index — and the
    // per-doc kept-shingle sets the exact-Jaccard verification reads.
    // Committed together so a generation is self-contained for
    // [[graft.streaming.DedupStream.matchesLatest]].
    hotShingleList(s, dir).toSeq.toDF("sh")
      .write.mode("overwrite").parquet(s"$root/gen-$next/hot")
    keptSets(s, dir).write.mode("overwrite").parquet(s"$root/gen-$next/sets")
    graft.core.Generations.setLatest(root, next)
    next
  }

  /** The band index the `_latest` pointer commits to (an unpublished
    * root is an error, never an empty index). */
  def loadBandGeneration(s: SparkSession, root: String): (Long, DataFrame) = {
    val gen = graft.core.Generations.latest(root).getOrElse(
      sys.error(s"$root: no committed band-index generation"))
    (gen, s.read.parquet(s"$root/gen-$gen/bands"))
  }

  /** One committed dedup serving generation: the band index plus the
    * serving slices ([[writeBandGeneration]]). `hot`/`sets` are None
    * for generations committed before the slices joined the format
    * (pre-r17, bands-only) — the rebuild policy's staleness meters read
    * those unchanged; only a serving request errors, with an explicit
    * republish message. */
  final case class DedupGeneration(
      gen: Long, bands: DataFrame,
      hot: Option[Array[String]], sets: Option[DataFrame]) {
    def hotOrFail: Array[String] = hot.getOrElse(sys.error(
      s"dedup gen-$gen has no hot-shingle slice (pre-r17 format) — " +
        "republish via writeBandGeneration to serve the ingest dedup"))
    def setsOrFail: DataFrame = sets.getOrElse(sys.error(
      s"dedup gen-$gen has no kept-sets slice (pre-r17 format) — " +
        "republish via writeBandGeneration to serve the ingest dedup"))
  }

  def loadDedupGeneration(s: SparkSession, root: String): DedupGeneration = {
    val gen = graft.core.Generations.latest(root).getOrElse(
      sys.error(s"$root: no committed band-index generation"))
    def slice(name: String): Option[DataFrame] = {
      val p = java.nio.file.Paths.get(s"$root/gen-$gen/$name")
      if (java.nio.file.Files.isDirectory(p)) Some(s.read.parquet(p.toString))
      else None
    }
    DedupGeneration(gen,
      s.read.parquet(s"$root/gen-$gen/bands"),
      slice("hot").map(_.collect().map(_.getString(0))),
      slice("sets"))
  }

  /** The per-ROW (shuffle-free) formulation of the band index: adds a
    * `_bands` array<struct<band,key>> column computed from a kept-shingle
    * ARRAY column — the formulation a streaming ingest needs (no
    * aggregation, so it runs in an append-mode projection). MUST stay
    * value-identical to [[minhashBandIndex]]'s groupBy route; pinned by
    * DedupStreamSpec. Staged via intermediate columns so the per-shingle
    * base hash is computed once, not once per permutation.
    */
  /** All verified (ni, oi, jac ≥ 0.5) matches of the incremental split
    * (new = doc_id % 5 == 0 vs the existing rest) — the pre-argmax match
    * set behind dedup_incremental, and the batch reference its streaming
    * twin ([[graft.streaming.DedupStream]]) is pinned against.
    */
  private[graft] def incrementalMatches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (kept, sizes) = shingleIndex(s, dir)
    val bands = minhashBandIndex(s, dir)
    val newB = bands.filter($"doc_id" % 5 === 0).toDF("ni", "band", "key")
    val oldB = bands.filter($"doc_id" % 5 =!= 0).toDF("oi", "band", "key")
    val cand = newB.join(oldB, Seq("band", "key"))
      .select($"ni", $"oi")
      .dropDuplicates("ni", "oi")
    val inter = cand.join(kept.toDF("ni", "sh"), "ni")
      .join(kept.toDF("oi", "sh"), Seq("oi", "sh"))
      .groupBy($"ni", $"oi").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("ni", "nn"), "ni")
      .join(sizes.toDF("oi", "no"), "oi")
      .withColumn("jac", $"inter".cast("double") / ($"nn" + $"no" - $"inter"))
      .filter($"jac" >= 0.5)
      .select($"ni", $"oi", $"jac")
  }

  private[graft] def withBandStructs(df: DataFrame, shsCol: String): DataFrame = {
    val hs = transform(col(shsCol), sh => hash48(sh) % MinhashP)
    val m = transform(sequence(lit(0), lit(11)), i =>
      array_min(transform(col("_hs"), h =>
        (h * (lit(PermA0) + lit(PermAStep) * i)
          + (lit(PermBStep) * i + lit(PermB0))) % MinhashP)))
    df.withColumn("_hs", hs)
      .withColumn("_m", m)
      .withColumn("_bands", transform(sequence(lit(0), lit(3)), b =>
        struct(b.as("band"), concat_ws(",",
          element_at(col("_m"), b * 3 + 1),
          element_at(col("_m"), b * 3 + 2),
          element_at(col("_m"), b * 3 + 3)).as("key"))))
      .drop("_hs", "_m")
  }

  private def docShingles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The test tables are single-row-group parquet files → a 1-partition
    // scan; spread the hash-heavy tokenize/shingle work across cores.
    // (At production scale the input arrives as many files/partitions and
    // this repartition would be dropped.)
    Tables(s, dir).documents
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", wsTokens($"text").as("toks")) // split ONCE per doc
      .select($"doc_id", explode(shingles($"toks")).as("sh"))
  }

  /** The stop-shingle (df > MaxDf) list — a staged index-build artifact,
    * broadcast-sized by construction. Persisted memo: consumed by the
    * batch index build AND collected for streaming ingest front ends
    * ([[hotShingleList]]), which must apply the SAME filter or their
    * shingle sets drift from the index.
    */
  private def hotShingles(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Dedup.hot_shingles") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "hot_shingles", Seq("documents")) {
        docShingles(s, dir).groupBy($"sh").count()
          .filter($"count" > MaxDf).select($"sh")
      }.persist()
    }

  private[graft] def hotShingleList(s: SparkSession, dir: String): Array[String] =
    hotShingles(s, dir).collect().map(_.getString(0)).sorted

  private def buildShingleIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    // df ≤ MaxDf filter: broadcast-join the (tiny) hot-shingle list away.
    // The filtered index feeds 2-3 downstream consumers (pair join sides
    // + per-doc sizes); persist to avoid re-running the tokenize+hash
    // front end per consumer. (At production scale: a staged write of the
    // shingle index, reused across the dedup family.)
    val kept = Staging.readElseBuild(s, dir, "kept_shingles", Seq("documents")) {
      docShingles(s, dir)
        .join(broadcast(hotShingles(s, dir)), Seq("sh"), "left_anti")
        .select($"doc_id", $"sh")
    }.persist()
    // staged + persisted: sizes is n_docs rows but consumed by nearly
    // every query of the family, often twice per plan — deriving it from
    // the (much larger) kept index per use re-scanned 4.8M cached rows
    // several times per query at 10×
    val sizes = Staging.readElseBuild(s, dir, "shingle_sizes", Seq("documents")) {
      kept.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    }.persist()
    (kept, sizes)
  }

  /** Per-doc kept-shingle SETS (doc_id, shs, n_sh) — the array-shaped
    * view of the staged shingle index, the static side a streaming
    * ingest's per-row exact-Jaccard verifier joins against.
    */
  private[graft] def keptSets(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Dedup.kept_sets") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "kept_sets", Seq("documents")) {
        val (kept, _) = shingleIndex(s, dir)
        kept.groupBy($"doc_id")
          .agg(sort_array(collect_list($"sh")).as("shs"), count(lit(1)).as("n_sh"))
      }.persist()
    }

  // ---- Incremental index MAINTENANCE (the write half of the ingest ----
  // loop: dedup_incremental / DedupStream are the read half). Each
  // staged artifact absorbs an ADMITTED batch as artifact(A) ∪
  // delta(B) — cost O(batch), never a corpus rescan. The merge is
  // EXACT while the batch leaves the stop-shingle list unchanged;
  // [[hotShingleDrift]] measures exactly that and is the rebuild
  // trigger (the shingle-family analogue of ann_centroid_drift).
  // DeltaMergeSpec pins merged == rebuilt-from-union per artifact.

  /** `dir`'s staged band index extended by a batch of (doc_id, text):
    * batch rows come from the per-ROW band route against the staged
    * stop-shingle list — the same formulation DedupStream probes with,
    * so probe and maintenance can never disagree.
    */
  def mergedBandIndex(s: SparkSession, dir: String, batch: DataFrame): DataFrame =
    minhashBandIndex(s, dir).unionByName(
      withBandStructs(batchKeptShingles(s, dir, batch), "shs")
        .select(col("doc_id"), explode(col("_bands")).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key")))

  /** `dir`'s staged kept-shingle SETS extended by the batch (the
    * exact-verify side of the probe path).
    */
  def mergedKeptSets(s: SparkSession, dir: String, batch: DataFrame): DataFrame =
    keptSets(s, dir).unionByName(
      batchKeptShingles(s, dir, batch)
        .select(col("doc_id"), col("shs"), size(col("shs")).cast("long").as("n_sh")))

  /** `dir`'s staged passage window index extended by the batch — pure
    * union: 5-token windows are a per-doc derivation with no
    * corpus-dependent state, so this merge is unconditionally exact.
    */
  def mergedWindowIndex(s: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    import graft.queries.QueryFns.wsTokens
    windowIndex(s, dir).unionByName(
      batch.select(col("doc_id"), wsTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          posexplode(TextAnalysis.wordGrams(col("toks"), 5)).as(Seq("pos", "w")))
        .select(col("doc_id"), col("pos"), substring(md5(col("w")), 1, 16).as("fp")))
  }

  /** Per-doc kept-shingle arrays for a batch of (doc_id, text) against
    * `dir`'s staged stop-shingle list — a broadcast ANTI-join against
    * the hot DataFrame, not the typedlit literal DedupStream's per-row
    * projection ships: on a dup-dense corpus the hot list can reach
    * tens of thousands of entries, and a per-row `array_except` against
    * a literal that large was measured at ~24 s for a 1k-doc batch on
    * the 10× replica (the anti-join form is ~1 s). Shingle-set order is
    * immaterial downstream (minhash takes per-permutation minima), so
    * the regroup is value-equivalent to the array route; it is sorted
    * like [[keptSets]], so merged and rebuilt sets list alike.
    */
  private def batchKeptShingles(s: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    import graft.queries.QueryFns.wsTokens
    batch.select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"))).as("sh"))
      .join(broadcast(hotShingles(s, dir)), Seq("sh"), "left_anti")
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("sh"))).as("shs"))
  }

  /** The REBUILD TRIGGER for the merge above: shingles the batch pushes
    * over the df > MaxDf stop line (their banded signatures in the
    * merged index still carry them; a rebuild would drop them). Rows:
    * (sh, df_exist, df_batch) for each crossing — one aggregation over
    * the batch plus an equi-join against per-shingle existing df;
    * already-hot shingles are excluded (they were dropped on both
    * sides already, no staleness).
    */
  def hotShingleDrift(s: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    import graft.queries.QueryFns.wsTokens
    val (kept, _) = shingleIndex(s, dir)
    val dfExist = kept.toDF("doc_id", "sh")
      .groupBy(col("sh")).agg(count(lit(1)).as("df_exist"))
    // Two-step projection per the shingles() contract: materialize toks
    // first — inlining wsTokens(text) into the shingle lambda would
    // re-split the whole document once per shingle element (O(tokens²)).
    batch.select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"))).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df_batch"))
      .join(dfExist, Seq("sh"), "left")
      .withColumn("df_exist", coalesce(col("df_exist"), lit(0L)))
      .filter(col("df_exist") + col("df_batch") > MaxDf)
      .select(col("sh"), col("df_exist"), col("df_batch"))
  }

  /** Per-doc 12-permutation MinHash signatures (doc_id, m) — the
    * groupBy route's intermediate, exposed for the calibration meter
    * (dedup_minhash_est). Same affine family/constants as the staged
    * band index.
    */
  private def minhashSignatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (kept, _) = shingleIndex(s, dir)
    val hashed = kept.select($"doc_id", (hash48($"sh") % MinhashP).as("h"))
    val aggs = (0 to 11).map(i =>
      min(($"h" * permA(i) + permB(i)) % MinhashP).as(s"m$i"))
    hashed.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
      .select($"doc_id", array((0 to 11).map(i => col(s"m$i")): _*).as("m"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group by content hash, keep the smallest doc_id.
    // At scale: a single shuffle on a 128-bit hash — no skew (hash keys
    // are unique per distinct text), no full-text shuffle (only the
    // hash + id move).
    "dedup_exact" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).documents
        .select(md5($"text").as("fp"), $"doc_id")
        .groupBy($"fp")
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy($"keep_id")
    },

    // N-gram Jaccard near-dup: inverted-index self-join on shingles →
    // intersection counts → Jaccard ≥ 0.8 pairs. One shuffle on the
    // shingle, one on the (a,b) pair — never a cross join.
    "dedup_ngram_jaccard" -> { (s, dir) =>
      import s.implicits._
      val (_, sizes) = shingleIndex(s, dir)
      interIndex(s, dir)
        .join(sizes.toDF("ia", "na"), "ia")
        .join(sizes.toDF("ib", "nb"), "ib")
        .withColumn("jac",
          $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
        .filter($"jac" >= 0.8)
        .select($"ia", $"ib", round($"jac", 6).as("jac"))
        .orderBy($"ia", $"ib")
    },

    // Prefix-filtered exact Jaccard (AllPairs / PPJoin family, Bayardo
    // et al. "Scaling Up All Pairs Similarity Search", Xiao et al.
    // PPJoin): byte-identical results to dedup_ngram_jaccard from a
    // fundamentally cheaper candidate generator. Order every doc's
    // shingle set by GLOBAL rarity (document frequency asc, shingle asc
    // — a total order) and index only the first
    // n − ⌈0.8·n⌉ + 1 shingles: any pair with Jaccard ≥ 0.8 must share
    // an indexed prefix shingle, because J ≥ t forces overlap
    // ≥ ⌈t·max(|A|,|B|)⌉ and two sets whose (|X|−o+1)-prefixes under one
    // total order are disjoint have overlap < o. Candidates additionally
    // pass the exact integer size filter 5·min ≥ 4·max (J ≥ 0.8 ⟹
    // |A∩B| ≥ 0.8·|A∪B| ⟹ min ≥ 0.8·max; integer form avoids the
    // 0.8-in-double boundary bug at e.g. (na,nb)=(4,5)). Verification
    // then runs ONLY over admitted candidates (same restricted-join
    // shape as the LSH verifier), so unlike the interIndex route the
    // cost scales with near-duplicate density, not Σ df² over every
    // shingle-sharing pair — at 100 TB the prefix index is ~20% of the
    // full inverted index and the rarest-first order makes collisions
    // rare by construction. Exact (no recall loss), unlike MinHash.
    "dedup_jaccard_prefix" -> { (s, dir) =>
      import s.implicits._
      val (_, sizes) = shingleIndex(s, dir)
      prefixInter(s, dir)
        .join(sizes.toDF("ia", "na"), "ia")
        .join(sizes.toDF("ib", "nb"), "ib")
        .withColumn("jac",
          $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
        .filter($"jac" >= 0.8)
        .select($"ia", $"ib", round($"jac", 6).as("jac"))
        .orderBy($"ia", $"ib")
    },

    // The prefix filter's cost/selectivity METER as an oracle-checked
    // query (the observability contract of every guarded operator here):
    // how many index rows the prefix kept, how many candidate pairs the
    // prefix+size filters admitted, and how many survived exact
    // verification. ScaleProbe compares candidate count against the full
    // pair-intersection table at 10× — the measured evidence that the
    // prefix route's verification work tracks near-dup density.
    "dedup_prefix_meter" -> { (s, dir) =>
      import s.implicits._
      val (_, sizes) = shingleIndex(s, dir)
      val cand = prefixCandidates(s, dir)
      val survivors = prefixInter(s, dir)
        .join(sizes.toDF("ia", "na"), "ia")
        .join(sizes.toDF("ib", "nb"), "ib")
        .filter($"inter".cast("double") / ($"na" + $"nb" - $"inter") >= 0.8)
      prefixIndex(s, dir).agg(count(lit(1)).as("prefix_rows"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
        .crossJoin(broadcast(survivors.agg(count(lit(1)).as("n_pairs"))))
        .select($"prefix_rows", $"n_candidates", $"n_pairs")
    },

    // Containment near-dup: |A∩B| / min(|A|,|B|) ≥ 0.9 — the asymmetric
    // companion to Jaccard that catches near-SUBSET duplicates (a short
    // doc quoted inside a long one), which the symmetric ratio dilutes
    // away on size-skewed pairs. Reuses the session-staged shingle
    // intersection index; same single-join scale shape as jaccard.
    "dedup_containment" -> { (s, dir) =>
      import s.implicits._
      val (_, sizes) = shingleIndex(s, dir)
      interIndex(s, dir)
        .join(sizes.toDF("ia", "na"), "ia")
        .join(sizes.toDF("ib", "nb"), "ib")
        .withColumn("containment",
          $"inter".cast("double") / least($"na", $"nb"))
        .filter($"containment" >= 0.9)
        .select($"ia", $"ib", round($"containment", 6).as("containment"))
        .orderBy($"ia", $"ib")
    },

    // MinHash + LSH near-dup: 12 minhash permutations → 4 bands × 3 rows
    // → band-bucket join for candidates → exact-Jaccard verification at
    // ≥ 0.5. The LSH step makes candidate generation O(near-dups), not
    // O(docs²): at 100 TB only same-bucket vectors ever meet.
    "dedup_minhash_lsh" -> { (s, dir) =>
      import s.implicits._
      val (kept, sizes) = shingleIndex(s, dir)
      val bands = minhashBandIndex(s, dir)
      val cand = bands.toDF("ia", "band", "key")
        .join(bands.toDF("ib", "band", "key"), Seq("band", "key"))
        .filter($"ia" < $"ib")
        .select($"ia", $"ib")
        .dropDuplicates("ia", "ib")
      // Exact-Jaccard verification restricted to LSH candidates: expand
      // each candidate pair by ia's (df-filtered) shingles, equi-join on
      // (ib, sh), count matches. Cost is O(Σ_candidate-pairs |shingles|)
      // — proportional to what the bands admitted — NOT the full
      // O(Σ df²) pair-intersection table (interIndex), which exists for
      // the jaccard/clusters family that genuinely needs every
      // shingle-sharing pair. Standalone at 100 TB, the LSH query's
      // verification cost now tracks its own candidate count. Pairs with
      // no shared shingle drop out of the inner join — they have jac = 0
      // and could never pass the ≥ 0.5 gate.
      val inter = cand.join(kept.toDF("ia", "sh"), "ia")
        .join(kept.toDF("ib", "sh"), Seq("ib", "sh"))
        .groupBy($"ia", $"ib").agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.toDF("ia", "na"), "ia")
        .join(sizes.toDF("ib", "nb"), "ib")
        .withColumn("jac", $"inter".cast("double")
          / ($"na" + $"nb" - $"inter"))
        .filter($"jac" >= 0.5)
        .select($"ia", $"ib", round($"jac", 6).as("jac"))
        .orderBy($"ia", $"ib")
    },

    // RECALL meter for the MinHash+LSH route (the simhashDropStats
    // contract): of the exact Jaccard ≥ 0.5 pairs (same df-guarded
    // shingle front end, from the staged inter index), how many did the
    // 4-band/3-row LSH actually admit? 12 perms / 4 bands has a known
    // theoretical S-curve (P[admit] = 1 − (1 − s³)⁴ at similarity s —
    // ~87% at s = 0.6, ~99.6% at s = 0.8); this query turns that
    // expectation into an observed, oracle-checked number per corpus, so
    // band/row tuning is driven by data, not the formula alone.
    // Deterministic end to end (md5-based permutations), hence exactly
    // reproducible in the oracle.
    "dedup_lsh_recall" -> { (s, dir) =>
      import s.implicits._
      val (_, sizes) = shingleIndex(s, dir)
      // r17 optimization: the exact pair set feeds two consumers (its
      // count + the found semi-join) — materialize it once
      val exact = interIndex(s, dir)
        .join(sizes.toDF("ia", "na"), "ia")
        .join(sizes.toDF("ib", "nb"), "ib")
        .filter($"inter".cast("double") / ($"na" + $"nb" - $"inter") >= 0.5)
        .select($"ia", $"ib")
        .localCheckpoint()
      val lsh = Dedup.queries("dedup_minhash_lsh")(s, dir).select($"ia", $"ib")
      val found = exact.join(lsh, Seq("ia", "ib"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found"))))
        .withColumn("n_missed", $"n_exact" - $"n_found")
    },

    // SAMPLED twin of dedup_lsh_recall: the full meter's exact side is
    // O(Σ df²) over every shingle-sharing pair — a per-corpus audit at
    // gate SFs, quadratic poison at 100×. Here the exact side is
    // ANCHORED on a deterministic md5 sample of docs: only pairs whose
    // left endpoint is sampled are generated, so cost is f× the full
    // meter's. f scales DOWN with the corpus ([[lshSampleModulus]]:
    // ~500 anchor docs whatever the corpus size, floor 1-in-4), so the
    // meter's absolute cost is flat in n — measured 8.5 s fixed-f →
    // 1.9 s at the 50k-doc 10× replica — while the anchored pair
    // population keeps enough mass for a ±0.05 estimate. The recall RATIO over
    // anchored pairs estimates the full recall: LSH admission is
    // pair-symmetric, so anchoring weights found and missed pairs
    // identically. Found-ness probes the staged band index directly —
    // for a truly-similar (jac ≥ 0.5) pair, sharing a band key IS
    // membership in the final LSH output (the verifier re-derives the
    // same jac from the same kept sets and keeps it), so the meter
    // never pays the full candidate-verification join.
    "dedup_lsh_recall_sampled" -> { (s, dir) =>
      import s.implicits._
      val (kept, sizes) = shingleIndex(s, dir)
      // the anchor predicate runs over the DOC LIST (n rows), not the
      // kept-shingle index (n × ~100 rows); the ~500 surviving ids then
      // prune the index by broadcast semi-join
      val anchorIds = Tables(s, dir).documents.select($"doc_id").filter(
        conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10)
          % lshSampleModulus(s, dir) === 0)
      val anchored = kept.join(broadcast(anchorIds), "doc_id", "left_semi")
      // BROADCAST the anchored side: it is ~target × avg-shingles rows
      // by construction (bounded, corpus-size independent), and a
      // broadcast hash join leaves the big kept index UNSHUFFLED — the
      // recurring 10× cost before this was shuffling 4.8M index rows
      // per run just to meet 48k anchored rows on the shingle key
      val inter = broadcast(anchored.toDF("ia", "sh"))
        .join(kept.toDF("ib", "sh"), "sh")
        .filter($"ia" =!= $"ib")
        .groupBy($"ia", $"ib").agg(count(lit(1)).as("inter"))
      // r17 optimization: materialized once — feeds the found semi-join
      // and its own count (the recall-meter device)
      val exact = inter
        .join(broadcast(sizes.toDF("ia", "na")), "ia")
        .join(broadcast(sizes.toDF("ib", "nb")), "ib")
        .filter($"inter".cast("double") / ($"na" + $"nb" - $"inter") >= 0.5)
        .select($"ia", $"ib")
        .localCheckpoint()
      val bands = minhashBandIndex(s, dir)
      val found = broadcast(exact)
        .join(bands.toDF("ia", "band", "key"), "ia")
        .join(bands.toDF("ib", "band", "key"), Seq("ib", "band", "key"), "left_semi")
        .select($"ia", $"ib").dropDuplicates("ia", "ib")
      exact.agg(count(lit(1)).as("n_exact_anchored"))
        .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found_anchored"))))
        .withColumn("recall_est",
          when($"n_exact_anchored" === 0, lit(0.0))
            .otherwise(round($"n_found_anchored".cast("double")
              / $"n_exact_anchored", 6)))
    },

    // INCREMENTAL (delta) dedup: dedupe a NEW batch against an EXISTING
    // corpus — the shape every production crawl pipeline actually runs
    // (full-corpus self-dedup happens once; every ingest after that is
    // new-vs-existing). The split is deterministic (doc_id % 5 == 0 is
    // the "incoming batch", ~20%; the rest is the indexed corpus). The
    // existing side probes the SAME staged MinHash band index the batch
    // self-dedup uses — at 100 TB that index is a stored table bucketed
    // by (band, key), so the only per-ingest cost is banding the new
    // batch (O(batch)) and one co-located join against the index: no
    // existing-corpus rescan, no existing×existing pairs (the asymmetric
    // join cannot generate them, unlike the self-join route). Exact
    // Jaccard verification restricted to admitted (new, old) candidates;
    // output is the actionable per-new-doc DECISION — its best existing
    // match (highest jac, ties to the smallest existing id), i.e. the
    // incoming docs to drop and why.
    // MinHash CALIBRATION meter: over every LSH candidate pair
    // (including zero-overlap collisions), the signature-agreement
    // Jaccard estimate (agreeing permutations / 12) against the exact
    // value — mean estimate, mean truth, mean absolute error in one
    // row. The "are 12 permutations enough on THIS corpus" instrument,
    // next to the recall meters (which ask the complementary "are 4
    // bands enough"). Cross-row means are DECIMAL-exact sums; cost is
    // the candidate-restricted verify plus one signature equi-join.
    "dedup_minhash_est" -> { (s, dir) =>
      import s.implicits._
      val (kept, sizes) = shingleIndex(s, dir)
      val bands = minhashBandIndex(s, dir)
      val cand = bands.toDF("ia", "band", "key")
        .join(bands.toDF("ib", "band", "key"), Seq("band", "key"))
        .filter($"ia" < $"ib")
        .select($"ia", $"ib")
        .dropDuplicates("ia", "ib")
      val inter = cand.join(kept.toDF("ia", "sh"), "ia")
        .join(kept.toDF("ib", "sh"), Seq("ib", "sh"))
        .groupBy($"ia", $"ib").agg(count(lit(1)).as("inter"))
      val sig = minhashSignatures(s, dir)
      cand
        .join(inter, Seq("ia", "ib"), "left")
        .withColumn("inter", coalesce($"inter", lit(0L)))
        .join(sizes.toDF("ia", "na"), "ia")
        .join(sizes.toDF("ib", "nb"), "ib")
        .withColumn("jac",
          $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
        .join(sig.toDF("ia", "ma"), "ia")
        .join(sig.toDF("ib", "mb"), "ib")
        .withColumn("est",
          size(filter(zip_with($"ma", $"mb", (a, b) => a === b), x => x))
            .cast("double") / 12.0)
        .agg(count(lit(1)).as("n_pairs"),
          sum($"est".cast("decimal(27,6)")).cast("double").as("se"),
          sum($"jac".cast("decimal(27,6)")).cast("double").as("sj"),
          sum(abs($"est" - $"jac").cast("decimal(27,6)")).cast("double").as("sa"))
        .select($"n_pairs",
          round($"se" / $"n_pairs", 6).as("mean_est"),
          round($"sj" / $"n_pairs", 6).as("mean_jac"),
          round($"sa" / $"n_pairs", 6).as("mean_abs_err"))
    },

    // The stop-shingle DRIFT meter over the incremental split (batch =
    // doc_id % 5 == 0, existing = the rest — the dedup_incremental
    // convention): how many batch shingles cross the df > MaxDf stop
    // line when the batch lands, i.e. exactly the staleness the O(batch)
    // index merge ([[mergedBandIndex]]) accumulates before a rebuild.
    // One summary row; two shingle-keyed aggregations + one equi-join —
    // never pairwise. Inert (n_crossed = 0) at the gate corpora by the
    // same df profile that keeps the stop list empty there; active at
    // replica scale, and DeltaMergeSpec plants a crossing to pin the
    // firing behavior.
    "dedup_hot_drift" -> { (s, dir) =>
      import s.implicits._
      val occ = Tables(s, dir).documents
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", wsTokens($"text").as("toks"))
        .select($"doc_id", explode(shingles($"toks")).as("sh"))
      val dfE = occ.filter($"doc_id" % 5 =!= 0)
        .groupBy($"sh").agg(count(lit(1)).as("df_exist"))
      val dfB = occ.filter($"doc_id" % 5 === 0)
        .groupBy($"sh").agg(count(lit(1)).as("df_batch"))
      dfB.join(dfE, Seq("sh"), "left")
        .withColumn("df_exist", coalesce($"df_exist", lit(0L)))
        .agg(count(lit(1)).as("n_batch_shingles"),
          sum(when($"df_exist" <= MaxDf && $"df_exist" + $"df_batch" > MaxDf,
            1L).otherwise(0L)).as("n_crossed"),
          sum(when($"df_exist" > MaxDf, 1L).otherwise(0L)).as("n_already_hot"),
          max($"df_exist" + $"df_batch").as("max_df_after"))
    },

    "dedup_incremental" -> { (s, dir) =>
      import s.implicits._
      incrementalMatches(s, dir)
        // deterministic argmax by (jac desc, oi asc): one struct-min
        // aggregate — a single shuffle on the new-doc id, no window sort
        .groupBy($"ni")
        .agg(min(struct((-$"jac").as("njac"), $"oi".as("oi"))).as("pick"))
        .select($"ni".as("new_id"), $"pick.oi".as("dup_of"),
          round(-$"pick.njac", 6).as("jac"))
        .orderBy($"new_id")
    },

    // Duplicate clusters: connected components over the Jaccard ≥ 0.8
    // near-dup graph via min-label propagation — the step that turns
    // pairwise matches into keep/drop decisions. Iterates
    // join+aggregate rounds until a fixpoint (checked via a count of
    // changed labels — a scalar per round, not data on the driver);
    // rounds needed = graph diameter, tiny for dup clusters. At 100 TB
    // each round is one shuffle on the vertex id.
    "dedup_clusters" -> { (s, dir) =>
      import s.implicits._
      clusterLabels(s, dir).orderBy($"doc_id")
    },

    // The actionable END of the near-dup pipeline: per duplicate
    // cluster, keep the best member (longest token count — the standard
    // keep-longest canonicalization; ties to the smallest doc_id) and
    // emit the DROP decision for everyone else. This is the artifact a
    // 100 TB curation run actually ships — pairs and clusters are
    // intermediate. Winner selection is an argmax-by-struct aggregate
    // (min of (−n_tok, doc_id) — one shuffle on cluster_rep), not a
    // window sort; singleton docs never enter (clusters only contain
    // edge-connected docs), so the output is exactly the removal list.
    "dedup_drop_list" -> { (s, dir) => dropList(s, dir).orderBy(col("doc_id")) },

    // Apply the drop list: the surviving corpus with per-lang doc/token
    // accounting — what actually flows to the tokenizer after
    // deduplication. One left-anti join of the corpus against the
    // (small) drop list; at 100 TB the drop list is the broadcast side
    // (it holds only cluster members, a tiny fraction of the corpus).
    "dedup_apply" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir).documents
        .join(dropList(s, dir).select($"doc_id"), Seq("doc_id"), "left_anti")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(wsTokens($"text")).cast("long")).as("n_tokens"))
        .orderBy($"lang")
    },

    // SimHash near-dup: 32-bit tf-weighted simhash per doc; candidates
    // share one of 4 bytes (guarantees recall for hamming ≤ 3 — one of
    // the 4 bands must be untouched); verify bit_count(xor) ≤ 3.
    // Skew guard (same principle as stop-shingles): band buckets larger
    // than greatest(MaxBucket, 4×expected occupancy) are dropped from
    // candidate generation — on low-entropy corpora a hot byte-bucket
    // otherwise generates O(n²) pairs on one reducer (measured 1338-doc
    // buckets → ~900k pairs at sf0.1); a true pair loses only the bands
    // where it collided with the crowd. The loss is METERED
    // ([[simhashDropStats]]), not silent.
    "dedup_simhash" -> { (s, dir) =>
      import s.implicits._
      val bands = simhashKeptBands(s, dir)
      bands.toDF("ia", "sima", "band", "key")
        .join(bands.toDF("ib", "simb", "band", "key"), Seq("band", "key"))
        .filter($"ia" < $"ib")
        .dropDuplicates("ia", "ib")
        .withColumn("hamming", bit_count($"sima".bitwiseXOR($"simb")))
        .filter($"hamming" <= 3)
        .select($"ia", $"ib", $"hamming")
        .orderBy($"ia", $"ib")
    },

    // Exact duplicated-PASSAGE detection (the substring-dedup modality
    // of Lee et al.'s "Deduplicating Training Data Makes Language
    // Models Better"): every 5-token rolling window, hashed BEFORE the
    // shuffle (only a 16-hex fp + doc_id move), grouped; windows seen
    // in ≥ 2 distinct documents are duplicated passages. Unlike the
    // similarity family this is exact and never pairwise — one explode
    // + one hash shuffle, skew-free (window texts are near-unique), so
    // it scales like wordcount. The follow-up step — merging adjacent
    // duplicated windows into maximal spans per doc — is dedup_spans
    // below.
    "dedup_substring" -> { (s, dir) =>
      import s.implicits._
      windowIndex(s, dir)
        .groupBy($"fp")
        .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_occurrences"))
        .filter($"n_docs" >= 2)
        .orderBy($"fp")
    },

    // INCREMENTAL passage dedup — the delta form of the substring
    // modality (and the third modality of the incremental family, after
    // shingle-Jaccard and embedding-cosine): for each NEW doc
    // (doc_id % 5 == 0), what fraction of its 5-token windows already
    // exists in the corpus? This is the Lee-et-al "copied content"
    // filter an ingest applies per incoming doc. Rides the staged window
    // index; the existing side collapses to a distinct-fp set (at 100 TB
    // a stored fingerprint table — the probe is one semi-join keyed on
    // the fp hash, skew-free, cost O(batch windows)). Emits only new
    // docs with ≥1 duplicated window — the decision list, with the
    // evidence counts.
    "dedup_substring_incremental" -> { (s, dir) =>
      import s.implicits._
      val w = windowIndex(s, dir)
      val nw = w.filter($"doc_id" % 5 === 0)
      val oldFps = w.filter($"doc_id" % 5 =!= 0).select($"fp").distinct()
      val totals = nw.groupBy($"doc_id").agg(count(lit(1)).as("n_windows"))
      nw.join(oldFps, Seq("fp"), "left_semi")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_dup_windows"))
        .join(totals, "doc_id")
        .select($"doc_id".as("new_id"), $"n_dup_windows", $"n_windows",
          round($"n_dup_windows".cast("double") / $"n_windows", 6).as("dup_fraction"))
        .orderBy($"new_id")
    },

    // Maximal duplicated SPANS: the actionable output of the substring
    // modality (Lee et al.) — adjacent duplicated 5-token windows merged
    // into per-doc maximal spans via gaps-and-islands (island id =
    // pos − row_number over the doc's flagged positions). Dataflow:
    // windows hashed pre-shuffle exactly like dedup_substring, the
    // duplicated-fingerprint set joined back on fp (a hash-shuffle join;
    // fp keys are near-unique so skew-free), then ONE window function
    // partitioned by doc_id — per-doc state only, so at 100 TB the merge
    // parallelizes across docs with no global sort.
    "dedup_spans" -> { (s, dir) =>
      import s.implicits._
      val w = windowIndex(s, dir)
      // "≥ 2 distinct docs" ⟺ min(doc_id) < max(doc_id): min/max keep
      // the aggregation a plain one-pass partial agg where
      // countDistinct planned a distinct-expand + extra exchange over
      // the corpus-sized window index (r18, guide §2.3 — the count
      // itself is never exposed, only the threshold)
      val dupFp = w.groupBy($"fp")
        .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
        .filter($"mn" < $"mx").select($"fp")
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      w.join(dupFp, "fp")
        .withColumn("grp", $"pos" - row_number().over(win))
        .groupBy($"doc_id", $"grp")
        .agg(min($"pos").as("p0"), max($"pos").as("p1"),
          count(lit(1)).as("n_windows"))
        .select($"doc_id",
          ($"p0" + 1).cast("long").as("span_start"),
          ($"p1" + 5).cast("long").as("span_end"),
          $"n_windows")
        .orderBy($"doc_id", $"span_start")
    },

    // The simhash skew-guard's recall METER as a first-class,
    // oracle-checked query (observability is part of the operator
    // contract at 100 TB — what the cap discards must be queryable, not
    // buried in logs; see [[simhashDropStats]]).
    "dedup_simhash_drops" -> { (s, dir) => simhashDropStats(s, dir) },

    // Embedding-cosine near-dup on the CURATED labels, scale-bounded:
    // the blocking key is the corpus-scaled seed cell (label·2^b +
    // residual-sign bits, [[Similarity.seedCellAssignments]]), not the
    // raw label — with the cell count frozen at the 10 labels,
    // within-block all-pairs work grows O(n²/10), the one quadratic trap
    // left in this family. b scales with √n so within-cell pairs stay
    // ~linear (metered by ScaleProbe's seed_cells meter, like ivf_cells);
    // at the gate SFs b = 0 and cell ≡ label, so the oracle keeps its
    // label-join form (the gate-regime convention every trained-quantizer
    // oracle here follows). Norms are computed once per vector BEFORE
    // the pair join (not per pair).
    "dedup_emb_cos" -> { (s, dir) =>
      import s.implicits._
      val dot = (x: Column, y: Column) => graft.functions.FloatDot.floatDot(x, y)
      val v = Tables(s, dir).embeddings
        .select($"vec_id", $"embedding",
          dot($"embedding", $"embedding").as("norm2"))
        .join(Similarity.seedCellAssignments(s, dir), "vec_id")
      v.select($"vec_id".as("ia"), $"embedding".as("ea"), $"norm2".as("na"), $"cell")
        .join(v.select($"vec_id".as("ib"), $"embedding".as("eb"), $"norm2".as("nb"), $"cell"), "cell")
        .filter($"ia" < $"ib")
        .withColumn("cos", dot($"ea", $"eb") / sqrt($"na" * $"nb"))
        .filter($"cos" >= 0.4)
        .select($"ia", $"ib", round($"cos", 6).as("cos"))
        .orderBy($"ia", $"ib")
    }
  )

  /** Jaccard threshold of the prefix-filter family as an exact integer
    * ratio (4/5 = 0.8): all prefix/size arithmetic stays integral so no
    * double rounding can admit or drop a boundary pair.
    */
  private val PrefT_num = 4
  private val PrefT_den = 5

  /** Session-scoped memo of the persisted prefix index ([[prefixIndex]])
    * — consumed on BOTH sides of the candidate self-join (and by the
    * meter query); without it the tokenize+df+rank front end runs once
    * per join side. The staged artifact of the prefix-filter family,
    * like [[shingleIndex]]/[[windowIndex]].
    *
    * The prefix index: per doc, the first n_sh − ⌈0.8·n_sh⌉ + 1 kept
    * shingles under the global (document frequency asc, shingle asc)
    * order. ⌈4n/5⌉ = (4n + 4) div 5 — integral. One window function
    * partitioned by doc_id (per-doc state only; parallelizes across
    * docs at scale exactly like dedup_spans' island merge).
    */
  private def prefixIndex(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Dedup.prefix_index") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "prefix_index", Seq("documents")) {
        val (kept, sizes) = shingleIndex(s, dir)
        val df = kept.groupBy($"sh").agg(count(lit(1)).as("df"))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"df", $"sh")
        kept.join(df, "sh")
          .withColumn("rk", row_number().over(win))
          .join(sizes, "doc_id")
          .filter($"rk" <= $"n_sh" - expr(
            s"($PrefT_num * n_sh + ${PrefT_den - 1}) div $PrefT_den") + 1)
          .select($"doc_id", $"sh", $"n_sh")
      }.persist()
    }

  /** Candidate pairs admitted by the prefix + size filters (ia < ib,
    * deduplicated). The join key is the prefix shingle — rarest-first,
    * so the per-key fanout is small by construction (a shingle with df
    * ≤ MaxDf contributes at most df² ≤ 10⁴ pairs, and prefix membership
    * prunes far below that). Persisted memo: the pair set feeds both the
    * jaccard query's verifier and the meter's three counters.
    */
  private def prefixCandidates(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Dedup.prefix_candidates") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "prefix_candidates", Seq("documents")) {
        val p = prefixIndex(s, dir)
        p.toDF("ia", "sh", "na").join(p.toDF("ib", "sh", "nb"), "sh")
          .filter($"ia" < $"ib")
          .filter($"na" * PrefT_den >= $"nb" * PrefT_num &&
            $"nb" * PrefT_den >= $"na" * PrefT_num)
          .select($"ia", $"ib")
          .dropDuplicates("ia", "ib")
      }.persist()
    }

  /** Exact shared-shingle counts restricted to the prefix-admitted
    * candidates — the verification join, the expensive half of the
    * prefix route. Staged once per (session, corpus): dedup_jaccard_prefix
    * filters it to the ≥ t pairs and dedup_prefix_meter counts its
    * survivors, so the verifier runs once for the family instead of once
    * per consumer (exactly how interIndex is shared by the
    * jaccard/containment/clusters family).
    */
  private def prefixInter(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Dedup.prefix_inter") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "prefix_inter", Seq("documents")) {
        val (kept, _) = shingleIndex(s, dir)
        prefixCandidates(s, dir)
          .join(kept.toDF("ia", "sh"), "ia")
          .join(kept.toDF("ib", "sh"), Seq("ib", "sh"))
          .groupBy($"ia", $"ib").agg(count(lit(1)).as("inter"))
      }.persist()
    }

  /** Floor of the SimHash band-bucket cap. The effective cap is
    * `greatest(MaxBucket, 4 × n_docs / 256)` — relative to the expected
    * uniform occupancy (n_docs/256 per band), so the guard drops only
    * genuinely HOT buckets (≥ 4× expected) instead of degenerating into
    * a blanket filter once corpora outgrow 256×cap docs. The ScaleProbe
    * meter exposed exactly that failure mode: at 50k dup-dense docs an
    * absolute 200-cap sat below the AVERAGE occupancy (195) and made
    * 31k docs invisible to candidate generation. At the gate SFs
    * (≤ 5k docs) the relative term is below the floor, so oracle hashes
    * are unchanged.
    */
  private val MaxBucket = 200

  /** SimHash band rows BEFORE the hot-bucket cap: (doc_id, sim, band,
    * key). One codegen'd pass: explode token hashes, then 32 conditional
    * sums in a single HashAggregate (partial + final — map-side combine
    * on doc_id), instead of 32 interpreted passes per token array.
    */
  /** Session memo + durable staging for the pre-cap band table: it is
    * the expensive half of BOTH simhash queries (32 conditional sums
    * over every token), and a per-corpus stored artifact in production
    * exactly like the MinHash band index.
    */
  private def simhashBands0(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Dedup.simhash_bands") {
      Staging.readElseBuild(s, dir, "simhash_bands", Seq("documents")) {
        simhashBands0Uncached(s, dir)
      }.persist()
    }

  private def simhashBands0Uncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = wsTokens($"text")
    val perTok = Tables(s, dir).documents
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", explode(toks).as("t"))
      .select($"doc_id", tokHash($"t").as("h"))
    val sums = (0 to 31).map(b =>
      sum(when(shiftright($"h", b) % 2 === 1, 1L).otherwise(-1L)).as(s"s$b"))
    val bitSums = perTok.groupBy($"doc_id").agg(sums.head, sums.tail: _*)
    val sim = (0 to 31).map(b =>
      when(col(s"s$b") > 0, 1L << b).otherwise(0L)).reduce(_ + _)
    val docs = bitSums.select($"doc_id", sim.as("sim"))
    docs.select($"doc_id", $"sim",
      explode(array((0 to 3).map(i =>
        struct(lit(i).as("band"),
          pmod(shiftright($"sim", 8 * i), lit(256)).as("key"))): _*)).as("bk"))
      .select($"doc_id", $"sim", $"bk.band", $"bk.key")
  }

  /** Hot band-buckets under the relative cap (see [[MaxBucket]]). The
    * doc count enters as a broadcast 1-row scalar — no driver action.
    */
  private def simhashHotBuckets(s: SparkSession, dir: String, bands0: DataFrame): DataFrame = {
    import s.implicits._
    val tot = Tables(s, dir).documents
      .agg(count(lit(1)).cast("long").as("n_docs"))
    bands0.groupBy($"band", $"key").agg(count(lit(1)).as("bucket_n"))
      .crossJoin(broadcast(tot))
      .filter($"bucket_n" > greatest(lit(MaxBucket.toLong), expr("4 * n_docs div 256")))
      .select($"band", $"key")
  }

  private def simhashKeptBands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands0 = simhashBands0(s, dir)
    val hotBuckets = simhashHotBuckets(s, dir, bands0)
    bands0.join(broadcast(hotBuckets), Seq("band", "key"), "left_anti")
      .select($"doc_id", $"sim", $"band", $"key")
  }

  /** METER for the simhash hot-bucket skew guard: how much recall
    * surface the > MaxBucket cap discards on this corpus. A (doc, band)
    * row dropped means that band can no longer witness the doc's pairs;
    * a doc with ALL 4 bands dropped is invisible to simhash candidate
    * generation entirely. Run this alongside dedup_simhash whenever the
    * corpus changes (ScaleProbe prints it; DedupMeterSpec pins it on
    * the test corpus) so the recall loss is observed, not assumed.
    */
  def simhashDropStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // three consumers below (hot-bucket agg, dropped join, per-doc
    // distinct) — the band pipeline is staged + persisted, so the
    // branches share one materialization
    val bands0 = simhashBands0(s, dir)
    val hot = simhashHotBuckets(s, dir, bands0)
    val dropped = bands0.join(broadcast(hot), Seq("band", "key"))
    val perDoc = bands0.select($"doc_id").distinct()
      .join(dropped.groupBy($"doc_id").agg(count(lit(1)).as("n_dropped_bands")),
        Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_dropped_bands", lit(0L)).as("n_dropped_bands"))
    perDoc.agg(
      sum(when($"n_dropped_bands" > 0, 1L).otherwise(0L)).as("docs_affected"),
      sum(when($"n_dropped_bands" === 4, 1L).otherwise(0L)).as("docs_invisible"),
      sum($"n_dropped_bands").as("band_rows_dropped"),
      count(lit(1)).as("docs_total"))
  }

  /** Shared oracle CTE for the simhash family (mirrors [[simhashBands0]]
    * + [[simhashHotBuckets]] exactly): per-doc 32-bit tf-weighted
    * simhash, byte-band rows, and the relative-capped hot buckets.
    * Consumed by both the dedup_simhash oracle and the drop-meter
    * oracle, so the guard's definition can never drift between them.
    */
  private val SimhashCte =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_transform(
      |      list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
      |      tk -> ('0x' || substr(md5(tk), 1, 8))::BIGINT) AS hs
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(0::BIGINT,
      |      list_transform(range(0, 32), b -> CASE WHEN
      |        list_reduce(list_prepend(0::BIGINT,
      |          list_transform(hs, h -> CASE WHEN (h // CAST(2**b AS BIGINT)) % 2 = 1
      |                                      THEN 1::BIGINT ELSE (-1)::BIGINT END)),
      |          (x, y) -> x + y) > 0
      |        THEN CAST(2**b AS BIGINT) ELSE 0::BIGINT END)),
      |      (x, y) -> x + y) AS sim
      |  FROM t),
      |bands0 AS (
      |  SELECT doc_id, sim, b AS band, (sim // CAST(2**(8*b) AS BIGINT)) % 256 AS key
      |  FROM sh, unnest([0, 1, 2, 3]) AS u(b)),
      |hot AS (
      |  SELECT band, key FROM bands0 GROUP BY band, key
      |  HAVING count(*) > greatest(200,
      |    (4 * (SELECT count(*) FROM documents)) // 256))""".stripMargin

  /** Shared oracle CTE: tokenized docs → df-filtered distinct shingle
    * sets (mirrors [[shingleIndex]] exactly). `private[graft]` so
    * [[GraphRank]]'s oracles build on the SAME shingle definition —
    * one source of truth, no drift between the dedup family and the
    * source-graph family.
    */
  private[graft] val ShingleCte =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |sh0 AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
       |    THEN list_transform(range(1, len(toks) - 1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |    ELSE [] END) AS shs
       |  FROM t),
       |ex0 AS (SELECT doc_id, unnest(shs) AS sh FROM sh0),
       |hot AS (SELECT sh FROM ex0 GROUP BY sh HAVING count(*) > $MaxDf),
       |ex AS (SELECT doc_id, sh FROM ex0 WHERE sh NOT IN (SELECT sh FROM hot)),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id)""".stripMargin

  /** Shared oracle CTE chain for the MinHash+LSH route (appended after
    * [[ShingleCte]]): 12 permuted min-hashes → 4 bands of 3 → distinct
    * band-collision candidates → exact Jaccard `j(ia, ib, jac)`.
    * Consumed by dedup_minhash_lsh and dedup_lsh_recall so the LSH
    * definition can never drift between the operator and its meter.
    */
  private val MinhashBandsCte =
    """sets AS (SELECT doc_id, list(sh) AS shs FROM ex GROUP BY doc_id),
      |mh AS (
      |  SELECT doc_id, shs,
      |    list_transform(range(0, 12), i ->
      |      list_min(list_transform(shs, sh ->
      |        ((('0x' || substr(md5(sh), 1, 12))::BIGINT % 2147483647)
      |          * (1103515245 + 12345*i)
      |         + (1000003*i + 54321)) % 2147483647))) AS m
      |  FROM sets),
      |bands AS (
      |  SELECT doc_id, shs, b AS band,
      |    m[3*b + 1]::VARCHAR || ',' || m[3*b + 2]::VARCHAR || ',' || m[3*b + 3]::VARCHAR AS key
      |  FROM mh, unnest([0, 1, 2, 3]) AS u(b))""".stripMargin

  private val MinhashCte =
    s"""$MinhashBandsCte,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib, a.shs AS sha, b.shs AS shb
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      |   AND a.doc_id < b.doc_id),
      |j AS (
      |  SELECT ia, ib, len(list_intersect(sha, shb)) AS inter,
      |    CAST(len(list_intersect(sha, shb)) AS DOUBLE)
      |      / (len(sha) + len(shb) - len(list_intersect(sha, shb))) AS jac
      |  FROM cand)""".stripMargin

  /** Shared oracle CTE chain: Jaccard ≥ 0.8 pairs → undirected edges →
    * transitive closure (recursive CTE) → per-doc min-label cluster id
    * (`lab(doc_id, cluster_rep)`). Consumed by dedup_clusters and
    * dedup_drop_list so the cluster definition can never drift.
    */
  private val ClusterCte =
    s"""$ShingleCte,
       |inter AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT ia, ib FROM inter
       |  JOIN sizes sa ON sa.doc_id = ia
       |  JOIN sizes sb ON sb.doc_id = ib
       |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8),
       |edges AS (
       |  SELECT ia AS src, ib AS dst FROM pairs
       |  UNION ALL SELECT ib, ia FROM pairs
       |  UNION SELECT ia, ia FROM pairs
       |  UNION SELECT ib, ib FROM pairs),
       |reach AS (
       |  WITH RECURSIVE r(src, dst) AS (
       |    SELECT src, dst FROM edges
       |    UNION
       |    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
       |  SELECT * FROM r),
       |lab AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_rep
       |  FROM reach GROUP BY src)""".stripMargin

  def oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY fp ORDER BY keep_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""$ShingleCte,
         |inter AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT ia, ib,
         |  round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jac
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = ia
         |JOIN sizes sb ON sb.doc_id = ib
         |WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8
         |ORDER BY ia, ib""".stripMargin,

    // Same result set as dedup_ngram_jaccard by construction (the prefix
    // filter is exact) — the oracle IS the straightforward full
    // inverted-index SQL; only the Spark-side plan differs.
    "dedup_jaccard_prefix" ->
      s"""$ShingleCte,
         |inter AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT ia, ib,
         |  round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jac
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = ia
         |JOIN sizes sb ON sb.doc_id = ib
         |WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8
         |ORDER BY ia, ib""".stripMargin,

    "dedup_prefix_meter" ->
      s"""$ShingleCte,
         |df AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
         |rk AS (
         |  SELECT e.doc_id, e.sh, s.n_sh,
         |    row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.sh) AS rk
         |  FROM ex e JOIN df d ON e.sh = d.sh JOIN sizes s ON s.doc_id = e.doc_id),
         |pref AS (
         |  SELECT doc_id, sh, n_sh FROM rk
         |  WHERE rk <= n_sh - ((4 * n_sh + 4) // 5) + 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM pref a JOIN pref b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  WHERE a.n_sh * 5 >= b.n_sh * 4 AND b.n_sh * 5 >= a.n_sh * 4),
         |inter AS (
         |  SELECT c.ia, c.ib, count(*) AS inter
         |  FROM cand c
         |  JOIN ex a ON a.doc_id = c.ia
         |  JOIN ex b ON b.doc_id = c.ib AND b.sh = a.sh
         |  GROUP BY 1, 2),
         |surv AS (
         |  SELECT i.ia FROM inter i
         |  JOIN sizes sa ON sa.doc_id = i.ia
         |  JOIN sizes sb ON sb.doc_id = i.ib
         |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8)
         |SELECT CAST((SELECT count(*) FROM pref) AS BIGINT) AS prefix_rows,
         |       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
         |       CAST((SELECT count(*) FROM surv) AS BIGINT) AS n_pairs""".stripMargin,

    "dedup_containment" ->
      s"""$ShingleCte,
         |inter AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT ia, ib,
         |  round(CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) AS containment
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = ia
         |JOIN sizes sb ON sb.doc_id = ib
         |WHERE CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.9
         |ORDER BY ia, ib""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""$ShingleCte,
         |$MinhashCte
         |SELECT ia, ib, round(jac, 6) AS jac FROM j WHERE jac >= 0.5
         |ORDER BY ia, ib""".stripMargin,

    "dedup_lsh_recall" ->
      s"""$ShingleCte,
         |$MinhashCte,
         |inter AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT ia, ib FROM inter
         |  JOIN sizes sa ON sa.doc_id = ia
         |  JOIN sizes sb ON sb.doc_id = ib
         |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
         |lshr AS (SELECT ia, ib FROM j WHERE jac >= 0.5)
         |SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
         |       CAST((SELECT count(*) FROM exact e
         |             WHERE EXISTS (SELECT 1 FROM lshr l
         |                           WHERE l.ia = e.ia AND l.ib = e.ib)) AS BIGINT)
         |         AS n_found,
         |       CAST((SELECT count(*) FROM exact) AS BIGINT)
         |         - CAST((SELECT count(*) FROM exact e
         |                 WHERE EXISTS (SELECT 1 FROM lshr l
         |                               WHERE l.ia = e.ia AND l.ib = e.ib)) AS BIGINT)
         |         AS n_missed""".stripMargin,

    "dedup_lsh_recall_sampled" ->
      s"""$ShingleCte,
         |$MinhashBandsCte,
         |modu AS (
         |  SELECT greatest(4, CAST(ceil(count(*) / $LshSampleTarget.0) AS BIGINT)) AS m
         |  FROM documents),
         |sampex AS (
         |  SELECT doc_id, sh FROM ex
         |  WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
         |         % (SELECT m FROM modu)) = 0),
         |sinter AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
         |  FROM sampex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |sexact AS (
         |  SELECT ia, ib FROM sinter
         |  JOIN sizes sa ON sa.doc_id = ia
         |  JOIN sizes sb ON sb.doc_id = ib
         |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
         |sfound AS (
         |  SELECT ia, ib FROM sexact e
         |  WHERE EXISTS (
         |    SELECT 1 FROM bands x JOIN bands y
         |      ON x.band = y.band AND x.key = y.key
         |    WHERE x.doc_id = e.ia AND y.doc_id = e.ib)),
         |cnt AS (
         |  SELECT CAST((SELECT count(*) FROM sexact) AS BIGINT) AS n_exact_anchored,
         |         CAST((SELECT count(*) FROM sfound) AS BIGINT) AS n_found_anchored)
         |SELECT n_exact_anchored, n_found_anchored,
         |  CASE WHEN n_exact_anchored = 0 THEN 0.0
         |       ELSE round(CAST(n_found_anchored AS DOUBLE) / n_exact_anchored, 6)
         |  END AS recall_est
         |FROM cnt""".stripMargin,

    // Same banding CTEs as dedup_minhash_lsh; only the candidate join is
    // asymmetric (new batch × existing corpus) and the output is the
    // per-new-doc argmax decision.
    "dedup_incremental" ->
      s"""$ShingleCte,
         |$MinhashBandsCte,
         |candi AS (
         |  SELECT DISTINCT n.doc_id AS ni, o.doc_id AS oi,
         |    n.shs AS shn, o.shs AS sho
         |  FROM bands n JOIN bands o ON n.band = o.band AND n.key = o.key
         |  WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0),
         |ji AS (
         |  SELECT ni, oi,
         |    CAST(len(list_intersect(shn, sho)) AS DOUBLE)
         |      / (len(shn) + len(sho) - len(list_intersect(shn, sho))) AS jac
         |  FROM candi),
         |pick AS (
         |  SELECT ni, oi, jac,
         |    row_number() OVER (PARTITION BY ni ORDER BY jac DESC, oi) AS rn
         |  FROM ji WHERE jac >= 0.5)
         |SELECT ni AS new_id, oi AS dup_of, round(jac, 6) AS jac
         |FROM pick WHERE rn = 1 ORDER BY new_id""".stripMargin,

    // Oracle twin of dedup_minhash_est: same candidate set (including
    // zero-overlap collisions — MinhashCte's j keeps them at jac 0),
    // same per-pair agreement fraction, same DECIMAL-exact means.
    "dedup_minhash_est" ->
      s"""$ShingleCte,
         |$MinhashCte,
         |sigp AS (
         |  SELECT j.jac,
         |    len(list_filter(range(1, 13),
         |      i -> a.m[i] = b.m[i]))::DOUBLE / 12.0 AS est
         |  FROM j JOIN mh a ON a.doc_id = j.ia
         |         JOIN mh b ON b.doc_id = j.ib)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(CAST(SUM(CAST(est AS DECIMAL(27,6))) AS DOUBLE)
         |    / count(*), 6) AS mean_est,
         |  round(CAST(SUM(CAST(jac AS DECIMAL(27,6))) AS DOUBLE)
         |    / count(*), 6) AS mean_jac,
         |  round(CAST(SUM(CAST(abs(est - jac) AS DECIMAL(27,6))) AS DOUBLE)
         |    / count(*), 6) AS mean_abs_err
         |FROM sigp""".stripMargin,

    // Oracle twin of dedup_hot_drift: same raw (unfiltered) per-side
    // shingle dfs over the same %5 split, same crossing predicate.
    "dedup_hot_drift" ->
      s"""$ShingleCte,
         |de AS (SELECT sh, CAST(count(*) AS BIGINT) AS df_exist
         |       FROM ex0 WHERE doc_id % 5 <> 0 GROUP BY sh),
         |db AS (SELECT sh, CAST(count(*) AS BIGINT) AS df_batch
         |       FROM ex0 WHERE doc_id % 5 = 0 GROUP BY sh),
         |dj AS (
         |  SELECT db.sh, COALESCE(de.df_exist, CAST(0 AS BIGINT)) AS df_exist,
         |    db.df_batch
         |  FROM db LEFT JOIN de USING (sh))
         |SELECT CAST(count(*) AS BIGINT) AS n_batch_shingles,
         |  CAST(sum(CASE WHEN df_exist <= $MaxDf
         |                 AND df_exist + df_batch > $MaxDf
         |            THEN 1 ELSE 0 END) AS BIGINT) AS n_crossed,
         |  CAST(sum(CASE WHEN df_exist > $MaxDf THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_already_hot,
         |  CAST(max(df_exist + df_batch) AS BIGINT) AS max_df_after
         |FROM dj""".stripMargin,

    "dedup_clusters" ->
      s"""$ClusterCte
         |SELECT doc_id, cluster_rep FROM lab ORDER BY doc_id""".stripMargin,

    "dedup_drop_list" ->
      s"""$ClusterCte,
         |tok AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tok
         |  FROM documents),
         |win AS (
         |  SELECT l.cluster_rep, l.doc_id,
         |    row_number() OVER (PARTITION BY l.cluster_rep
         |                       ORDER BY t.n_tok DESC, l.doc_id) AS rn
         |  FROM lab l JOIN tok t ON t.doc_id = l.doc_id),
         |keep AS (SELECT cluster_rep, doc_id AS keep_id FROM win WHERE rn = 1)
         |SELECT l.doc_id, l.cluster_rep, k.keep_id
         |FROM lab l JOIN keep k ON k.cluster_rep = l.cluster_rep
         |WHERE l.doc_id <> k.keep_id
         |ORDER BY l.doc_id""".stripMargin,

    "dedup_apply" ->
      s"""$ClusterCte,
         |tok AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tok
         |  FROM documents),
         |win AS (
         |  SELECT l.cluster_rep, l.doc_id,
         |    row_number() OVER (PARTITION BY l.cluster_rep
         |                       ORDER BY t.n_tok DESC, l.doc_id) AS rn
         |  FROM lab l JOIN tok t ON t.doc_id = l.doc_id),
         |keep AS (SELECT cluster_rep, doc_id AS keep_id FROM win WHERE rn = 1),
         |drops AS (
         |  SELECT l.doc_id FROM lab l
         |  JOIN keep k ON k.cluster_rep = l.cluster_rep
         |  WHERE l.doc_id <> k.keep_id)
         |SELECT d.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(t.n_tok) AS BIGINT) AS n_tokens
         |FROM documents d
         |JOIN tok t ON t.doc_id = d.doc_id
         |WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = d.doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "dedup_substring" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
        |    THEN list_transform(range(1, len(toks) - 3),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |              toks[i+3] || ' ' || toks[i+4])
        |    ELSE [] END) AS w
        |  FROM t)
        |SELECT substr(md5(w), 1, 16) AS fp,
        |       count(DISTINCT doc_id) AS n_docs,
        |       count(*) AS n_occurrences
        |FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY fp""".stripMargin,

    // Same t/g window derivation as dedup_substring (inline-duplicated
    // like dedup_spans'); the existing side is the distinct-fp set.
    "dedup_substring_incremental" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
        |    THEN list_transform(range(1, len(toks) - 3),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |              toks[i+3] || ' ' || toks[i+4])
        |    ELSE [] END) AS w
        |  FROM t),
        |f AS (SELECT doc_id, substr(md5(w), 1, 16) AS fp FROM g),
        |oldf AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 <> 0),
        |nw AS (SELECT doc_id, fp FROM f WHERE doc_id % 5 = 0),
        |tot AS (SELECT doc_id, count(*) AS n_windows FROM nw GROUP BY doc_id),
        |dup AS (
        |  SELECT n.doc_id, count(*) AS n_dup_windows FROM nw n
        |  WHERE EXISTS (SELECT 1 FROM oldf o WHERE o.fp = n.fp)
        |  GROUP BY n.doc_id)
        |SELECT d.doc_id AS new_id,
        |       CAST(d.n_dup_windows AS BIGINT) AS n_dup_windows,
        |       CAST(t2.n_windows AS BIGINT) AS n_windows,
        |       round(CAST(d.n_dup_windows AS DOUBLE) / t2.n_windows, 6)
        |         AS dup_fraction
        |FROM dup d JOIN tot t2 ON t2.doc_id = d.doc_id
        |ORDER BY new_id""".stripMargin,

    "dedup_spans" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(toks) - 3)) AS pos1,
        |    unnest(list_transform(range(1, len(toks) - 3),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |           toks[i+3] || ' ' || toks[i+4])) AS w
        |  FROM t WHERE len(toks) >= 5),
        |f AS (SELECT doc_id, pos1, substr(md5(w), 1, 16) AS fp FROM g),
        |dup AS (SELECT fp FROM f GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
        |fl AS (SELECT doc_id, pos1 FROM f WHERE fp IN (SELECT fp FROM dup)),
        |isl AS (
        |  SELECT doc_id, pos1,
        |    pos1 - row_number() OVER (PARTITION BY doc_id ORDER BY pos1) AS grp
        |  FROM fl)
        |SELECT doc_id, min(pos1) AS span_start, max(pos1) + 4 AS span_end,
        |       count(*) AS n_windows
        |FROM isl GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,

    "dedup_simhash" ->
      s"""$SimhashCte,
        |bands AS (
        |  SELECT * FROM bands0 b0
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |                    WHERE h.band = b0.band AND h.key = b0.key)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib, a.sim AS sima, b.sim AS simb
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        |   AND a.doc_id < b.doc_id)
        |SELECT ia, ib, bit_count(xor(sima, simb)) AS hamming
        |FROM cand WHERE bit_count(xor(sima, simb)) <= 3
        |ORDER BY ia, ib""".stripMargin,

    "dedup_simhash_drops" ->
      s"""$SimhashCte,
        |dropped AS (
        |  SELECT b0.doc_id FROM bands0 b0
        |  JOIN hot h ON b0.band = h.band AND b0.key = h.key),
        |perdoc AS (SELECT doc_id, count(*) AS nd FROM dropped GROUP BY doc_id)
        |SELECT CAST((SELECT count(*) FROM perdoc) AS BIGINT) AS docs_affected,
        |       CAST((SELECT count(*) FROM perdoc WHERE nd = 4) AS BIGINT) AS docs_invisible,
        |       CAST(COALESCE((SELECT sum(nd) FROM perdoc), 0) AS BIGINT) AS band_rows_dropped,
        |       CAST((SELECT count(DISTINCT doc_id) FROM bands0) AS BIGINT) AS docs_total""".stripMargin,

    "dedup_emb_cos" ->
      """WITH v AS (
        |  SELECT vec_id, label, embedding,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(range(1, len(embedding) + 1),
        |        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
        |      (x, y) -> x + y) AS norm2
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
        |      (x, y) -> x + y) / sqrt(a.norm2 * b.norm2) AS cos
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT ia, ib, round(cos, 6) AS cos FROM p WHERE cos >= 0.4
        |ORDER BY ia, ib""".stripMargin
  )
}
