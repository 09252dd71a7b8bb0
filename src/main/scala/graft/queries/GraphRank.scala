package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Staging, Tables}

/** Source-graph curation — link-analysis quality signals over the
  * corpus's SOURCE (domain) structure, the graph leg of the
  * training-data pipeline:
  *
  *  - `gr_source_graph` — the shared-content graph: an edge (sa, sb, w)
  *    between two sources weighted by how many distinct df-filtered
  *    shingles they both contain. This is the mirror/scraper-detection
  *    signal CommonCrawl-scale curation runs: sources that share
  *    substantial verbatim content are mirrors, aggregators, or
  *    scrapers of one another.
  *  - `gr_source_rank` — weighted PageRank (Brin & Page) over that
  *    graph, [[Iters]] fixed iterations at damping [[Damping]]: a
  *    centrality score per source. Exact-decimal iteration discipline
  *    (per-edge contributions rounded to 6 decimals and summed in
  *    DECIMAL) makes the fixpoint prefix deterministic on both engines,
  *    so the oracle replays it value for value.
  *  - `gr_rank_gate` — the curation application: a rank-proportional
  *    per-source document budget (floor(B·pr/Σpr), B = half the
  *    corpus) — the domain-weighted sampling allocation a pretraining
  *    mix assigns from a quality/centrality signal.
  *  - `gr_rank_sample` — the doc-level selection under those budgets:
  *    per source, the budget-many docs that win a deterministic
  *    md5-order draw (the same device as tx_sample_stratified).
  *  - `gr_mirror_pairs` — the NORMALIZED mirror signal: edges whose
  *    overlap coefficient w / min(|A|, |B|) (distinct df-filtered
  *    shingles per source) reaches [[MirrorOv]]. Raw shared counts
  *    grow with corpus size; the coefficient is scale-free, so one
  *    threshold serves every SF.
  *  - `gr_components` — mirror CLUSTERS: connected components of the
  *    mirror subgraph by min-label propagation run to convergence
  *    (the [[Dedup]] cluster device at the source level); every
  *    source labeled, isolated sources as singletons.
  *  - `gr_component_stats` — the reviewable cluster report: members,
  *    covered docs, internal mirror edges, total shared weight.
  *  - `gr_triangles` — per-source triangle count and local clustering
  *    coefficient over the mirror subgraph, wedges enumerated
  *    DEGREE-ORIENTED (work bounded by oriented out-degree, O(m^1.5)
  *    total — the device that survives hub skew at web scale).
  *  - `gr_mirror_keep` — the curation decision: per mirror cluster
  *    keep the member with the best PageRank (ties to the smallest
  *    source), flag the rest for drop, with per-source doc volumes.
  *  - `gr_rank_delta` — the convergence meter behind the fixed
  *    [[Iters]] choice: max |Δr| per iteration, measured not asserted.
  *  - `gr_graph_incremental` — edge maintenance: stored-generation
  *    edges (old docs only) + the delta from batch-new postings,
  *    hash-PROVEN equal to the full rebuild (the oracle IS the
  *    rebuilt edge list).
  *
  * Scale posture (100 TB): the edge build is an inverted-index
  * equi-join on the shingle — never all-pairs over sources — and
  * inherits the dedup family's stop-shingle guard (df ≤ 100 docs), so
  * a shingle's source fanout, and with it the per-shingle pair count,
  * is bounded; the staged (doc_id, sh) exchange is SHARED with the
  * dedup family ([[Dedup.shingleExchange]] — one corpus-scale
  * tokenize+hash front end for both families). Each PageRank iteration
  * is one equi-join of the edge list against the previous rank vector
  * keyed by source plus one aggregation keyed by target — vertices are
  * sources (domains), orders of magnitude fewer than documents, and
  * the rank vector never leaves the cluster (a production run would
  * checkpoint it per iteration; here the [[Iters]]-deep plan stays
  * comfortably inside one job). The gate is one broadcast of two
  * 1-row scalar frames; the sampler is a source-partitioned window
  * bounded by the per-source budget. No windows over the corpus, no
  * cartesian products, no driver-side loops over data.
  */
object GraphRank {

  /** PageRank damping (Brin & Page's 0.85) and its teleport complement.
    * [[Teleport]] is written literally (not 1 − 0.85) so the constant
    * is the same exact double on both engines.
    */
  private[queries] val Damping = 0.85
  private[queries] val Teleport = 0.15

  /** Fixed iteration count: 5 is past the knee on a 20-vertex graph
    * (adjacent iterations agree to ~1e-4) while keeping the unrolled
    * oracle CTE chain readable.
    */
  private[queries] val Iters = 5

  /** Mirror threshold on the overlap coefficient
    * w / min(|shingles(sa)|, |shingles(sb)|): a pair sharing ≥ 10% of
    * its smaller side's distinct content is flagged as a mirror
    * candidate. The raw (unrounded) ratio is compared — one IEEE
    * division of two exact integers, the same double on both engines.
    */
  private[queries] val MirrorOv = 0.1

  /** Drop and release the family's session memos ([[Memo]]): the
    * staged edge list feeds three queries and is
    * read 2·[[Iters]] times by the rank loop; ranks feed the gate and
    * the sampler; the mirror subgraph feeds components, triangles and
    * the keep decision; components are a converged multi-round loop
    * (localCheckpoint-backed, like [[Dedup]]'s cluster labels).
    */
  def clearCaches(): Unit = Memo.clear("GraphRank")

  /** Distinct (sh, source) pairs from the df-filtered shingle index —
    * the source-level posting list. Distinct-per-source first, so a
    * shingle repeated across many docs of ONE source contributes a
    * single posting (the graph measures shared content, not volume).
    */
  private def srcShingles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.shingleExchange(s, dir)
      .join(Tables(s, dir).documents.select($"doc_id", $"source"), "doc_id")
      .select($"sh", $"source")
      .distinct()
  }

  /** The staged source graph: (sa, sb, w), sa < sb, w = distinct
    * shared shingles. One shuffle on the shingle (the posting-list
    * self-join), one on the (sa, sb) pair.
    */
  private[graft] def sourceEdges(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "GraphRank.source_graph") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "source_graph", Seq("documents")) {
        val ss = srcShingles(s, dir)
        ss.toDF("sh", "sa").join(ss.toDF("sh", "sb"), Seq("sh"))
          .filter($"sa" < $"sb")
          .groupBy($"sa", $"sb")
          .agg(count(lit(1)).as("w"))
      }.persist()
    }

  /** r0 … r[[Iters]]: the full exact-decimal PageRank trajectory over
    * the symmetrized edge list. Per directed edge (u, v):
    * c = round(r(u)·w/tw(u), 6), summed per target in DECIMAL(18,6);
    * r'(v) = round(0.15/n + 0.85·Σc, 6). Sources with no edges hold
    * the teleport floor; dangling mass evaporates (documented: ranks
    * sum to slightly under 1 when isolated sources exist), which keeps
    * the update local — no global dangling-mass redistribution term.
    * The trajectory feeds [[sourceRanks]] (its last element) and the
    * gr_rank_delta convergence meter (adjacent differences).
    */
  private def rankIterations(s: SparkSession, dir: String): Seq[DataFrame] =
    rankTrajectory(s, dir)._1

  /** The trajectory plus its persisted inputs (ed/outw/verts) — plan
    * prefixes of every iteration rather than memoized frames of their
    * own, held in the memo so releasing it frees them too. */
  private def rankTrajectory(
      s: SparkSession, dir: String): (Seq[DataFrame], Seq[DataFrame]) =
    Memo(s, dir, "GraphRank.rank_trajectory") {
      import s.implicits._
      val e = sourceEdges(s, dir)
      val ed = e.select($"sa".as("u"), $"sb".as("v"), $"w")
        .unionByName(e.select($"sb".as("u"), $"sa".as("v"), $"w"))
        .persist()
      val outw = ed.groupBy($"u").agg(sum($"w").as("tw")).persist()
      val verts = Tables(s, dir).documents
        .select($"source".as("v")).distinct().persist()
      val nn = verts.agg(count(lit(1)).as("n"))
      val r0 = verts.crossJoin(broadcast(nn))
        .select($"v", round(lit(1.0) / $"n", 6).as("r"))
      // r17 optimization: each iteration is MATERIALIZED (localCheckpoint,
      // source-count-sized rows) before the next builds on it. scanLeft
      // used to chain lazy plans, so iteration i's frame re-computed
      // iterations 1..i−1 from scratch — gr_rank_delta's adjacent-pair
      // joins then cost O(Iters²) rank passes; checkpointing makes the
      // trajectory linear and every consumer (delta meter, sourceRanks,
      // gate/sample) reads tiny materialized frames.
      // CLUSTER CAVEAT (ADVICE r17): localCheckpoint is eager and stores
      // non-replicated executor-local blocks with truncated lineage — the
      // whole trajectory materializes up front even for last-frame-only
      // consumers, and on a real cluster an executor loss makes the
      // checkpointed frames unrecoverable mid-run. Right for this
      // single-node bench posture (source-count-sized frames, ~seconds to
      // recompute); the documented 100 TB posture instead writes each
      // iteration as a staged table (reliable storage) and restarts the
      // loop from the last committed iteration on failure.
      val traj = (1 to Iters).scanLeft(r0) { (r, _) =>
        val m = ed.join(outw, "u")
          .join(r.toDF("u", "r"), "u")
          .select($"v",
            round(($"r" * $"w") / $"tw", 6).cast("decimal(18,6)").as("c"))
          .groupBy($"v")
          .agg(sum($"c").cast("double").as("sm"))
        verts.join(m, Seq("v"), "left").crossJoin(broadcast(nn))
          .select($"v", round(lit(Teleport) / $"n" +
            lit(Damping) * coalesce($"sm", lit(0.0)), 6).as("r"))
          .localCheckpoint()
      }
      (traj, Seq(ed, outw, verts))
    }

  private[graft] def sourceRanks(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "GraphRank.source_ranks")(rankIterations(s, dir).last.persist())

  /** Per-source distinct df-filtered shingle counts — the denominators
    * of the overlap coefficient. Staged with the graph (a production
    * run writes both in the same job; the build shares the one
    * session-memoized shingle exchange).
    */
  private def srcSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Staging.readElseBuild(s, dir, "source_nsh", Seq("documents")) {
      srcShingles(s, dir).groupBy($"source").agg(count(lit(1)).as("n_sh"))
    }
  }

  /** The mirror subgraph: edges whose overlap coefficient
    * w / min(n_sh(sa), n_sh(sb)) reaches [[MirrorOv]] — the
    * normalized mirror/scraper signal (raw shared-shingle counts scale
    * with corpus size; the coefficient doesn't). The filter compares
    * the raw ratio; the emitted `ov` is the family's 6-decimal round.
    */
  private[graft] def mirrorEdges(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "GraphRank.mirror_edges") {
      import s.implicits._
      Staging.readElseBuild(s, dir, "mirror_edges", Seq("documents")) {
        val nsh = srcSizes(s, dir)
        sourceEdges(s, dir)
          .join(nsh.toDF("sa", "na"), "sa")
          .join(nsh.toDF("sb", "nb"), "sb")
          .filter($"w".cast("double") / least($"na", $"nb") >= MirrorOv)
          .select($"sa", $"sb", $"w",
            round($"w".cast("double") / least($"na", $"nb"), 6).as("ov"))
      }.persist()
    }

  /** Connected components of the mirror subgraph — the mirror
    * CLUSTERS a curation run reviews (a set of sources that
    * transitively share ≥ [[MirrorOv]] of their content is one
    * publisher family: mirrors, aggregators, scrapers). Min-label
    * propagation run to convergence, the same device as
    * [[Dedup]]'s duplicate clusters: one equi-join + one aggregate
    * per round, localCheckpoint each round so the plan stays flat
    * (plain neighbor-min propagation — no pointer doubling — needs
    * graph-DIAMETER rounds; mirror families are near-cliques, so the
    * diameter is tiny, and a pathological chain past the 64-round cap
    * fails loudly, the [[Dedup]] convention), converged labels staged
    * per corpus generation.
    * Every source is labeled — isolated sources are singleton
    * components — so the frame is also the component-assignment
    * input to the keep decision.
    */
  private[graft] def mirrorComponents(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "GraphRank.mirror_components")(Staging.readElseBuild(
      s, dir, "mirror_components", Seq("documents")) {
      import s.implicits._
      val me = mirrorEdges(s, dir)
      val edges = me.select($"sa".as("src"), $"sb".as("dst"))
        .union(me.select($"sb".as("src"), $"sa".as("dst"))).persist()
      var labels = Tables(s, dir).documents
        .select($"source".as("v")).distinct()
        .select($"v", $"v".as("rep")).localCheckpoint()
      var changed = 1L
      var rounds = 0
      val maxRounds = 64
      // try/finally so the persisted symmetrized edge frame is released
      // on the non-convergence throw path too, not just on success
      try {
        while (changed > 0 && rounds < maxRounds) {
          val neighborMin = edges.join(labels, $"dst" === $"v")
            .groupBy($"src").agg(min($"rep").as("nmin"))
          val updated = labels.join(neighborMin, $"v" === $"src", "left")
            .select($"v", least($"rep", coalesce($"nmin", $"rep")).as("rep"))
            .localCheckpoint()
          changed = updated.join(labels.withColumnRenamed("rep", "old"), "v")
            .filter($"rep" =!= $"old").count()
          org.apache.spark.sql.GraftBridge.freeLocalCheckpoint(labels)
          labels = updated
          rounds += 1
        }
      } finally edges.unpersist(blocking = false)
      if (changed > 0)
        throw new IllegalStateException(
          s"gr_components did not converge in $maxRounds rounds")
      labels
    }).toDF("source", "component")

  /** Per-source rank-proportional budgets: (source, pr, n_docs,
    * budget), budget = floor(B·pr/Σpr) with B = n_docs_total div 2.
    * Σpr is a DECIMAL sum of 6-decimal ranks — exact, so the division
    * is the same double on both engines.
    */
  private[graft] def rankGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    val perSrc = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val b = docs.agg(count(lit(1)).as("nd_tot"))
      .select(expr("nd_tot div 2").as("b"))
    val sumPr = sourceRanks(s, dir)
      .agg(sum($"r".cast("decimal(18,6)")).cast("double").as("sum_pr"))
    perSrc
      .join(sourceRanks(s, dir).toDF("source", "pr"), "source")
      .crossJoin(broadcast(b))
      .crossJoin(broadcast(sumPr))
      .select($"source", $"pr", $"n_docs",
        floor(($"b".cast("double") * $"pr") / $"sum_pr").cast("long")
          .as("budget"))
  }

  /** Commit the rank gate's per-source budgets as serving generation
    * `gen-N/budgets` under `root` and flip `_latest` atomically — the
    * admission gate's artifact in the SAME loop every serving tier
    * runs ([[graft.core.Generations]]): rebuild ranks offline → commit
    * → the live ingest gate ([[graft.streaming.GateStream]]) resolves
    * the pointer per micro-batch → rollback is the pointer pointed
    * backwards. The artifact is sources-sized ((source, budget) rows),
    * so committing a generation costs one tiny parquet write.
    */
  def writeGateGeneration(s: SparkSession, dir: String, root: String): Long = {
    import s.implicits._
    commitGateGeneration(rankGate(s, dir).select($"source", $"budget"), root)
  }

  /** The commit half of [[writeGateGeneration]] for an EXPLICIT
    * (source, budget) frame — what a rank republish after a mirror
    * takedown calls, and what the cutover spec plants. */
  def commitGateGeneration(budgets: DataFrame, root: String): Long = {
    val next = graft.core.Generations.next(root)
    budgets.write.mode("overwrite").parquet(s"$root/gen-$next/budgets")
    graft.core.Generations.setLatest(root, next)
    next
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gr_source_graph" -> { (s, dir) =>
      import s.implicits._
      sourceEdges(s, dir).orderBy($"sa", $"sb")
    },

    "gr_source_rank" -> { (s, dir) =>
      import s.implicits._
      sourceRanks(s, dir)
        .select($"v".as("source"), $"r".as("pr"))
        .orderBy($"pr".desc, $"source")
    },

    "gr_rank_gate" -> { (s, dir) =>
      import s.implicits._
      rankGate(s, dir).orderBy($"source")
    },

    // Doc-level selection under the gate's budgets: per source, the
    // budget-many docs winning the deterministic md5 draw. The window
    // is source-partitioned (tx_sample_stratified's device) and the
    // budget frame is sources-sized — broadcast by the engine.
    "gr_rank_sample" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy(md5($"doc_id".cast("string")), $"doc_id")
      Tables(s, dir).documents
        .select($"doc_id", $"source")
        .withColumn("rn", row_number().over(w))
        .join(rankGate(s, dir).select($"source", $"budget"), "source")
        .filter($"rn" <= $"budget")
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    },

    // The normalized mirror signal: edges whose overlap coefficient
    // reaches the threshold, with the coefficient emitted.
    "gr_mirror_pairs" -> { (s, dir) =>
      import s.implicits._
      mirrorEdges(s, dir).orderBy($"sa", $"sb")
    },

    // Mirror clusters: converged component label (min member) per
    // source; isolated sources are their own component.
    "gr_components" -> { (s, dir) =>
      import s.implicits._
      mirrorComponents(s, dir).orderBy($"source")
    },

    // The reviewable mirror-cluster report: members, covered docs,
    // internal mirror edges and their total shared-shingle weight.
    // Component-keyed aggregates over two sources-sized frames.
    "gr_component_stats" -> { (s, dir) =>
      import s.implicits._
      val comp = mirrorComponents(s, dir)
      val perSrc = Tables(s, dir).documents
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      val members = comp.join(perSrc, "source")
        .groupBy($"component")
        .agg(count(lit(1)).as("n_sources"), sum($"n_docs").as("n_docs"))
      val edges = mirrorEdges(s, dir)
        .join(comp.toDF("sa", "component"), "sa")
        .groupBy($"component")
        .agg(count(lit(1)).as("n_edges"), sum($"w").as("w_shared"))
      members.join(edges, Seq("component"), "left")
        .select($"component", $"n_sources", $"n_docs",
          coalesce($"n_edges", lit(0L)).as("n_edges"),
          coalesce($"w_shared", lit(0L)).as("w_shared"))
        .orderBy($"component")
    },

    // Per-source triangle participation and local clustering
    // coefficient over the mirror subgraph — the density signal that
    // separates a tight mirror ring (cc → 1) from a hub-and-spoke
    // aggregator (cc → 0). The wedge enumeration is DEGREE-ORIENTED:
    // each undirected edge points from its lower-(degree, id) endpoint,
    // so a vertex's wedge count is bounded by its ORIENTED out-degree
    // (O(m^1.5) total work on any graph — a raw id-orientation lets one
    // low-id hub with d neighbors generate d² wedges). The closure
    // probe is an equi-join back onto the (sa < sb) edge list; the
    // triangle set is orientation-independent, so the id-ordered
    // oracle matches.
    "gr_triangles" -> { (s, dir) =>
      import s.implicits._
      val me = mirrorEdges(s, dir).select($"sa", $"sb")
      val med = me.select($"sa".as("u"), $"sb".as("v"))
        .union(me.select($"sb".as("u"), $"sa".as("v")))
      val deg = med.groupBy($"u").agg(count(lit(1)).as("deg"))
      val fwd = $"da" < $"db" || ($"da" === $"db" && $"sa" < $"sb")
      val o = me
        .join(deg.toDF("sa", "da"), "sa")
        .join(deg.toDF("sb", "db"), "sb")
        .select(when(fwd, $"sa").otherwise($"sb").as("src"),
          when(fwd, $"sb").otherwise($"sa").as("dst"))
      val wedges = o.toDF("c", "x").join(o.toDF("c", "y"), Seq("c"))
        .filter($"x" < $"y")
      val tris = wedges.join(me.toDF("ea", "eb"),
        least($"x", $"y") === $"ea" && greatest($"x", $"y") === $"eb")
        .select($"c", $"x", $"y")
      val perSrc = tris.select($"c".as("source"))
        .union(tris.select($"x".as("source")))
        .union(tris.select($"y".as("source")))
        .groupBy($"source").agg(count(lit(1)).as("tri"))
      Tables(s, dir).documents.select($"source").distinct()
        .join(deg.toDF("source", "deg"), Seq("source"), "left")
        .join(perSrc, Seq("source"), "left")
        .select($"source",
          coalesce($"deg", lit(0L)).as("deg"),
          coalesce($"tri", lit(0L)).as("tri"))
        .select($"source", $"deg", $"tri",
          when($"deg" >= 2,
            ($"tri" * 2).cast("double") / ($"deg" * ($"deg" - 1)).cast("double"))
            .otherwise(lit(0.0)).as("cc"))
        .orderBy($"source")
    },

    // The curation decision the graph exists for: per mirror cluster
    // keep ONE canonical source — the member with the best PageRank
    // (ties to the lexicographically smallest source) — and flag the
    // rest for drop. Emits every source's verdict with its cluster,
    // its cluster's canonical source, and its doc count (the volume a
    // drop would remove).
    "gr_mirror_keep" -> { (s, dir) =>
      import s.implicits._
      val comp = mirrorComponents(s, dir)
      val ranked = comp.join(sourceRanks(s, dir).toDF("source", "pr"), "source")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"component").orderBy($"pr".desc, $"source")
      val wins = ranked.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"component", $"source".as("keep_source"))
      val perSrc = Tables(s, dir).documents
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      comp.join(wins, "component")
        .join(perSrc, "source")
        .select($"source", $"component", $"keep_source",
          ($"source" === $"keep_source").cast("int").as("kept"), $"n_docs")
        .orderBy($"source")
    },

    // Convergence meter for the fixed-iteration rank: max |Δr| per
    // iteration. The Iters=5 knee claim, measured not asserted — the
    // deltas are differences of exact 6-decimal doubles, so the meter
    // replays bit-for-bit on the oracle's unrolled chain.
    "gr_rank_delta" -> { (s, dir) =>
      import s.implicits._
      val traj = rankIterations(s, dir)
      traj.sliding(2).zipWithIndex.map { case (Seq(prev, cur), i) =>
        cur.toDF("v", "r")
          .join(prev.toDF("v", "rp"), "v")
          .agg(max(abs($"r" - $"rp")).as("max_delta"))
          .select(lit(i + 1).as("iter"), $"max_delta")
      }.reduce(_ unionByName _).orderBy($"iter")
    },

    // Incremental edge maintenance, hash-PROVEN against the rebuild:
    // split the corpus into existing (doc_id % 5 != 0) and a new batch
    // (% 5 == 0), compute the stored-generation edges from existing
    // postings only, then ADD the delta — the distinct (sh, pair)
    // contributions involving at least one batch-new posting, found by
    // joining ONLY the new postings against the merged posting list
    // (cost O(batch postings × bounded per-shingle fanout); the
    // normalize+distinct collapses the both-new double count). The
    // ORACLE is the full rebuilt edge list, so the gate hash equality
    // proves merged == rebuilt. Both sides read the one shared
    // df-filtered exchange, so there is no stop-list drift WITHIN the
    // demonstration; across real generations the dedup family's
    // hotShingleDrift meter (same shingle exchange) is the shared
    // rebuild trigger.
    "gr_graph_incremental" -> { (s, dir) =>
      import s.implicits._
      // a posting (sh, source) is OLD iff some old doc of the source
      // contains the shingle; NEW iff it exists only due to batch docs
      val ex = Dedup.shingleExchange(s, dir)
        .join(Tables(s, dir).documents.select($"doc_id", $"source"), "doc_id")
      // ONE pass over the shingle-source exchange (r17 optimization):
      // the old/all posting sets and the delta used to re-scan and
      // re-distinct `ex` once per consumer (ssOld in base + delta,
      // ssAll twice in delta — ~0.6 s each at sf0.1); one aggregation
      // carries the old-side flag and the materialized (sh, source,
      // has_old) table (kv_gc's localCheckpoint device — posting-set
      // sized, strictly smaller than ex) feeds every consumer. The
      // anti-join becomes a filter on the flag: a posting is delta-new
      // iff NO old doc contributes it.
      val ss = ex.groupBy($"sh", $"source")
        .agg(max(when($"doc_id" % 5 =!= 0, 1).otherwise(0)).as("has_old"))
        .localCheckpoint()
      val ssOld = ss.filter($"has_old" === 1).select($"sh", $"source")
      val ssAll = ss.select($"sh", $"source")
      val d = ss.filter($"has_old" === 0).select($"sh", $"source")
      val base = ssOld.toDF("sh", "sa").join(ssOld.toDF("sh", "sb"), Seq("sh"))
        .filter($"sa" < $"sb")
        .groupBy($"sa", $"sb").agg(count(lit(1)).as("wb"))
      val deltaContribs = d.toDF("sh", "x").join(ssAll.toDF("sh", "y"), Seq("sh"))
        .filter($"x" =!= $"y")
        .select($"sh", least($"x", $"y").as("sa"), greatest($"x", $"y").as("sb"))
        .distinct()
      val delta = deltaContribs.groupBy($"sa", $"sb").agg(count(lit(1)).as("wd"))
      base.join(delta, Seq("sa", "sb"), "full_outer")
        .select($"sa", $"sb",
          (coalesce($"wb", lit(0L)) + coalesce($"wd", lit(0L))).as("w"))
        .orderBy($"sa", $"sb")
    }
  )

  /** Shared oracle prefix: [[Dedup.ShingleCte]] (the SAME shingle
    * definition the dedup family verifies against) extended by the
    * source posting list and the edge list.
    */
  private def graphCte: String =
    s"""${Dedup.ShingleCte},
       |ss AS (
       |  SELECT DISTINCT e.sh, d.source
       |  FROM ex e JOIN documents d ON d.doc_id = e.doc_id),
       |e AS (
       |  SELECT a.source AS sa, b.source AS sb, count(*) AS w
       |  FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY 1, 2)""".stripMargin

  /** Unrolled [[Iters]]-iteration rank CTE chain (r0 … r[[Iters]]),
    * mirroring [[sourceRanks]] operation for operation.
    */
  private def rankCte: String = {
    val iters = (1 to Iters).map { i =>
      s"""r$i AS (
         |  SELECT verts.v,
         |    round(CAST($Teleport AS DOUBLE) / nn.n
         |      + CAST($Damping AS DOUBLE) * coalesce(m.sm, CAST(0 AS DOUBLE)), 6) AS r
         |  FROM verts
         |  LEFT JOIN (
         |    SELECT ed.v,
         |      CAST(sum(CAST(round((p.r * ed.w) / ow.tw, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sm
         |    FROM ed JOIN r${i - 1} p ON p.v = ed.u JOIN outw ow ON ow.u = ed.u
         |    GROUP BY ed.v) m ON m.v = verts.v
         |  CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""ed AS (SELECT sa AS u, sb AS v, w FROM e
       |      UNION ALL SELECT sb AS u, sa AS v, w FROM e),
       |outw AS (SELECT u, sum(w) AS tw FROM ed GROUP BY u),
       |verts AS (SELECT DISTINCT source AS v FROM documents),
       |nn AS (SELECT count(*) AS n FROM verts),
       |r0 AS (SELECT v, round(CAST(1 AS DOUBLE) / n, 6) AS r FROM verts, nn),
       |$iters""".stripMargin
  }

  /** Mirror CTE (appended after [[graphCte]]): per-source shingle
    * counts and the overlap-thresholded mirror edge list — mirrors
    * [[srcSizes]]/[[mirrorEdges]] exactly (raw-ratio filter, 6-dec
    * emitted coefficient).
    */
  private def mirrorCte: String =
    s"""nsh AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY source),
       |me AS (
       |  SELECT e.sa, e.sb, e.w,
       |    round(CAST(e.w AS DOUBLE) / least(na.n_sh, nb.n_sh), 6) AS ov
       |  FROM e
       |  JOIN nsh na ON na.source = e.sa
       |  JOIN nsh nb ON nb.source = e.sb
       |  WHERE CAST(e.w AS DOUBLE) / least(na.n_sh, nb.n_sh) >= $MirrorOv)""".stripMargin

  /** Component CTE (appended after [[mirrorCte]]): min reachable label
    * per source over the symmetrized mirror edges — the same recursive
    * device as [[Dedup]]'s cluster oracle; the self-edge base case
    * keeps isolated sources as singletons. Names are disjoint from
    * [[rankCte]]'s so the two chains compose (gr_mirror_keep).
    */
  private def compCte: String =
    s"""med AS (SELECT sa AS u, sb AS v FROM me
       |       UNION ALL SELECT sb, sa FROM me),
       |creach AS (
       |  WITH RECURSIVE r(src, dst) AS (
       |    SELECT source, source FROM (SELECT DISTINCT source FROM documents)
       |    UNION
       |    SELECT r.src, m.v FROM r JOIN med m ON m.u = r.dst)
       |  SELECT * FROM r),
       |comp AS (SELECT src AS source, min(dst) AS component
       |         FROM creach GROUP BY src)""".stripMargin

  /** Gate CTE on top of r[[Iters]]: per-source budgets. */
  private def gateCte: String =
    s"""ps AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       |tot AS (SELECT count(*) // 2 AS b FROM documents),
       |sp AS (SELECT CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE) AS sum_pr FROM r$Iters),
       |g AS (
       |  SELECT ps.source, rr.r AS pr, ps.n_docs,
       |    CAST(floor((CAST(tot.b AS DOUBLE) * rr.r) / sp.sum_pr) AS BIGINT) AS budget
       |  FROM ps JOIN r$Iters rr ON rr.v = ps.source
       |  CROSS JOIN tot CROSS JOIN sp)""".stripMargin

  def oracle: Map[String, String] = Map(
    "gr_source_graph" ->
      s"""$graphCte
         |SELECT sa, sb, w FROM e ORDER BY sa, sb""".stripMargin,

    "gr_source_rank" ->
      s"""$graphCte,
         |$rankCte
         |SELECT v AS source, r AS pr FROM r$Iters ORDER BY pr DESC, source""".stripMargin,

    "gr_rank_gate" ->
      s"""$graphCte,
         |$rankCte,
         |$gateCte
         |SELECT source, pr, n_docs, budget FROM g ORDER BY source""".stripMargin,

    "gr_rank_sample" ->
      s"""$graphCte,
         |$rankCte,
         |$gateCte,
         |rn AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM documents)
         |SELECT rn.doc_id, rn.source FROM rn
         |JOIN g ON g.source = rn.source
         |WHERE rn.rn <= g.budget
         |ORDER BY doc_id""".stripMargin,

    "gr_mirror_pairs" ->
      s"""$graphCte,
         |$mirrorCte
         |SELECT sa, sb, w, ov FROM me ORDER BY sa, sb""".stripMargin,

    "gr_components" ->
      s"""$graphCte,
         |$mirrorCte,
         |$compCte
         |SELECT source, component FROM comp ORDER BY source""".stripMargin,

    "gr_component_stats" ->
      s"""$graphCte,
         |$mirrorCte,
         |$compCte,
         |ps AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |ms AS (
         |  SELECT c.component, CAST(count(*) AS BIGINT) AS n_sources,
         |    CAST(sum(p.n_docs) AS BIGINT) AS n_docs
         |  FROM comp c JOIN ps p ON p.source = c.source GROUP BY 1),
         |es AS (
         |  SELECT c.component, CAST(count(*) AS BIGINT) AS n_edges,
         |    CAST(sum(me.w) AS BIGINT) AS w_shared
         |  FROM me JOIN comp c ON c.source = me.sa GROUP BY 1)
         |SELECT ms.component, ms.n_sources, ms.n_docs,
         |  coalesce(es.n_edges, CAST(0 AS BIGINT)) AS n_edges,
         |  coalesce(es.w_shared, CAST(0 AS BIGINT)) AS w_shared
         |FROM ms LEFT JOIN es ON es.component = ms.component
         |ORDER BY ms.component""".stripMargin,

    "gr_triangles" ->
      s"""$graphCte,
         |$mirrorCte,
         |med AS (SELECT sa AS u, sb AS v FROM me
         |       UNION ALL SELECT sb, sa FROM me),
         |deg AS (SELECT u AS source, CAST(count(*) AS BIGINT) AS deg
         |        FROM med GROUP BY u),
         |tr AS (
         |  SELECT a.sa AS x, a.sb AS y, b.sb AS z
         |  FROM me a JOIN me b ON b.sa = a.sb
         |  JOIN me c ON c.sa = a.sa AND c.sb = b.sb),
         |tcnt AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS tri FROM (
         |    SELECT x AS source FROM tr
         |    UNION ALL SELECT y FROM tr
         |    UNION ALL SELECT z FROM tr)
         |  GROUP BY source)
         |SELECT d.source,
         |  coalesce(deg.deg, CAST(0 AS BIGINT)) AS deg,
         |  coalesce(tcnt.tri, CAST(0 AS BIGINT)) AS tri,
         |  CASE WHEN coalesce(deg.deg, 0) >= 2
         |    THEN CAST(2 * coalesce(tcnt.tri, 0) AS DOUBLE)
         |      / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
         |    ELSE CAST(0 AS DOUBLE) END AS cc
         |FROM (SELECT DISTINCT source FROM documents) d
         |LEFT JOIN deg ON deg.source = d.source
         |LEFT JOIN tcnt ON tcnt.source = d.source
         |ORDER BY d.source""".stripMargin,

    "gr_mirror_keep" ->
      s"""$graphCte,
         |$mirrorCte,
         |$compCte,
         |$rankCte,
         |ps AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |wins AS (
         |  SELECT component, source AS keep_source FROM (
         |    SELECT c.component, c.source,
         |      row_number() OVER (PARTITION BY c.component
         |        ORDER BY r.r DESC, c.source) AS rn
         |    FROM comp c JOIN r$Iters r ON r.v = c.source)
         |  WHERE rn = 1)
         |SELECT c.source, c.component, w.keep_source,
         |  CAST(c.source = w.keep_source AS INT) AS kept, ps.n_docs
         |FROM comp c
         |JOIN wins w ON w.component = c.component
         |JOIN ps ON ps.source = c.source
         |ORDER BY c.source""".stripMargin,

    "gr_rank_delta" ->
      s"""$graphCte,
         |$rankCte
         |${(1 to Iters).map { i =>
               s"""SELECT $i AS iter, max(abs(a.r - b.r)) AS max_delta
                  |FROM r$i a JOIN r${i - 1} b ON b.v = a.v""".stripMargin
             }.mkString("\nUNION ALL\n")}
         |ORDER BY iter""".stripMargin,

    // The oracle is the REBUILT graph — hash equality proves the
    // base + delta merge reconstructs it exactly.
    "gr_graph_incremental" ->
      s"""$graphCte
         |SELECT sa, sb, w FROM e ORDER BY sa, sb""".stripMargin
  )
}
