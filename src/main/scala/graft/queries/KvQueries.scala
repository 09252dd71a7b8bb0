package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Memo
import graft.kv.KvOps
import graft.shard.Sharding

/** The declared key-value query surface (SURVEY §2.3, K1–K10) as
  * oracle-checked queries. The op log is derived deterministically from
  * the `events` table ([[KvOps.opLog]]) including duplicate deliveries,
  * so the DuckDB oracle can re-derive the identical history in SQL and
  * pin the replay semantics (models/kv.go:40-54) and exactly-once dedup
  * (K4) down to the byte.
  */
object KvQueries {

  /** Shared oracle prefix: re-derives [[KvOps.opLog]] and the K4 dedup
    * (first delivery per (clientId, clientSeq) wins) in SQL.
    */
  private val OpsCte =
    """WITH base0 AS (
      |  SELECT event_id AS seq, user_id AS clientId, event_id AS clientSeq,
      |    CASE WHEN event_type = 'signup' THEN 'put'
      |         WHEN event_type IN ('purchase', 'click') THEN 'append'
      |         ELSE 'get' END AS op,
      |    chr(97 + CAST(user_id % 26 AS INTEGER)) AS key
      |  FROM events),
      |base AS (
      |  SELECT *, CASE WHEN op = 'get' THEN ''
      |    ELSE 'x' || clientId || '.' || seq || 'y' END AS value FROM base0),
      |ops AS (
      |  SELECT * FROM base
      |  UNION ALL
      |  SELECT seq + 1000000000, clientId, clientSeq, op, key, value
      |  FROM base WHERE seq % 7 = 0),
      |d AS (SELECT *, row_number() OVER (PARTITION BY clientId, clientSeq
      |                                   ORDER BY seq) AS rn FROM ops),
      |a AS (SELECT * FROM d WHERE rn = 1)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // K1-K4: final state per key after ordered, deduped replay.
    "kv_replay" -> { (s, dir) =>
      import s.implicits._
      KvOps.replay(KvOps.opLog(s, dir)).toDF().orderBy($"key")
    },

    // K1 linearizable reads: the state each Get observed.
    "kv_get_view" -> { (s, dir) =>
      import s.implicits._
      KvOps.reads(KvOps.opLog(s, dir)).toDF().orderBy($"seq")
    },

    // K5: shard routing distribution over all delivered ops (routing
    // happens per RPC, before dedup — shardkv/client.go:68-96).
    "kv_key2shard" -> { (s, dir) =>
      import s.implicits._
      KvOps.opLog(s, dir).toDF()
        .select($"key", (ascii(substring($"key", 1, 1)) % Sharding.NShards).as("shard"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_ops"), countDistinct($"key").as("n_keys"))
        .orderBy($"shard")
    },

    // K6: config-consulting routing — each delivered op resolves its
    // shard through the broadcast ShardConfig (the scripted final
    // config), exactly how shardkv clerks route
    // (shardkv/client.go:72-93); output is ops per replica group.
    "kv_shard_routing" -> { (s, dir) =>
      import s.implicits._
      val cfg = Sharding.scriptedHistory.last
      val cfgDf = cfg.shards.zipWithIndex
        .map { case (gid, shard) => (shard, gid) }.toDF("shard", "gid")
      KvOps.opLog(s, dir).toDF()
        .select((ascii(substring($"key", 1, 1)) % Sharding.NShards).as("shard"))
        .join(broadcast(cfgDf), "shard")
        .groupBy($"gid")
        .agg(count(lit(1)).as("n_ops"), countDistinct($"shard").as("n_shards"))
        .orderBy($"gid")
    },

    // K7-K10: the scripted Join/Join/Leave/Move config evolution; output
    // pins the deterministic greedy rebalance assignment.
    "shard_rebalance" -> { (s, _) =>
      import s.implicits._
      val c = Sharding.scriptedHistory.last
      c.shards.zipWithIndex
        .map { case (gid, shard) => (shard, gid, c.num) }
        .toDF("shard", "gid", "config_num")
        .orderBy($"shard")
    },

    // K6 completion — config-EPOCH routing: the op log replayed against
    // the full scripted config history, each op routed by the config
    // active at its log position (epoch boundaries = quartiles of the
    // log; config c1..c4 per epoch), the batch analogue of shardkv
    // join/leave migration under live traffic (shardkv/test_test.go:
    // 90-141; clerk re-route shardkv/client.go:72-93). Ops are deduped
    // first (one logical op each, K4) and route by their ORIGINAL log
    // position (clientSeq), so a retried delivery routes like its first.
    // Output: applied-op counts per (config, group) — which replica
    // group served how much traffic in each epoch.
    // Scale: dedup is a hash-partitioned window (no global sort); the
    // epoch threshold enters as a broadcast 1-row scalar; the 40-row
    // config table is a broadcast join.
    "kv_migration" -> { (s, dir) =>
      import s.implicits._
      routedOps(s, dir).join(broadcast(configEpochs(s)), Seq("epoch", "shard"))
        .groupBy($"config_num", $"gid")
        .agg(count(lit(1)).as("n_ops"),
          countDistinct($"key").as("n_keys"),
          countDistinct($"shard").as("n_shards"))
        .orderBy($"config_num", $"gid")
    },

    // K6 re-route dynamics (the ErrWrongGroup retry loop,
    // shardkv/client.go:102-130): the clerk caches a config and only
    // re-queries the master AFTER a wrong-group rejection — so an op
    // issued in epoch e carries the config of epoch e−1 (for e = 0 the
    // cache is already current). If its shard moved between the two
    // configs, the first attempt hits the OLD owner, is rejected with
    // ErrWrongGroup, the clerk fetches the latest config, and the retry
    // lands on the current owner — one extra hop per moved shard, the
    // batch analogue of live re-routing under reconfiguration. Output
    // per (config, serving group): ops served, ops that arrived via
    // re-route, and wrong first-attempts the group rejected.
    // Scale: same shape as kv_migration — window dedup, broadcast scalar
    // epoch threshold, two 40-row broadcast config joins.
    "kv_reroute" -> { (s, dir) =>
      import s.implicits._
      // r17 optimization: materialized once (localCheckpoint) — served,
      // wrong-first and the anchor union all fold over these rows, and
      // each used to re-run the op-log dedup window + epoch derivation
      val routed = routedOps(s, dir)
        .join(broadcast(configEpochs(s)), Seq("epoch", "shard"))
        .join(broadcast(staleConfigEpochs(s)), Seq("epoch", "shard"))
        .localCheckpoint()
      val served = routed.groupBy($"config_num", $"gid")
        .agg(count(lit(1)).as("n_ops"),
          sum(when($"gid" =!= $"stale_gid", 1L).otherwise(0L)).as("n_rerouted"))
      val wrong = routed.filter($"gid" =!= $"stale_gid")
        .groupBy($"config_num", $"stale_gid".as("gid"))
        .agg(count(lit(1)).as("n_wrong_first"))
      // anchor on the UNION of both key sets: a group that LEFT in this
      // config serves nothing but still rejects stale first attempts —
      // exactly the rows a served-side left join would silently drop.
      // Both aggregates are O(configs × groups) metadata → broadcast
      // left joins (a full-outer would force a sort-merge).
      val keys = routed.select($"config_num", $"gid")
        .union(routed.filter($"gid" =!= $"stale_gid")
          .select($"config_num", $"stale_gid".as("gid")))
        .distinct()
      keys.join(broadcast(served), Seq("config_num", "gid"), "left")
        .join(broadcast(wrong), Seq("config_num", "gid"), "left")
        .select($"config_num", $"gid",
          coalesce($"n_ops", lit(0L)).as("n_ops"),
          coalesce($"n_rerouted", lit(0L)).as("n_rerouted"),
          coalesce($"n_wrong_first", lit(0L)).as("n_wrong_first"))
        .orderBy($"config_num", $"gid")
    },

    // K6 MULTI-epoch-stale reroute (the TestMissChange analogue, ref:
    // shardkv/test_test.go TestMissChange + the clerk's repeated
    // re-Query loop, shardkv/client.go:102-130): kv_reroute models a
    // clerk exactly ONE config stale; here clerks have missed SEVERAL
    // reconfigurations — clerk lag = clientId mod 4 epochs (capped at
    // config 0) — and walk FORWARD through the missed configs: attempt
    // the owner under the cached config, on ErrWrongGroup fetch the
    // next config and retry, until an attempt lands on the group that
    // currently owns the shard (which may happen EARLY if the shard's
    // owner didn't change across the missed configs — the chain stops
    // at gid equality, not at the newest epoch). Output per (config,
    // group): ops served, ops that arrived after ≥1 rejection, the
    // longest rejection chain any served op walked, and wrong attempts
    // this group itself bounced (a group serving nothing still rejects
    // — the anchor-union discipline of kv_reroute).
    // Scale: the chain table is driver-computed METADATA (epochs ×
    // lags × shards = 160 rows, exactly like the clerk's cached
    // config) broadcast against the deduped op log; no shuffle beyond
    // the one metadata aggregation.
    "kv_reroute_multi" -> { (s, dir) =>
      import s.implicits._
      val hist = Sharding.scriptedHistory.drop(1)
      val nE = hist.size
      def gidOf(e: Int, sh: Int): Int = hist(e).shards(sh)
      val combos = for {
        e <- 0 until nE; lag <- 0 until nE; sh <- 0 until Sharding.NShards
      } yield {
        val c0 = math.max(0, e - lag)
        val cur = gidOf(e, sh)
        val si = (c0 to e).find(i => gidOf(i, sh) == cur).get
        (e, lag, sh, si, c0)
      }
      val serveDf = combos
        .map { case (e, lag, sh, si, c0) => (e, lag, sh, (si - c0).toLong) }
        .toDF("epoch", "lag", "shard", "n_wrong")
      val rejectDf = combos
        .flatMap { case (e, lag, sh, si, c0) =>
          (c0 until si).map(i => (e, lag, sh, gidOf(i, sh))) }
        .toDF("epoch", "lag", "shard", "reject_gid")
      // r17 optimization: materialized once — the served and rejected
      // aggregations both fold over these rows (same device as
      // kv_reroute's routed frame)
      val ops = routedOps(s, dir)
        .withColumn("lag", ($"clientId" % nE).cast("int"))
        .join(broadcast(configEpochs(s)), Seq("epoch", "shard"))
        .localCheckpoint()
      val served = ops.join(broadcast(serveDf), Seq("epoch", "lag", "shard"))
        .groupBy($"config_num", $"gid")
        .agg(count(lit(1)).as("n_ops"),
          sum(when($"n_wrong" > 0, 1L).otherwise(0L)).as("n_rerouted"),
          max($"n_wrong").as("max_wrong"))
      val rejected = ops.join(broadcast(rejectDf), Seq("epoch", "lag", "shard"))
        .groupBy($"config_num", $"reject_gid".as("gid"))
        .agg(count(lit(1)).as("n_wrong_rejected"))
      val keys = served.select($"config_num", $"gid")
        .union(rejected.select($"config_num", $"gid")).distinct()
      keys.join(broadcast(served), Seq("config_num", "gid"), "left")
        .join(broadcast(rejected), Seq("config_num", "gid"), "left")
        .select($"config_num", $"gid",
          coalesce($"n_ops", lit(0L)).as("n_ops"),
          coalesce($"n_rerouted", lit(0L)).as("n_rerouted"),
          coalesce($"max_wrong", lit(0L)).as("max_wrong"),
          coalesce($"n_wrong_rejected", lit(0L)).as("n_wrong_rejected"))
        .orderBy($"config_num", $"gid")
    },

    // Per-shard PARTIAL migration progress (the TestChallenge2Partial
    // analogue, ref: shardkv/test_test.go:887): a reconfiguration's
    // handoff applies per SHARD, not per epoch — ops on a shard are
    // servable at its new owner as soon as THAT shard's batch arrives,
    // while sibling shards' batches are still pending. The meter walks
    // each transition's moved shards in arrival order (shard id) and
    // reports, after each arrival step: the shard, its old and new
    // owner, keys handed off, keys already servable at their new
    // owners (cumulative), and keys still pending behind later
    // arrivals. KvPartialMigrationSpec drives the actual per-shard
    // DataFrame fold and pins early-service set equality at every
    // intermediate step; this query pins the counts against the
    // oracle's direct definition.
    // Scale: per-shard key counts are one metadata aggregation; the
    // cumulative window runs over ≤ NShards rows per transition.
    "kv_partial_migration" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val movedDf = movedShards(s)
      val fe = firstEpochs(s, dir)
      val cnt = fe.join(broadcast(movedDf),
          fe("shard") === movedDf("shard") && fe("fe") < movedDf("epoch"))
        .groupBy($"config_num", $"step").agg(count(lit(1)).as("nk"))
      val base = movedDf.join(broadcast(cnt), Seq("config_num", "step"), "left")
        .withColumn("n_keys_moved", coalesce($"nk", lit(0L)))
      val cum = Window.partitionBy($"config_num").orderBy($"step")
      val tot = Window.partitionBy($"config_num")
      base.select($"config_num", $"step", $"shard", $"from_gid", $"to_gid",
          $"n_keys_moved",
          sum($"n_keys_moved").over(cum).as("cum_servable"),
          (sum($"n_keys_moved").over(tot) - sum($"n_keys_moved").over(cum))
            .as("n_pending"))
        .orderBy($"config_num", $"step")
    },

    // Migrated-shard state GC (the TestChallenge1Delete analogue,
    // ref: shardkv/test_test.go:663-742): a group that loses a shard
    // must DELETE that shard's state, so total memory across groups
    // tracks live ownership — state lives at exactly one owner per
    // config. The Spark side constructs the per-group owner views
    // INCREMENTALLY, the way a real reconfiguration runs: epoch 0 seeds
    // each group with the keys of its owned shards; each transition
    // hands changed shards' state to the new owner and the loser drops
    // its copy (the GC step — without it the loser's view would keep
    // the rows and every later snapshot would double-count them); new
    // arrivals land at the current owner. The oracle computes the
    // DIRECT definition — keys of shards owned at c_n — so a hash
    // match proves the incremental migrate+delete fold leaves zero
    // residue at every config. Output per (config_num, gid): resident
    // keys, resident shards, and keys the group GC'd at that
    // transition (a group that left serves nothing but still reports
    // its deletions — the memory-release half of the test).
    // Scale: the key-state table is the big side everywhere; configs
    // are 10-row broadcasts; the 4-deep union is 4 metadata-sized
    // aggregates (at a real 100 TB deployment each epoch view is a
    // staged table and this plan is one job per reconfiguration).
    "kv_gc" -> { (s, dir) =>
      import s.implicits._
      val hist = Sharding.scriptedHistory.drop(1)
      val cfgs = configEpochs(s)
      val fe = firstEpochs(s, dir)
      def snap(view: DataFrame, gcPer: DataFrame, num: Int): DataFrame = {
        val ks = view.groupBy($"gid").agg(count(lit(1)).as("n_keys"),
          countDistinct($"shard").as("n_shards"))
        val gids = ks.select($"gid").union(gcPer.select($"gid")).distinct()
        gids.join(broadcast(ks), Seq("gid"), "left")
          .join(broadcast(gcPer), Seq("gid"), "left")
          .select(lit(num).as("config_num"), $"gid",
            coalesce($"n_keys", lit(0L)).as("n_keys"),
            coalesce($"n_shards", lit(0L)).as("n_shards"),
            coalesce($"n_gc", lit(0L)).as("n_gc"))
      }
      // each epoch view is MATERIALIZED (localCheckpoint — metadata
      // rows) before the next transition reads it: snapshot e and the
      // e+1 handoff both consume view_e, and without the cut the final
      // 4-way union recomputes every earlier epoch's joins once per
      // branch (quadratic lineage, ~20 broadcast exchanges for a
      // 26-row table). This is also the 100 TB shape — a real
      // reconfiguration persists each epoch's owner view as a staged
      // table and runs one job per transition, not one lineage from
      // genesis.
      // r17 optimization, r18 size-gated: collapse each epoch view to
      // few partitions before materializing — the views are ≤ |fe| rows
      // (one per live key), and at shuffle.partitions=32 every
      // downstream stage of every epoch paid 32 near-empty tasks per
      // job (kv_gc was pure scheduler overhead at this size). The r18
      // paired stash-vs-HEAD probe re-proved coalesce under the
      // separate-executor cluster posture too (warm reps 2.33 vs 2.46 s
      // without it; the r17 driver's [33.0, 3.78] was ambient — see
      // OPTIMIZATION_r18.md). The partition count derives from the live
      // key count (~2M tiny rows ≈ 100 MB per task) instead of the
      // constant 1, so a 100 TB key space is not serialized onto one
      // task; fe is persisted and consumed below, and its count is
      // session-memoized (constant per corpus), so the gate costs one
      // metadata-sized job per session, nothing per execution.
      val vparts = math.min(Int.MaxValue.toLong,
        Memo(s, dir, "KvQueries.first_epoch_count")(fe.count()) / 2000000L + 1).toInt
      var view = fe.filter($"fe" <= 0)
        .join(broadcast(cfgs.filter($"epoch" === 0).select($"shard", $"gid")), "shard")
        .select($"key", $"shard", $"gid")
        .coalesce(vparts)
        .localCheckpoint()
      var out = snap(view, Seq.empty[(Int, Long)].toDF("gid", "n_gc"), hist.head.num)
      for (e <- 1 until hist.size) {
        val cur = cfgs.filter($"epoch" === e).select($"shard", $"gid".as("new_gid"))
        val joined = view.join(broadcast(cur), "shard")
        // what the LOSING group deletes this transition — the GC meter
        val gcPer = joined.filter($"gid" =!= $"new_gid")
          .groupBy($"gid").agg(count(lit(1)).as("n_gc"))
        // handoff: changed shards re-home to the new owner, the old
        // copy is dropped (stay-put shards pass through unchanged)
        val carried = joined.select($"key", $"shard", $"new_gid".as("gid"))
        val arrived = fe.filter($"fe" === e).join(broadcast(cur), "shard")
          .select($"key", $"shard", $"new_gid".as("gid"))
        view = carried.union(arrived).coalesce(vparts).localCheckpoint()
        out = out.union(snap(view, gcPer, hist(e).num))
      }
      out.orderBy($"config_num", $"gid")
    },

    // K6 state handoff: per-key final owner after the config evolution.
    // The key's replayed state (the typed secondary-sort fold) survives
    // every ownership change — what the reference's shard migration
    // moves between groups — joined with how many distinct groups owned
    // the key's shard across the four epochs and who owns it at the end.
    "kv_migration_owner" -> { (s, dir) =>
      import s.implicits._
      val finalNum = Sharding.scriptedHistory.last.num
      val owners = configEpochs(s)
        .groupBy($"shard")
        .agg(countDistinct($"gid").as("n_owners"),
          max(when($"config_num" === finalNum, $"gid")).as("final_gid"))
      KvOps.replay(KvOps.opLog(s, dir)).toDF()
        .withColumn("shard",
          (ascii(substring($"key", 1, 1)) % Sharding.NShards).cast("int"))
        .join(broadcast(owners), "shard")
        .select($"key", $"value", $"n_applied", $"shard", $"final_gid", $"n_owners")
        .orderBy($"key")
    }
  )

  /** The scripted config history c1..c4 flattened to (epoch, config_num,
    * shard, gid) rows — epoch e ∈ 0..3 is when config c(e+1) is active.
    * 40 rows: broadcast-join metadata, exactly like the clerk's cached
    * `Config` (shardkv/client.go:68-71).
    */
  private def configEpochs(s: SparkSession): DataFrame = {
    import s.implicits._
    Sharding.scriptedHistory.drop(1).zipWithIndex.flatMap { case (c, e) =>
      c.shards.zipWithIndex.map { case (gid, shard) => (e, c.num, shard, gid) }
    }.toDF("epoch", "config_num", "shard", "gid")
  }

  /** The shared front end of kv_migration / kv_reroute: K4 window dedup
    * (hash-partitioned, never a global sort), epoch = clientSeq quartile
    * via a broadcast 1-row scalar, shard from the key's first byte.
    */
  private def routedOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ops = KvOps.opLog(s, dir).toDF()
    val w = Window.partitionBy($"clientId", $"clientSeq").orderBy($"seq")
    val deduped = ops.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
    val mx = deduped.agg(max($"clientSeq").as("mx"))
    deduped
      .crossJoin(broadcast(mx))
      .withColumn("epoch",
        least(lit(3), expr("clientSeq * 4 div (mx + 1)")).cast("int"))
      .withColumn("shard",
        (ascii(substring($"key", 1, 1)) % Sharding.NShards).cast("int"))
  }

  /** Drop and release this module's session memos ([[Memo]]). */
  def clearCaches(): Unit = Memo.clear("KvQueries")

  /** Each transition's moved shards in arrival order — (epoch,
    * config_num, step, shard, from_gid, to_gid), step numbering within
    * the transition by shard id (the deterministic arrival schedule the
    * partial-migration meter and spec share). Driver-computed metadata,
    * ≤ (epochs−1) × NShards rows.
    */
  private[queries] def movedShards(s: SparkSession): DataFrame = {
    import s.implicits._
    val hist = Sharding.scriptedHistory.drop(1)
    (1 until hist.size).flatMap { e =>
      (0 until Sharding.NShards)
        .filter(sh => hist(e - 1).shards(sh) != hist(e).shards(sh))
        .sorted.zipWithIndex
        .map { case (sh, i) =>
          (e, hist(e).num, i + 1, sh, hist(e - 1).shards(sh), hist(e).shards(sh)) }
    }.toDF("epoch", "config_num", "step", "shard", "from_gid", "to_gid")
  }

  /** Session memo of kv_gc's key table — (key, shard, fe): each live
    * key with the epoch its first non-get op arrived. The kv_gc union
    * references this frame ~10 times (4 epoch views, each feeding a
    * snapshot and the next view); without the persist each reference
    * re-runs the op-log dedup window, turning a 26-row metadata frame
    * into the query's whole cost (measured 3.7 s → 0.4 s at sf0.01).
    */
  private[queries] def firstEpochs(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "KvQueries.first_epochs") {
      import s.implicits._
      routedOps(s, dir).filter($"op" =!= "get")
        .groupBy($"key", $"shard").agg(min($"epoch").as("fe"))
        .persist()
    }

  /** The clerk's CACHED (one-epoch-stale) shard map per epoch: epoch e
    * carries the gids of the config active in epoch max(0, e−1) — the
    * clerk holds the last config it fetched and only refreshes after
    * ErrWrongGroup (shardkv/client.go:68-71). Derived from
    * [[configEpochs]] by an epoch shift, the same formulation as the
    * oracle's `st.epoch = greatest(0, r.epoch - 1)` self-join.
    */
  private def staleConfigEpochs(s: SparkSession): DataFrame = {
    import s.implicits._
    val cfg = configEpochs(s)
      .select($"epoch".as("src_epoch"), $"shard", $"gid".as("stale_gid"))
    Seq.tabulate(Sharding.scriptedHistory.size - 1)(e => (e, math.max(0, e - 1)))
      .toDF("epoch", "src_epoch")
      .join(cfg, "src_epoch")
      .select($"epoch", $"shard", $"stale_gid")
  }

  def oracle: Map[String, String] = Map(
    "kv_replay" ->
      s"""$OpsCte,
         |lp AS (SELECT key, max(CASE WHEN op = 'put' THEN seq END) AS lps
         |       FROM a GROUP BY key),
         |pv AS (SELECT a.key, a.value AS putv
         |       FROM a JOIN lp ON a.key = lp.key AND a.seq = lp.lps),
         |ap AS (SELECT a.key, string_agg(a.value, '' ORDER BY a.seq) AS apv
         |       FROM a JOIN lp ON a.key = lp.key
         |       WHERE a.op = 'append' AND a.seq > COALESCE(lp.lps, -1)
         |       GROUP BY a.key),
         |napp AS (SELECT key, count(*) FILTER (WHERE op <> 'get') AS n_applied
         |         FROM a GROUP BY key)
         |SELECT n.key, COALESCE(pv.putv, '') || COALESCE(ap.apv, '') AS value,
         |       n.n_applied
         |FROM napp n
         |LEFT JOIN pv ON pv.key = n.key
         |LEFT JOIN ap ON ap.key = n.key
         |ORDER BY n.key""".stripMargin,

    "kv_get_view" ->
      s"""$OpsCte,
         |e AS (SELECT *, count(CASE WHEN op = 'put' THEN 1 END)
         |        OVER (PARTITION BY key ORDER BY seq
         |              ROWS UNBOUNDED PRECEDING) AS epoch FROM a),
         |runs AS (SELECT *, string_agg(CASE WHEN op = 'append' THEN value END, '')
         |           OVER (PARTITION BY key, epoch ORDER BY seq
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS appr
         |         FROM e),
         |pb AS (SELECT key, epoch, value AS putv FROM e WHERE op = 'put')
         |SELECT r.seq, r.key, COALESCE(pb.putv, '') || COALESCE(r.appr, '') AS observed
         |FROM runs r LEFT JOIN pb ON pb.key = r.key AND pb.epoch = r.epoch
         |WHERE r.op = 'get' ORDER BY r.seq""".stripMargin,

    "kv_key2shard" ->
      s"""$OpsCte
         |SELECT ascii(substring(key, 1, 1)) % ${Sharding.NShards} AS shard,
         |       count(*) AS n_ops, count(DISTINCT key) AS n_keys
         |FROM ops GROUP BY 1 ORDER BY 1""".stripMargin,

    "kv_shard_routing" ->
      s"""$OpsCte,
         |cfg(shard, gid) AS (VALUES
         |  (0, 1), (1, 1), (2, 4), (3, 1), (4, 1),
         |  (5, 3), (6, 5), (7, 3), (8, 3), (9, 5)),
         |routed AS (
         |  SELECT ascii(substring(key, 1, 1)) % ${Sharding.NShards} AS shard FROM ops)
         |SELECT gid, count(*) AS n_ops, count(DISTINCT r.shard) AS n_shards
         |FROM routed r JOIN cfg ON r.shard = cfg.shard
         |GROUP BY gid ORDER BY gid""".stripMargin,

    // Pinned by hand-tracing the documented deterministic greedy
    // algorithm through the scripted history (see Sharding.scaladoc).
    "shard_rebalance" ->
      """SELECT * FROM (VALUES
        |  (0, 1, 4), (1, 1, 4), (2, 4, 4), (3, 1, 4), (4, 1, 4),
        |  (5, 3, 4), (6, 5, 4), (7, 3, 4), (8, 3, 4), (9, 5, 4))
        |AS t(shard, gid, config_num) ORDER BY shard""".stripMargin,

    "kv_migration" ->
      s"""$OpsCte,
         |mx AS (SELECT max(clientSeq) AS mx FROM a),
         |$CfgCte,
         |r AS (
         |  SELECT key,
         |    least(3, (clientSeq * 4) // ((SELECT mx FROM mx) + 1)) AS epoch,
         |    ascii(substring(key, 1, 1)) % ${Sharding.NShards} AS shard
         |  FROM a)
         |SELECT cfg.config_num, cfg.gid, count(*) AS n_ops,
         |       count(DISTINCT r.key) AS n_keys,
         |       count(DISTINCT r.shard) AS n_shards
         |FROM r JOIN cfg ON r.epoch = cfg.epoch AND r.shard = cfg.shard
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "kv_reroute" ->
      s"""$OpsCte,
         |mx AS (SELECT max(clientSeq) AS mx FROM a),
         |$CfgCte,
         |r AS (
         |  SELECT key,
         |    least(3, (clientSeq * 4) // ((SELECT mx FROM mx) + 1)) AS epoch,
         |    ascii(substring(key, 1, 1)) % ${Sharding.NShards} AS shard
         |  FROM a),
         |rt AS (
         |  SELECT r.epoch, cur.config_num, cur.gid, st.gid AS stale_gid
         |  FROM r
         |  JOIN cfg cur ON cur.epoch = r.epoch AND cur.shard = r.shard
         |  JOIN cfg st ON st.epoch = greatest(0, r.epoch - 1) AND st.shard = r.shard),
         |srv AS (
         |  SELECT config_num, gid, count(*) AS n_ops,
         |    CAST(sum(CASE WHEN gid <> stale_gid THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_rerouted
         |  FROM rt GROUP BY 1, 2),
         |wr AS (
         |  SELECT config_num, stale_gid AS gid, count(*) AS n_wrong_first
         |  FROM rt WHERE gid <> stale_gid GROUP BY 1, 2),
         |keys AS (
         |  SELECT DISTINCT config_num, gid FROM rt
         |  UNION
         |  SELECT DISTINCT config_num, stale_gid FROM rt WHERE gid <> stale_gid)
         |SELECT k.config_num, k.gid,
         |       COALESCE(s.n_ops, 0::BIGINT) AS n_ops,
         |       COALESCE(s.n_rerouted, 0::BIGINT) AS n_rerouted,
         |       COALESCE(w.n_wrong_first, 0::BIGINT) AS n_wrong_first
         |FROM keys k
         |LEFT JOIN srv s ON s.config_num = k.config_num AND s.gid = k.gid
         |LEFT JOIN wr w ON w.config_num = k.config_num AND w.gid = k.gid
         |ORDER BY 1, 2""".stripMargin,

    // Direct-definition twin of kv_reroute_multi: the retry chain is
    // re-derived relationally — serve epoch = min epoch in the clerk's
    // walk window whose owner equals the current owner, wrong attempts
    // = the epochs before it (with their owners as the rejecting gids).
    "kv_reroute_multi" ->
      s"""$OpsCte,
         |mx AS (SELECT max(clientSeq) AS mx FROM a),
         |$CfgCte,
         |r AS (
         |  SELECT key, CAST(clientId % 4 AS INTEGER) AS lag,
         |    least(3, (clientSeq * 4) // ((SELECT mx FROM mx) + 1)) AS epoch,
         |    ascii(substring(key, 1, 1)) % ${Sharding.NShards} AS shard
         |  FROM a),
         |lags(lag) AS (VALUES (0), (1), (2), (3)),
         |sv AS (
         |  SELECT cur.epoch, l.lag, cur.shard, cur.config_num, cur.gid,
         |    CAST(min(ci.epoch) - greatest(0, cur.epoch - l.lag) AS BIGINT)
         |      AS n_wrong
         |  FROM cfg cur
         |  CROSS JOIN lags l
         |  JOIN cfg ci ON ci.shard = cur.shard
         |    AND ci.epoch BETWEEN greatest(0, cur.epoch - l.lag) AND cur.epoch
         |    AND ci.gid = cur.gid
         |  GROUP BY cur.epoch, l.lag, cur.shard, cur.config_num, cur.gid),
         |rj AS (
         |  SELECT sv.epoch, sv.lag, sv.shard, ci.gid AS reject_gid
         |  FROM sv JOIN cfg ci ON ci.shard = sv.shard
         |    AND ci.epoch >= greatest(0, sv.epoch - sv.lag)
         |    AND ci.epoch < greatest(0, sv.epoch - sv.lag) + sv.n_wrong),
         |srv AS (
         |  SELECT sv.config_num, sv.gid, count(*) AS n_ops,
         |    CAST(sum(CASE WHEN sv.n_wrong > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_rerouted,
         |    CAST(max(sv.n_wrong) AS BIGINT) AS max_wrong
         |  FROM r JOIN sv ON sv.epoch = r.epoch AND sv.lag = r.lag
         |    AND sv.shard = r.shard
         |  GROUP BY 1, 2),
         |wr AS (
         |  SELECT cfg.config_num, rj.reject_gid AS gid,
         |    count(*) AS n_wrong_rejected
         |  FROM r
         |  JOIN cfg ON cfg.epoch = r.epoch AND cfg.shard = r.shard
         |  JOIN rj ON rj.epoch = r.epoch AND rj.lag = r.lag
         |    AND rj.shard = r.shard
         |  GROUP BY 1, 2),
         |keys AS (
         |  SELECT config_num, gid FROM srv
         |  UNION
         |  SELECT config_num, gid FROM wr)
         |SELECT k.config_num, k.gid,
         |  COALESCE(s.n_ops, 0::BIGINT) AS n_ops,
         |  COALESCE(s.n_rerouted, 0::BIGINT) AS n_rerouted,
         |  COALESCE(s.max_wrong, 0::BIGINT) AS max_wrong,
         |  COALESCE(w.n_wrong_rejected, 0::BIGINT) AS n_wrong_rejected
         |FROM keys k
         |LEFT JOIN srv s ON s.config_num = k.config_num AND s.gid = k.gid
         |LEFT JOIN wr w ON w.config_num = k.config_num AND w.gid = k.gid
         |ORDER BY 1, 2""".stripMargin,

    // Direct definition of the per-shard arrival ladder: moved shards
    // per transition ordered by shard id, each step's handed-off keys
    // counted from the pre-transition resident set (fe < epoch).
    "kv_partial_migration" ->
      s"""$OpsCte,
         |mx AS (SELECT max(clientSeq) AS mx FROM a),
         |$CfgCte,
         |fe AS (
         |  SELECT key, ascii(substring(key, 1, 1)) % ${Sharding.NShards} AS shard,
         |    min(least(3, (clientSeq * 4) // ((SELECT mx FROM mx) + 1))) AS fe
         |  FROM a WHERE op <> 'get' GROUP BY 1, 2),
         |mv AS (
         |  SELECT cur.config_num, cur.epoch, cur.shard,
         |    prev.gid AS from_gid, cur.gid AS to_gid,
         |    CAST(row_number() OVER (PARTITION BY cur.epoch ORDER BY cur.shard)
         |      AS INTEGER) AS step
         |  FROM cfg cur JOIN cfg prev ON prev.shard = cur.shard
         |    AND prev.epoch = cur.epoch - 1
         |  WHERE cur.gid <> prev.gid),
         |cnt AS (
         |  SELECT mv.config_num, mv.step,
         |    CAST(count(k.key) AS BIGINT) AS n_keys_moved
         |  FROM mv LEFT JOIN fe k ON k.shard = mv.shard AND k.fe < mv.epoch
         |  GROUP BY 1, 2)
         |SELECT mv.config_num, mv.step, mv.shard, mv.from_gid, mv.to_gid,
         |  cnt.n_keys_moved,
         |  CAST(sum(cnt.n_keys_moved) OVER (PARTITION BY mv.config_num
         |    ORDER BY mv.step) AS BIGINT) AS cum_servable,
         |  CAST(sum(cnt.n_keys_moved) OVER (PARTITION BY mv.config_num)
         |    - sum(cnt.n_keys_moved) OVER (PARTITION BY mv.config_num
         |        ORDER BY mv.step) AS BIGINT) AS n_pending
         |FROM mv JOIN cnt ON cnt.config_num = mv.config_num AND cnt.step = mv.step
         |ORDER BY 1, 2""".stripMargin,

    // Direct-definition twin of kv_gc: the resident view at config c_n
    // IS the keys of shards owned at c_n (zero residue), and the GC
    // column counts the previous owner's deletions at each transition.
    "kv_gc" ->
      s"""$OpsCte,
         |mx AS (SELECT max(clientSeq) AS mx FROM a),
         |$CfgCte,
         |fe AS (
         |  SELECT key, ascii(substring(key, 1, 1)) % ${Sharding.NShards} AS shard,
         |    min(least(3, (clientSeq * 4) // ((SELECT mx FROM mx) + 1))) AS fe
         |  FROM a WHERE op <> 'get' GROUP BY 1, 2),
         |res AS (
         |  SELECT cfg.config_num, cfg.gid, k.key, k.shard
         |  FROM fe k JOIN cfg ON cfg.shard = k.shard AND k.fe <= cfg.epoch),
         |ks AS (
         |  SELECT config_num, gid, CAST(count(*) AS BIGINT) AS n_keys,
         |    CAST(count(DISTINCT shard) AS BIGINT) AS n_shards
         |  FROM res GROUP BY 1, 2),
         |gc AS (
         |  SELECT cur.config_num, prev.gid, CAST(count(*) AS BIGINT) AS n_gc
         |  FROM fe k
         |  JOIN cfg prev ON prev.shard = k.shard AND k.fe <= prev.epoch
         |  JOIN cfg cur ON cur.shard = k.shard AND cur.epoch = prev.epoch + 1
         |  WHERE cur.gid <> prev.gid
         |  GROUP BY 1, 2),
         |gids AS (SELECT config_num, gid FROM ks
         |         UNION SELECT config_num, gid FROM gc)
         |SELECT g.config_num, g.gid,
         |  CAST(COALESCE(ks.n_keys, 0) AS BIGINT) AS n_keys,
         |  CAST(COALESCE(ks.n_shards, 0) AS BIGINT) AS n_shards,
         |  CAST(COALESCE(gc.n_gc, 0) AS BIGINT) AS n_gc
         |FROM gids g
         |LEFT JOIN ks ON ks.config_num = g.config_num AND ks.gid = g.gid
         |LEFT JOIN gc ON gc.config_num = g.config_num AND gc.gid = g.gid
         |ORDER BY 1, 2""".stripMargin,

    "kv_migration_owner" ->
      s"""$OpsCte,
         |lp AS (SELECT key, max(CASE WHEN op = 'put' THEN seq END) AS lps
         |       FROM a GROUP BY key),
         |pv AS (SELECT a.key, a.value AS putv
         |       FROM a JOIN lp ON a.key = lp.key AND a.seq = lp.lps),
         |ap AS (SELECT a.key, string_agg(a.value, '' ORDER BY a.seq) AS apv
         |       FROM a JOIN lp ON a.key = lp.key
         |       WHERE a.op = 'append' AND a.seq > COALESCE(lp.lps, -1)
         |       GROUP BY a.key),
         |napp AS (SELECT key, count(*) FILTER (WHERE op <> 'get') AS n_applied
         |         FROM a GROUP BY key),
         |$CfgCte,
         |own AS (SELECT shard, count(DISTINCT gid) AS n_owners,
         |               max(CASE WHEN config_num = 4 THEN gid END) AS final_gid
         |        FROM cfg GROUP BY shard)
         |SELECT n.key, COALESCE(pv.putv, '') || COALESCE(ap.apv, '') AS value,
         |       n.n_applied,
         |       ascii(substring(n.key, 1, 1)) % ${Sharding.NShards} AS shard,
         |       own.final_gid, own.n_owners
         |FROM napp n
         |LEFT JOIN pv ON pv.key = n.key
         |LEFT JOIN ap ON ap.key = n.key
         |JOIN own ON own.shard = ascii(substring(n.key, 1, 1)) % ${Sharding.NShards}
         |ORDER BY n.key""".stripMargin
  )

  /** The scripted config history as SQL VALUES — hand-traced through the
    * documented greedy rebalance, independently of the Scala
    * implementation (which `ShardingSpec` pins to the same vectors):
    * c1 = join(1,2,3): [1,1,1,1,2,2,2,3,3,3]; c2 = join(4,5):
    * [1,1,4,4,2,2,5,3,3,5]; c3 = leave(2): [1,1,4,4,1,3,5,3,3,5];
    * c4 = move(3→1): [1,1,4,1,1,3,5,3,3,5]. Epoch e hosts config c(e+1).
    */
  private val CfgCte =
    """cfg(epoch, config_num, shard, gid) AS (VALUES
      |  (0,1,0,1),(0,1,1,1),(0,1,2,1),(0,1,3,1),(0,1,4,2),
      |  (0,1,5,2),(0,1,6,2),(0,1,7,3),(0,1,8,3),(0,1,9,3),
      |  (1,2,0,1),(1,2,1,1),(1,2,2,4),(1,2,3,4),(1,2,4,2),
      |  (1,2,5,2),(1,2,6,5),(1,2,7,3),(1,2,8,3),(1,2,9,5),
      |  (2,3,0,1),(2,3,1,1),(2,3,2,4),(2,3,3,4),(2,3,4,1),
      |  (2,3,5,3),(2,3,6,5),(2,3,7,3),(2,3,8,3),(2,3,9,5),
      |  (3,4,0,1),(3,4,1,1),(3,4,2,4),(3,4,3,1),(3,4,4,1),
      |  (3,4,5,3),(3,4,6,5),(3,4,7,3),(3,4,8,3),(3,4,9,5))""".stripMargin
}
