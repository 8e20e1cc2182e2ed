package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph operators for web-scale corpus curation: a deterministic
  * outlink derivation, degree statistics, and an integer-exact PageRank —
  * the quality prior a crawl-scale pipeline attaches to every document
  * before filtering/mixing (the reference pipeline has no link stage; in
  * production the edge list arrives from the upstream anchor parser, and
  * these operators consume it unchanged).
  *
  * Scale notes (100 TB framing): the edge table is the big side (~10–100
  * edges/doc). It is degree-annotated, hash-partitioned by `src` and
  * materialized ONCE; each PageRank iteration moves only the rank table
  * (two longs per node) through one join + one aggregation shuffle, never
  * the edges. All arithmetic is Long micro-units with integral division, so
  * every aggregation is an associative-commutative Long sum — results are
  * bit-identical at any parallelism and any AQE re-plan, and the oracle can
  * restate the contract exactly.
  */
object Graph {

  /** Deterministic synthetic outlink table over `documents` — stands in for
    * the parsed-anchor edge list of a real crawl. Content-keyed with the
    * same first-32-bits-of-md5 discipline as [[TextOps.hashSplit]] (engine-
    * portable: DuckDB restates it verbatim):
    *
    *   h_j   = int32(md5(text || ":" || j))        for j = 0..maxFanout-1
    *   f     = 1 + h_0 % maxFanout                 (1..maxFanout outlinks)
    *   dst_j = h_j % (doc_id + 1)                  for j < f
    *
    * Links point to equal-or-earlier doc_ids (preferential attachment → the
    * power-law indegree skew real link graphs have; doc 0 is always
    * dangling); self-loops dropped, parallel edges collapsed. Pure
    * projection + explode — the final `distinct` is the only shuffle.
    * Returns (src, dst), both long.
    */
  def linkEdges(docs: DataFrame, maxFanout: Int = 3): DataFrame = {
    require(maxFanout >= 1, s"maxFanout must be >= 1, got $maxFanout")
    def h(j: Int) =
      conv(substring(md5(concat(col("text"), lit(":" + j)).cast("binary")), 1, 8), 16, 10)
        .cast("long")
    val src = Dedup.idLong(col("doc_id"), "doc_id")
    val fanout = lit(1) + (h(0) % maxFanout)
    val cands = (0 until maxFanout).map { j =>
      when(lit(j) < fanout, h(j) % (src + 1)).otherwise(lit(null).cast("long"))
    }
    docs.select(src.as("src"), explode(array(cands: _*)).as("dst"))
      .where(col("dst").isNotNull && col("dst") =!= col("src"))
      .distinct()
  }

  /** Per-node degree statistics: (doc_id, out_deg, in_deg), zero for absent
    * directions. Two count aggregations on the edge table + two joins back
    * to the node list — each keyed on the node id, so AQE coalesces and
    * broadcast-converts the degree sides when they are small.
    */
  def degreeStats(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val ids = nodes.select(Dedup.idLong(col("doc_id"), "doc_id").as("doc_id"))
    val outd = edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).cast("long").as("out_deg"))
    val ind = edges.groupBy(col("dst").as("doc_id"))
      .agg(count(lit(1)).cast("long").as("in_deg"))
    ids.join(outd, Seq("doc_id"), "left").join(ind, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Co-citation pairs: documents linked FROM the same pages ("related
    * docs" — Small 1973; in curation it surfaces mirror/template families
    * whose text differs but whose link context is identical). For every
    * unordered pair (a < b) co-cited by ≥ `minShared` distinct sources,
    * returns (a, b, n_shared).
    *
    * Scale shape: the expansion is quadratic per SOURCE page (a page with
    * f outlinks emits C(f,2) pairs), so fan-out is the skew axis — sources
    * with more than `maxFanout` outlinks are dropped BEFORE the pair
    * explosion by a count + semi-join (the same hot-key cap discipline as
    * `Dedup.ngramJaccardPairs`' df cap; a mega-hub page co-cites
    * everything and carries no similarity signal anyway — the cap is the
    * curation semantics, not an approximation). After the cap: one
    * self-join on `src` (both sides the capped edge table, co-partitioned
    * by the join key), one pair-count aggregation.
    */
  def cocitation(edges: DataFrame, minShared: Int = 2,
                 maxFanout: Int = 64): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxFanout >= 2, s"maxFanout must be >= 2, got $maxFanout")
    val small = edges.groupBy("src")
      .agg(count(lit(1)).as("f")).where(col("f") <= maxFanout)
      .select("src")
    val capped = edges.join(small, Seq("src"), "left_semi")
    capped.as("l").join(capped.as("r"),
        col("l.src") === col("r.src") && col("l.dst") < col("r.dst"))
      .groupBy(col("l.dst").as("a"), col("r.dst").as("b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Bibliographic coupling: pairs of pages linking TO the same documents
    * (Kessler 1963 — the forward-looking dual of [[cocitation]]; in
    * curation it groups pages by shared citation context — scraper farms
    * and article mirrors all pointing at the same canonical targets). For
    * every unordered source pair (a < b) sharing ≥ `minShared` distinct
    * link targets, returns (a, b, n_shared).
    *
    * Scale shape: dual of co-citation — here the expansion is quadratic
    * per TARGET (a target with in-degree g yields C(g,2) source pairs), so
    * in-degree is the skew axis, and on a power-law web graph the head
    * target's in-degree is corpus-sized. Targets above `maxInDeg` are
    * dropped BEFORE the pair explosion by a count + semi-join (everyone
    * links to the homepage — shared membership in its backlink set is no
    * evidence of relatedness; the cap is the semantics). After the cap:
    * one self-join on `dst` (both sides the capped table, co-partitioned
    * on the join key), one pair-count aggregation.
    */
  def coupling(edges: DataFrame, minShared: Int = 2,
               maxInDeg: Int = 64): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxInDeg >= 2, s"maxInDeg must be >= 2, got $maxInDeg")
    val small = edges.groupBy("dst")
      .agg(count(lit(1)).as("g")).where(col("g") <= maxInDeg)
      .select("dst")
    val capped = edges.join(small, Seq("dst"), "left_semi")
    capped.as("l").join(capped.as("r"),
        col("l.dst") === col("r.dst") && col("l.src") < col("r.src"))
      .groupBy(col("l.src").as("a"), col("r.src").as("b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Integer-exact PageRank in micro-units (the deterministic contract —
    * floats would make ranks depend on reduction order):
    *
    *   r_0(v)    = initMicro
    *   c(u→v)    = (dampingPm · r(u)) div (1000 · outdeg(u))
    *   dangling  = Σ_{outdeg(u)=0} (dampingPm · r(u)) div 1000
    *   r'(v)     = base + dangling div N + Σ_{(u,v)∈E} c(u→v)
    *
    * with base = ((1000 − dampingPm) · initMicro) div 1000. Integral-
    * division floors bleed a little mass per iteration (bounded by
    * |E| + N per round, i.e. ≪ 1 micro-unit per node) — a defined part of
    * the contract, mirrored by the sequential oracle. Total mass is bounded
    * by N·initMicro, so the contract needs N·initMicro·dampingPm < 2^63
    * (N ≤ ~10^13 at the defaults — beyond any corpus).
    *
    * Physical shape: the degree-annotated edge table is repartitioned by
    * `src` and materialized once ([[Dedup.materialize]] — reliable
    * checkpoint when `reliableCheckpointDir` is given, else a fast local
    * checkpoint); `Dataset.checkpoint` preserves the hash partitioning, so
    * each iteration's rank⋈edges join exchanges ONLY the rank table. Per
    * iteration: one join + groupBy(dst) Long-sum for contributions, one
    * broadcast of the 1-row dangling aggregate, and a node-keyed join to
    * re-attach rankless nodes; the rank table is checkpointed per round
    * (lineage truncation) and the previous round's blocks are freed
    * ([[Dedup.releaseCheckpoint]]).
    *
    * Returns (doc_id, rank_micro). Contributions to dst ids absent from
    * `nodes` are dropped (the node list defines the graph).
    *
    * `seeds` personalizes the teleport (TrustRank — Gyöngyi et al. 2004):
    * the (1−d) restart mass and the dangling pool land ONLY on the seed
    * set, so authority flows outward from trusted nodes —
    *   base(v∈S) = ((1000−dampingPm)·initMicro·N) div 1000 div |S|,
    *   base(v∉S) = 0,  dangling share = dang div |S| to seeds only.
    * `None` keeps the uniform contract above bit-for-bit.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame,
               iters: Int = 10, dampingPm: Int = 850,
               initMicro: Long = 1000000L,
               seeds: Option[DataFrame] = None,
               reliableCheckpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampingPm >= 0 && dampingPm <= 1000,
      s"dampingPm must be in [0,1000], got $dampingPm")
    require(initMicro > 0, s"initMicro must be > 0, got $initMicro")
    val rawIds = nodes.select(Dedup.idLong(col("doc_id"), "doc_id").as("doc_id"))
    val ids = Dedup.materialize(seeds match {
      case Some(sd) =>
        val s = sd.select(Dedup.idLong(col("doc_id"), "doc_id").as("doc_id"))
          .distinct().withColumn("is_seed", lit(true))
        rawIds.join(s, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      case None => rawIds.withColumn("is_seed", lit(true))
    }, reliableCheckpointDir)
    val n = ids.count()
    require(n > 0, "pageRank needs a non-empty node list")
    val nTeleport = if (seeds.isEmpty) n else ids.where(col("is_seed")).count()
    require(nTeleport > 0, "seed set must intersect the node list")
    val base =
      if (seeds.isEmpty) (1000L - dampingPm) * initMicro / 1000L
      else (1000L - dampingPm) * initMicro * n / 1000L / nTeleport

    // iteration-invariant: degree-annotated edges (partitioned by src, kept
    // for every round) and the dangling-node set (nodes with no outlinks)
    val outd = edges.groupBy("src").agg(count(lit(1)).cast("long").as("out_deg"))
    val edgesDeg = Dedup.materialize(
      edges.join(outd, Seq("src")).repartition(col("src")),
      reliableCheckpointDir)
    val dangling = Dedup.materialize(
      ids.select("doc_id")
        .join(edgesDeg.select(col("src").as("doc_id")), Seq("doc_id"), "left_anti"),
      reliableCheckpointDir)

    var ranks = Dedup.materialize(
      ids.select(col("doc_id"), lit(initMicro).as("rank_micro")),
      reliableCheckpointDir)
    try {
      for (_ <- 1 to iters) {
        val next = Dedup.materialize(
          pageRankRound(ids, edgesDeg, dangling, ranks, dampingPm, nTeleport, base),
          reliableCheckpointDir)
        Dedup.releaseCheckpoint(ranks)
        ranks = next
      }
      ranks
    } finally {
      Dedup.releaseCheckpoint(edgesDeg)
      Dedup.releaseCheckpoint(dangling)
      Dedup.releaseCheckpoint(ids)
    }
  }

  /** Integer-exact HITS (Kleinberg 1999) in micro-units — hub scores find
    * link-farm/directory pages, authority scores find canonical content;
    * the pair separates the two roles PageRank conflates:
    *
    *   a'(v) = Σ_{(u,v)∈E} h(u)     then L1-normalize to total mass M
    *   h'(v) = Σ_{(v,u)∈E} a(u)     (with the NEW a)  then normalize
    *
    * with M = N · initMicro and normalize(x) = (x · M) div Σx (floored;
    * all-zero sum → all zeros). The raw per-node sums stay ≤ M (each is a
    * subset-sum of a table whose total is ≤ M), so they fit a Long at any
    * N ≤ 10^13 · (10^6/initMicro); the normalization products can reach
    * M², so they are computed in DECIMAL(38,0) (exactly like the oracle's
    * BigInt) and the TOTALS are summed in decimal too — Σ_v a'(v) counts
    * each h(u) once per outlink and would overflow a Long on a high-fanout
    * graph. Floors make every aggregate an associative Long/decimal sum:
    * bit-identical at any parallelism, restated exactly by the sequential
    * oracle.
    *
    * Physical shape: the edge table is materialized TWICE, hash-partitioned
    * by `src` (hub-side join of the authority step) and by `dst`
    * (authority-side join of the hub step) — each iteration exchanges only
    * the 2-long score tables against a stable edge partitioning, never the
    * edges. Scores are checkpointed per round and the previous round's
    * blocks freed, exactly as [[pageRank]].
    *
    * Returns (doc_id, auth_micro, hub_micro). Edges touching ids outside
    * `nodes` contribute nothing (the node list defines the graph).
    */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int = 5,
           initMicro: Long = 1000000L,
           reliableCheckpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(initMicro > 0, s"initMicro must be > 0, got $initMicro")
    val ids = Dedup.materialize(
      nodes.select(Dedup.idLong(col("doc_id"), "doc_id").as("doc_id")),
      reliableCheckpointDir)
    val n = ids.count()
    require(n > 0, "hits needs a non-empty node list")
    val totMass = n * initMicro
    val live = edges.join(ids.select(col("doc_id").as("src")), Seq("src"), "left_semi")
      .join(ids.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
    val edgesBySrc = Dedup.materialize(live.repartition(col("src")),
      reliableCheckpointDir)
    val edgesByDst = Dedup.materialize(live.repartition(col("dst")),
      reliableCheckpointDir)

    // raw per-node in-sums → L1-normalized micro scores: tot is a 1-row
    // decimal aggregate broadcast back, the scale product runs in
    // DECIMAL(38,0) and `div` floors back to a Long
    def normalized(raw: DataFrame): DataFrame = {
      val tot = raw.agg(coalesce(sum(col("raw").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("tot"))
      raw.crossJoin(broadcast(tot))
        .select(col("doc_id"),
          when(col("tot") > 0,
            expr(s"CAST((CAST(raw AS DECIMAL(19,0)) * ${totMass}L) div tot AS BIGINT)"))
            .otherwise(lit(0L)).as("score"))
    }
    def step(scores: DataFrame, edgesPart: DataFrame,
             joinKey: String, sumKey: String): DataFrame =
      normalized(ids.join(
        edgesPart
          .join(scores.select(col("doc_id").as(joinKey), col("score")), Seq(joinKey))
          .groupBy(col(sumKey).as("doc_id"))
          .agg(sum(col("score")).as("raw")),
        Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("raw"), lit(0L)).as("raw")))

    var hub = Dedup.materialize(
      ids.select(col("doc_id"), lit(initMicro).as("score")), reliableCheckpointDir)
    var auth: DataFrame = null
    try {
      for (_ <- 1 to iters) {
        val nextAuth = Dedup.materialize(
          step(hub, edgesBySrc, "src", "dst"), reliableCheckpointDir)
        if (auth != null) Dedup.releaseCheckpoint(auth)
        auth = nextAuth
        val nextHub = Dedup.materialize(
          step(auth, edgesByDst, "dst", "src"), reliableCheckpointDir)
        Dedup.releaseCheckpoint(hub)
        hub = nextHub
      }
      auth.select(col("doc_id"), col("score").as("auth_micro"))
        .join(hub.select(col("doc_id"), col("score").as("hub_micro")),
          Seq("doc_id"))
    } finally {
      Dedup.releaseCheckpoint(edgesBySrc)
      Dedup.releaseCheckpoint(edgesByDst)
      Dedup.releaseCheckpoint(ids)
    }
  }

  /** Deterministic synthetic redirect table over `documents` — stands in
    * for the HTTP 301/canonical-link map a crawl resolves before URL-keyed
    * dedup (every fetched alias must collapse onto its terminal target or
    * the same page survives dedup once per alias). Same md5 discipline as
    * [[linkEdges]], salt ":r":
    *
    *   h            = int32(md5(text || ":r"))
    *   redirect iff doc_id > 0 and h % 1000 < redirectPm
    *   dst          = h % doc_id                (strictly < src)
    *
    * dst < src makes the map ACYCLIC by construction (chains always
    * terminate at a non-redirect doc), which is also what makes the DuckDB
    * recursive-CTE oracle safe. Pure projection, zero shuffle. Returns
    * (src, dst), both long.
    */
  def redirectEdges(docs: DataFrame, redirectPm: Int = 400): DataFrame = {
    require(redirectPm >= 0 && redirectPm <= 1000,
      s"redirectPm must be in [0,1000], got $redirectPm")
    val h = conv(substring(md5(concat(col("text"), lit(":r")).cast("binary")), 1, 8),
      16, 10).cast("long")
    val src = Dedup.idLong(col("doc_id"), "doc_id")
    docs.select(src.as("src"), h.as("h"))
      .where(col("src") > 0 && col("h") % 1000 < redirectPm)
      .select(col("src"), (col("h") % col("src")).as("dst"))
  }

  /** Resolve every node through the redirect map to its TERMINAL target by
    * POINTER DOUBLING: each round composes the pointer table with itself
    * (ptr'(v) = ptr(ptr(v)), hops added), so a chain of length L settles in
    * ⌈log₂ L⌉ rounds instead of the L rounds a naive chain walk takes — on
    * a crawl-scale alias map (chains of tens of hops through link
    * shorteners and site moves) that is the difference between ~5 and ~50
    * full shuffle rounds. The same path-halving idea as
    * [[Dedup.connectedComponentsStar]].
    *
    * Physical shape per round: ONE self-join of the pointer table keyed on
    * the current target (|redirects| rows, two longs + a counter — the
    * node list and the edge list never re-shuffle), materialized via
    * [[Dedup.materialize]] (reliable checkpoint when a dir is given), the
    * previous round's blocks freed. The fixpoint test is a count on the
    * just-materialized table — no extra job. Rounds are capped at 20
    * (chains up to 2^20 ≈ 10^6 hops — far beyond any real alias map): only
    * a CYCLIC map (which [[redirectEdges]] cannot produce, but a real
    * crawl's alias table could) fails to settle, and the cap turns that
    * into an error instead of an infinite loop.
    *
    * Returns (doc_id, final_id, hops) for EVERY node — non-redirect docs
    * resolve to themselves with hops = 0.
    */
  def resolveRedirects(nodes: DataFrame, redirects: DataFrame,
                       reliableCheckpointDir: Option[String] = None): DataFrame = {
    val ids = nodes.select(Dedup.idLong(col("doc_id"), "doc_id").as("doc_id"))
    resolvePointers(ids, redirects, reliableCheckpointDir)
  }

  /** Key-type-generic pointer-doubling core behind [[resolveRedirects]]:
    * `nodes` is a single `doc_id` column of ANY joinable type and `edges`
    * is (src, dst) of the same type — URL-keyed pointer maps (pagination
    * rel=prev chains, canonical-link aliases) resolve without first minting
    * numeric ids. Same physical shape, functionality guard, round cap and
    * checkpoint discipline as documented on [[resolveRedirects]].
    */
  def resolvePointers(nodes: DataFrame, edges: DataFrame,
                      reliableCheckpointDir: Option[String] = None): DataFrame = {
    val ids = nodes.select(col("doc_id"))
    var ptr = Dedup.materialize(
      edges.select(col("src"), col("dst").as("cur"), lit(1L).as("hops")),
      reliableCheckpointDir)
    // PRECONDITION guard: the map must be a FUNCTION of src — one dst per
    // src. [[redirectEdges]] guarantees this by construction, but a real
    // crawl's alias table may not, and a multi-valued src silently fans the
    // self-join out into duplicate doc_id rows with ambiguous final_id/hops
    // (ADVICE round 4). One cheap aggregate on the just-materialized table
    // (2 longs/row, far smaller than the corpus) turns that into a loud
    // failure before any doubling work runs.
    val fn = ptr.agg(count(lit(1)).as("n"),
      countDistinct(col("src")).as("d")).head()
    if (fn.getLong(0) != fn.getLong(1)) {
      Dedup.releaseCheckpoint(ptr)
      throw new IllegalArgumentException(
        s"resolvePointers: pointer map is not a function of src — " +
        s"${fn.getLong(0)} edges over ${fn.getLong(1)} distinct src; " +
        "collapse multi-valued aliases (e.g. min(dst) per src) first")
    }
    var rounds = 0
    var advanced = 1L
    while (advanced > 0) {
      rounds += 1
      if (rounds > 20) {
        // release before throwing: the last round's checkpoint blocks must
        // not outlive the failed call (ADVICE round 4)
        Dedup.releaseCheckpoint(ptr)
        throw new IllegalStateException(
          "resolvePointers: no fixpoint after 20 doubling rounds — the pointer map is cyclic")
      }
      val next = Dedup.materialize(
        ptr.join(
            ptr.select(col("src").as("cur"), col("cur").as("cur2"),
              col("hops").as("hops2")),
            Seq("cur"), "left")
          .select(col("src"),
            coalesce(col("cur2"), col("cur")).as("cur"),
            (col("hops") + coalesce(col("hops2"), lit(0L))).as("hops"),
            col("cur2").isNotNull.as("moved")),
        reliableCheckpointDir)
      advanced = next.where(col("moved")).count()
      Dedup.releaseCheckpoint(ptr)
      ptr = next.drop("moved")
    }
    try ids.join(ptr.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cur"), col("doc_id")).as("final_id"),
        coalesce(col("hops"), lit(0L)).as("hops"))
      // the result must outlive ptr's checkpoint blocks
      .localCheckpoint(true)
    finally Dedup.releaseCheckpoint(ptr)
  }

  /** Outlink table WITH anchor text — the (src, dst, anchor) triple the
    * anchor parser of a real crawl emits. Same h_j/fanout derivation as
    * [[linkEdges]] under salt ":a"; the anchor of edge j is a
    * content-selected token of the SOURCE document:
    *
    *   anchor_j = tokens(src)[ h_j mod |tokens(src)| ]
    *
    * Distinct triples (one link may carry different anchors from different
    * mentions — both survive; duplicate mentions collapse). Pure
    * projection + explode; the distinct is the only shuffle.
    *
    * Tokenization is the engine-wide canonical one (trim + `[ \t\n\x0B\f\r]+`,
    * [[TextOps.toksOrEmpty]] — ADVICE round 4: this op previously split on a
    * literal single space, diverging from every other text op on tabbed /
    * multi-space text). A token-less (blank) document emits NO anchor edges —
    * there is no token to select an anchor from.
    */
  def anchorEdges(docs: DataFrame, maxFanout: Int = 3): DataFrame = {
    require(maxFanout >= 1, s"maxFanout must be >= 1, got $maxFanout")
    def h(j: Int) =
      conv(substring(md5(concat(col("text"), lit(":a" + j)).cast("binary")), 1, 8),
        16, 10).cast("long")
    val src = Dedup.idLong(col("doc_id"), "doc_id")
    val toks = TextOps.toksOrEmpty(col("text"))
    val fanout = lit(1) + (h(0) % maxFanout)
    val cands = (0 until maxFanout).map { j =>
      when(lit(j) < fanout,
        struct((h(j) % (src + 1)).as("dst"),
          element_at(toks, (h(j) % size(toks)).cast("int") + 1).as("anchor")))
        .otherwise(lit(null))
    }
    docs.where(length(trim(col("text"))) > 0)
      .select(src.as("src"), explode(array(cands: _*)).as("e"))
      .where(col("e").isNotNull && col("e.dst") =!= col("src"))
      .select(col("src"), col("e.dst").as("dst"), col("e.anchor").as("anchor"))
      .distinct()
  }

  /** Top-k anchor terms per link TARGET — how the web describes each
    * document (the strongest relevance signal web search ever had; in
    * curation it titles canonical pages and exposes anchor-spam farms
    * whose inlinks all carry one term). Returns
    * (doc_id, anchor, n_mentions, rnk ≤ k), ties broken by anchor text —
    * a total order, so the row set is deterministic.
    *
    * Scale shape: one map-side-combined count on (dst, anchor) — the ONLY
    * pass over the corpus-sized edge list — then a per-dst top-k window
    * over the aggregated table, whose per-key width is the target's
    * DISTINCT-anchor count (≤ vocabulary, df-collapsed), not its raw
    * in-degree: the homepage with 10^9 inlinks lands ~10^4 aggregated rows.
    */
  def topAnchors(anchors: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = anchors.groupBy(col("dst").as("doc_id"), col("anchor"))
      .agg(count(lit(1)).cast("long").as("n_mentions"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("n_mentions").desc, col("anchor").asc)
    counts.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  /** Exact truncated (radius-2) in-neighborhood — the first two terms of
    * harmonic centrality, the HyperBall quantity computed exactly instead
    * of by HLL registers (Boldi & Vigna 2013; at radius 2 exact counting
    * is affordable and bit-deterministic, which keeps it under the DuckDB
    * oracle — the sketched variant takes over beyond radius ~3):
    *
    *   n1(v) = |{u : u→v}|
    *   n2(v) = |{w : w→m→v, w ∉ n1(v), w ≠ v}|
    *   harmonic_micro = n1·1000000 + n2·500000   (Σ 1/d(u,v) in micro-units)
    *
    * Scale shape: the 2-hop expansion e⋈e on the mid node generates
    * in(m)·out(m) rows per mid, so HUB MIDS are the blow-up axis — mids
    * with in-degree > `maxMidIn` are dropped BEFORE the join by a count +
    * semi-join (same discipline as [[coupling]]'s in-degree cap: paths
    * through the homepage say nothing about proximity; the cap is the
    * semantics). After the cap: one self-join co-partitioned on the mid
    * key, a distinct, one anti-join to remove level-1 sources, two counts.
    */
  def neighborhood2(nodes: DataFrame, edges: DataFrame,
                    maxMidIn: Int = 64): DataFrame = {
    require(maxMidIn >= 1, s"maxMidIn must be >= 1, got $maxMidIn")
    val ids = nodes.select(Dedup.idLong(col("doc_id"), "doc_id").as("doc_id"))
    val d1 = edges.groupBy(col("dst").as("doc_id"))
      .agg(count(lit(1)).cast("long").as("n1"))
    val okMid = edges.groupBy("dst")
      .agg(count(lit(1)).as("g")).where(col("g") <= maxMidIn)
      .select(col("dst"))
    val intoOkMid = edges.join(okMid, Seq("dst"), "left_semi")
    val two = intoOkMid.select(col("src").as("w"), col("dst").as("m"))
      .join(edges.select(col("src").as("m"), col("dst").as("v")), Seq("m"))
      .select(col("w"), col("v"))
      .where(col("w") =!= col("v"))
      .distinct()
      .join(edges.select(col("src").as("w"), col("dst").as("v")),
        Seq("w", "v"), "left_anti")
    val d2 = two.groupBy(col("v").as("doc_id"))
      .agg(count(lit(1)).cast("long").as("n2"))
    ids.join(d1, Seq("doc_id"), "left").join(d2, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
      .withColumn("harmonic_micro",
        col("n1") * 1000000L + col("n2") * 500000L)
  }

  /** Anchor-uniformity spam flag (Davison 2000 companion to
    * [[topAnchors]]): a target whose inlink anchors are dominated by ONE
    * term was likely boosted by a link farm — organic inlinks describe a
    * page many ways. Per target: total mentions, the dominant anchor's
    * count (ties by anchor text — total order), the per-mille share, and
    * the flag at `minSharePm` (only meaningful above `minMentions`; low-
    * degree targets are never flagged — two mentions agreeing is not
    * evidence). Same scale shape as topAnchors: one (dst, anchor) count
    * over the edge list, then a df-collapsed per-target max — via
    * max(struct), no window at all.
    */
  def anchorSpam(anchors: DataFrame, minMentions: Int = 4,
                 minSharePm: Int = 800): DataFrame = {
    require(minMentions >= 1, s"minMentions must be >= 1, got $minMentions")
    require(minSharePm >= 0 && minSharePm <= 1000,
      s"minSharePm must be in [0,1000], got $minSharePm")
    val counts = anchors.groupBy(col("dst").as("doc_id"), col("anchor"))
      .agg(count(lit(1)).cast("long").as("n"))
    // dominant anchor by (count desc, anchor asc): a per-target rollup,
    // then one join back on (doc_id, n == top_n) taking min(anchor) —
    // both sides df-collapsed aggregates, no window anywhere
    val tot = counts.groupBy("doc_id")
      .agg(sum(col("n")).cast("long").as("n_mentions"),
        max(col("n")).cast("long").as("top_n"))
    counts.join(tot, Seq("doc_id"))
      .where(col("n") === col("top_n"))
      .groupBy("doc_id", "n_mentions", "top_n")
      .agg(min(col("anchor")).as("top_anchor"))
      .withColumn("top_share_pm", expr("(top_n * 1000L) div n_mentions"))
      .withColumn("spam_flag",
        col("n_mentions") >= minMentions && col("top_share_pm") >= minSharePm)
      .select(col("doc_id"), col("n_mentions"), col("top_n"),
        col("top_anchor"), col("top_share_pm"), col("spam_flag"))
  }

  /** Log₂-bucketed degree histogram — the corpus-datasheet power-law check
    * (a web graph whose in-degree tail is NOT heavy means the anchor
    * parser broke). bucket = bit-length of the degree (0 for degree 0), an
    * INTEGER bucketing both engines state identically — no float log2
    * edge cases at exact powers of two. Returns
    * (deg_kind ∈ {in, out}, bucket, n_nodes); two count aggregations over
    * the [[degreeStats]] table, corpus-sized input touched once.
    */
  def degreeHistogram(degrees: DataFrame): DataFrame = {
    def bucket(c: Column) =
      when(c === 0L, lit(0L)).otherwise(length(bin(c)).cast("long"))
    degrees.select(lit("in").as("deg_kind"), bucket(col("in_deg")).as("bucket"))
      .unionByName(
        degrees.select(lit("out").as("deg_kind"), bucket(col("out_deg")).as("bucket")))
      .groupBy("deg_kind", "bucket")
      .agg(count(lit(1)).cast("long").as("n_nodes"))
  }

  /** One un-materialized PageRank round — the plan the loop materializes
    * each iteration.
    */
  private[graft] def pageRankRound(ids: DataFrame, edgesDeg: DataFrame,
      dangling: DataFrame, ranks: DataFrame, dampingPm: Int,
      nTeleport: Long, base: Long): DataFrame = {
    // 1-row dangling pool → equal share per teleport target, broadcast
    val shareRow = ranks.join(dangling, Seq("doc_id"), "left_semi")
      .agg(coalesce(sum(expr(s"(${dampingPm}L * rank_micro) div 1000L")),
        lit(0L)).as("dang"))
      .select(expr(s"dang div ${nTeleport}L").as("share"))
    val contribs = edgesDeg
      .join(ranks.select(col("doc_id").as("src"), col("rank_micro")), Seq("src"))
      .select(col("dst"),
        expr(s"(${dampingPm}L * rank_micro) div (1000L * out_deg)").as("c"))
      .groupBy(col("dst").as("doc_id"))
      .agg(sum(col("c")).as("in_mass"))
    ids.join(contribs, Seq("doc_id"), "left")
      .crossJoin(broadcast(shareRow))
      .select(col("doc_id"),
        (when(col("is_seed"), lit(base) + col("share")).otherwise(lit(0L)) +
          coalesce(col("in_mass"), lit(0L)))
          .cast("long").as("rank_micro"))
  }
}
