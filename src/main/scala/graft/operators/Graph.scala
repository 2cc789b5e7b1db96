package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Rounds

/** Link-graph analysis over an edge list: node degrees and a
  * deterministic fixed-point PageRank — the domain-authority signal a
  * web-scale curation pipeline weighs sources by (Common Crawl ranks
  * hosts this way; C4/RefinedWeb-style cleaning drops or downweights
  * whole hosts, cf. CorpusStats.sourceFilter which gates on in-corpus
  * reputation where this operator gates on the LINK graph).
  *
  * Determinism contract (the library-wide exact-arithmetic idiom, same
  * genus as Clustering's integer centroids and QualityModels'
  * perceptrons): ranks are scaled longs (`rank_fp`, fixed-point with
  * denominator `scale`) and every update is integer multiply / integer
  * floor-division / long sum — order-independent, so the result is
  * bit-reproducible across partitionings AND replayable by an external
  * SQL engine with unrolled iterations (the q154 oracle). Floating
  * point appears only in the final convenience column
  * `rank = rank_fp / scale`, derived scalar-wise from the exact value.
  *
  * Update rule (per iteration, all integer ops, `div` = floor division
  * on the nonnegative domain):
  * {{{
  *   contrib(u→v) = (rank_fp(u) * w(u→v)) div wtot(u)
  *   dshare       = (Σ rank_fp over dangling u) div N
  *   rank_fp'(v)  = ((dampDen-dampNum) * (scale div N)) div dampDen
  *                + (dampNum * (Σ contrib(·→v) + dshare)) div dampDen
  * }}}
  * i.e. r' = (1-d)/N + d·(Σ r/outdeg + danglingMass/N) in fixed point
  * with d = dampNum/dampDen. Floor-division leaks O(1 ulp) of mass per
  * node per round — total mass stays ≤ scale (never grows), which is
  * what bounds every intermediate product (see the overflow guard).
  *
  * Scale shape: the weighted edge list is aggregated once (collapsing
  * parallel edges), joined to its per-source totals, repartitioned by
  * `src` and checkpointed — each iteration then shuffles only the
  * N-row rank table into that fixed layout (one exchange) and rolls
  * contributions up by `dst` (second exchange); the billion-edge side
  * never re-shuffles. Rank lineage is truncated per round via owned
  * localCheckpoints ([[graft.core.Rounds]] — storage
  * holds the edge list plus two rank tables, superseded blocks are
  * unpersisted eagerly). Per-round driver chatter is ONE job: the
  * 1-row dangling-mass control read (plus the L1 step in tol mode)
  * rides the round's materialization action via a lazy checkpoint
  * mark; N and the max out-weight are read once up front.
  */
object Graph {

  /** Exact a div b on nonnegative longs (IntegralDivide — truncation
    * equals floor here; Spark's `/` would round through binary64). */
  private def idiv(a: Column, b: Column): Column = {
    import graft.functions.expressions.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(a.cast("long")),
      ColumnBridge.expression(b.cast("long"))))
  }

  /** [[pageRank]]/[[trustRank]]'s small-graph budget: max aggregated
    * edge rows replayed on the driver (≈ 24 MB collected — a broadcast
    * build side's size class; the [[graft.core.Rounds.onDriver]] gate).
    * 0 forces the distributed rounds. */
  private[graft] final val DefaultMaxDriverRankEdges = 1L << 20

  /** The fixed-point guards both rank routes run, in one order, over
    * the same control values (node count, seeds among the nodes — equal
    * to `n` for pageRank — and the max out-weight); returns the
    * teleport share (pageRank's initR, trustRank's seedShare). Cold
    * start keeps mass ≤ scale (it only shrinks); a warm start may begin
    * at ≤ 2·scale (prior mass ≤ scale plus ≤ scale of new-node or
    * new-seed initial mass), so its bounds tighten ×2 — fail fast
    * instead of silently wrapping (the zorderValue lesson). Largest
    * products: rank_fp*w ≤ massBound*maxWtot and
    * dampNum*(inSum+dshare) ≤ dampNum*2*massBound; trustRank's
    * dangling·seedShare ≤ scale² stays a driver-side BigInt. */
  private def rankShare(trust: Boolean, n: Long, nSeeds: Long, maxW: Long,
                        warm: Boolean, dampNum: Long, scale: Long): Long = {
    val label = if (trust) "trustRank" else "pageRank"
    require(n > 0, s"$label: empty graph")
    if (trust) require(nSeeds > 0,
      "trustRank: no seed is a graph node — trust cannot enter")
    val massBound = if (warm) 2 * scale else scale
    require(maxW <= Long.MaxValue / massBound,
      s"$label: mass bound $massBound * max out-weight=$maxW would " +
        "overflow; lower scale or pre-normalize weights")
    require(dampNum <= Long.MaxValue / (2 * massBound),
      s"$label: dampNum=$dampNum * 2*mass bound=$massBound overflows")
    // n > scale ⇒ initR = 0 and every rank silently collapses to zero;
    // fail fast like the other fixed-point guards (raise scale instead)
    if (trust) require(nSeeds <= scale,
      s"trustRank: seed count $nSeeds exceeds fixed-point scale $scale")
    else require(n <= scale,
      s"pageRank: node count $n exceeds fixed-point scale $scale; " +
        "raise scale so initR = scale/n stays nonzero")
    scale / nSeeds
  }

  private def priorOutOfRange(label: String, scale: Long): String =
    s"$label: prior rank outside [0, $scale] — priors must come from a " +
      s"$label run at the same scale"

  private def priorNotUnique(label: String): String =
    s"$label: prior holds several rows for one graph node — priors must " +
      "be node-unique"

  /** DRIVER REPLAY of the rank fixpoint (r13): every update is exact
    * integer arithmetic over the aggregated edge list, so once that
    * list is materialized and small (the budget above), replaying the
    * rounds in memory is bit-identical to the distributed loop — same
    * long multiply / truncating divide / wrapping sum, same
    * driver-side dshare / BigInt-dtel scalars — while saving 2 pinned
    * materializations plus ~2 jobs per iteration (the per-round
    * shuffle-join and its control read). Host graphs are tiny relative
    * to their corpus at any scale (nodes = hosts, not documents);
    * a graph past the gate takes the distributed rounds unchanged.
    * Equivalence is spec-pinned in GraphSpec (driver ≡ distributed,
    * weighted/dangling/warm/tol, both operators, adversarial priors).
    *
    * Returns None — fall through to the distributed loop — when the
    * prior or seed table exceeds the budget, when an edge endpoint is
    * null (the distributed join silently drops those contributions;
    * replaying that faithfully is not worth the code), or when the
    * dst, seed or prior node type differs from the src type (driver
    * Any-equality cannot mirror a join's or union's type coercion).
    *
    * `seeds` = Some(distinct seed ids as `node`) selects the trustRank
    * update rule; None the pageRank one. */
  private def rankReplay(eAgg: DataFrame, seeds: Option[DataFrame],
                         prior: Option[DataFrame], iters: Int,
                         dampNum: Long, dampDen: Long, scale: Long,
                         tol: Option[Long], budget: Long,
                         label: String): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import scala.collection.mutable
    val nodeType = eAgg.schema("src").dataType
    if (eAgg.schema("dst").dataType != nodeType ||
        (seeds ++ prior).exists(_.schema("node").dataType != nodeType))
      return None
    // prior/seeds collect under the same driver-memory bound as the
    // edges; an oversized one routes the whole call distributed
    val priorRows = prior.map(p => Rounds.collectWithin(
      p.select(col("node"), col("rank_fp").cast("long")), budget))
    val seedRows = seeds.map(Rounds.collectWithin(_, budget))
    if (priorRows.contains(None) || seedRows.contains(None)) return None
    // null prior/seed nodes join nothing on the distributed route; a
    // null prior rank starts cold there (coalesce) — mirror both
    val priorMap = mutable.HashMap.empty[Any, Long]
    val priorNodes = mutable.HashSet.empty[Any]
    val priorDups = mutable.HashSet.empty[Any]
    priorRows.flatten.foreach(_.foreach(r => if (!r.isNullAt(0)) {
      if (!priorNodes.add(r.get(0))) priorDups += r.get(0)
      if (!r.isNullAt(1)) priorMap.update(r.get(0), r.getLong(1))
    }))
    val seedSet = mutable.HashSet.empty[Any]
    seedRows.flatten.foreach(_.foreach(r =>
      if (!r.isNullAt(0)) seedSet += r.get(0)))
    val eRows = eAgg.select("src", "dst", "w").collect()
    val wtot = mutable.HashMap.empty[Any, Long]
    val nodeSet = mutable.LinkedHashSet.empty[Any]
    var i = 0
    while (i < eRows.length) {
      val r = eRows(i)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      val s = r.get(0)
      wtot.update(s, wtot.getOrElse(s, 0L) + r.getLong(2))
      nodeSet += s; nodeSet += r.get(1)
      i += 1
    }
    val trust = seeds.isDefined
    val n = nodeSet.size.toLong
    val nSeeds = if (trust) nodeSet.iterator.count(seedSet.contains).toLong else n
    val maxW = if (wtot.isEmpty) 1L else wtot.valuesIterator.max
    val share = rankShare(trust, n, nSeeds, maxW, prior.isDefined, dampNum,
      scale) // initR | seedShare
    val base = ((dampDen - dampNum) * share) / dampDen
    var rank = mutable.HashMap.empty[Any, Long]
    nodeSet.foreach { nd =>
      val cold = if (!trust || seedSet.contains(nd)) share else 0L
      val v = priorMap.getOrElse(nd, cold)
      require(v >= 0 && v <= scale, priorOutOfRange(label, scale))
      rank.update(nd, v)
    }
    // the distributed left join would emit a duplicated node twice
    require(!priorDups.exists(nodeSet.contains), priorNotUnique(label))
    var dangling = 0L
    nodeSet.foreach(nd => if (!wtot.contains(nd)) dangling += rank(nd))
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      // identical scalars to the distributed loop: dshare is plain Long
      // division, trust's teleport share goes through BigInt
      val extra =
        if (trust) ((BigInt(dangling) * share) / scale).toLong
        else dangling / n
      val in = mutable.HashMap.empty[Any, Long]
      var j = 0
      while (j < eRows.length) {
        val r = eRows(j)
        val s = r.get(0); val d = r.get(1)
        val c = (rank(s) * r.getLong(2)) / wtot(s)
        in.update(d, in.getOrElse(d, 0L) + c)
        j += 1
      }
      var newDangling = 0L
      var l1 = 0L
      val next = mutable.HashMap.empty[Any, Long]
      nodeSet.foreach { nd =>
        val seeded = !trust || seedSet.contains(nd)
        val v = (if (seeded) base else 0L) +
          (dampNum * (in.getOrElse(nd, 0L) +
            (if (seeded) extra else 0L))) / dampDen
        next.update(nd, v)
        if (!wtot.contains(nd)) newDangling += v
        if (tol.isDefined) l1 += math.abs(v - rank(nd))
      }
      rank = next
      dangling = newDangling
      tol.foreach(t => if (l1 <= t) converged = true)
      it += 1
    }
    val schema = StructType(Seq(StructField("node", nodeType),
      StructField("rank_fp", LongType), StructField("rank", DoubleType)))
    Some(Rounds.driverFrame(eAgg.sparkSession, nodeSet.iterator.map(nd =>
      Row(nd, rank(nd), rank(nd).toDouble / scale.toDouble)).toVector,
      schema))
  }

  /** Weighted in/out degrees per node: (node, out_deg, in_deg,
    * out_weight, in_weight); nodes missing a side report 0. Parallel
    * edges count individually in `*_deg` and sum into `*_weight`. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String,
              weightCol: Option[String] = None): DataFrame = {
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val out = edges.groupBy(col(srcCol).as("node"))
      .agg(count(lit(1)).as("out_deg"), sum(w).as("out_weight"))
    val in = edges.groupBy(col(dstCol).as("node"))
      .agg(count(lit(1)).as("in_deg"), sum(w).as("in_weight"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_weight"), lit(0L)).as("out_weight"),
        coalesce(col("in_weight"), lit(0L)).as("in_weight"))
  }

  /** Deterministic weighted PageRank, `iters` fixed iterations of the
    * update rule above. Returns (node, rank_fp, rank) for EVERY node
    * appearing as a src or dst (dangling nodes included — they hold the
    * teleport base plus their dshare slice). Edge weights must be
    * nonnegative; parallel edges collapse by weight sum, so
    * `pageRank(e)` ≡ `pageRank(e collapsed with weightCol)` by
    * construction.
    *
    * `prior` warm-starts the iteration from an earlier (node, rank_fp)
    * table — [[EdgeStore]]'s rank-maintenance path. The update is
    * deterministic from ANY start, so the contract is exact, not
    * approximate: on an UNCHANGED graph, `pageRank(e, j, prior =
    * pageRank(e, k))` is bit-identical to `pageRank(e, k + j)`
    * (spec-pinned). On a grown graph it is the exact fixed-iteration
    * run from that start — nodes the prior doesn't cover (new since the
    * prior) start at the uniform initR, nodes the graph no longer has
    * are dropped, and because the damped update is a contraction, a
    * prior near the fixed point needs FEWER iterations to a given
    * tolerance than the uniform start (the fixed-iteration-vs-tolerance
    * tradeoff: callers pinning bit-reproducibility fix `iters`; callers
    * chasing convergence warm-start and iterate to tolerance). Prior
    * ranks must sit in [0, scale] — each is row-local-asserted, and the
    * overflow guards tighten to the warm bound (init mass ≤ 2·scale:
    * prior mass ≤ scale plus ≤ scale of new-node initR; the contraction
    * never grows it).
    *
    * `checkpointDir` switches the per-round lineage cut from
    * localCheckpoint to reliable checkpoint files — see
    * [[graft.core.Rounds]] for the failure-domain/cost tradeoff.
    * `prior` must hold one row per graph node: several rows for one
    * node fail on both routes. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, weightCol: Option[String] = None,
               dampNum: Long = 85L, dampDen: Long = 100L,
               scale: Long = 1L << 30,
               prior: Option[DataFrame] = None,
               checkpointDir: Option[String] = None,
               tol: Option[Long] = None,
               maxDriverEdges: Long = DefaultMaxDriverRankEdges)
      : DataFrame =
    rank(edges, srcCol, dstCol, iters, weightCol, dampNum, dampDen, scale,
      prior, checkpointDir, tol, maxDriverEdges, seeds = None)

  /** Build the HOST-level link graph from crawled pages — the missing
    * first step of the crawl-curation composition (WARC →
    * [[hostEdges]] → [[EdgeStore]] → [[pageRank]]/[[trustRank]] →
    * [[authorityGate]] → curate): one (src, dst, w) edge per ordered
    * host pair, `w` = number of page-links from src-host pages to
    * dst-host URLs. Self-links (same host) are dropped — they carry no
    * cross-host reputation. Hosts come from the RFC-lite
    * [[graft.functions.HtmlFunctions.urlHost]] extraction (lower-cased,
    * port/userinfo stripped), so the whole builder is a codegen'd
    * regex projection + one explode + one aggregation — row-local
    * until the final groupBy's single exchange, and the heavy html
    * column is pruned at the explode projection, never shuffled.
    *
    * Node ids are host STRINGS — [[pageRank]]/[[trustRank]] join on
    * them directly; an [[EdgeStore]] (long-keyed) ingests
    * `xxhash64(host)` with a (hash, host) dimension kept alongside.
    *
    * `siteKey` re-keys each extracted host BEFORE the self-link filter
    * and the aggregation — pass
    * [[graft.functions.HtmlFunctions.registrableDomain]] to build the
    * SITE-level graph (www./m./cdn. subdomains collapse into one node)
    * directly, instead of building the host graph and collapsing after:
    * same result by construction (spec-pinned equivalence — a host
    * self-link is a domain self-link too, and the weight is the
    * page-link count between distinct keys either way), one fewer
    * projection over the extracted edges at crawl scale. Default
    * identity = the raw host graph. */
  def hostEdges(pages: DataFrame, urlCol: String, htmlCol: String,
                siteKey: Column => Column = identity): DataFrame = {
    import graft.functions.HtmlFunctions
    pages
      .select(siteKey(HtmlFunctions.urlHost(col(urlCol))).as("src"),
        explode(HtmlFunctions.outLinks(col(htmlCol))).as("__link"))
      .select(col("src"),
        siteKey(HtmlFunctions.urlHost(col("__link"))).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** Per-target-host anchor-TERM profile from crawled pages — the
    * retrieval-side complement of [[hostEdges]]: anchor text is how the
    * rest of the web describes the TARGET page, so aggregating the
    * terms per destination host yields the anchor-text index a
    * crawl-scale search stack ranks with (feed the output to
    * [[Retrieval]]'s BM25 with host as the document key, next to the
    * [[pageRank]]/[[trustRank]] authority signals). One row per
    * (host, term) with `w` = cross-site occurrence count; SAME-host
    * anchors are dropped like [[hostEdges]]' self-links — site-internal
    * nav text carries no cross-site description. Terms come from
    * [[graft.functions.TextFunctions.tokens]] over the markup-stripped
    * anchor text ([[graft.functions.HtmlFunctions.anchorTexts]]).
    *
    * Scale shape: row-local (regex extract → two explodes) until ONE
    * aggregation exchange on (host, term); the html column is pruned at
    * the first explode projection and never shuffles.
    *
    * `siteKey` re-keys source and target hosts before the same-site
    * filter and the aggregation — [[hostEdges]]' parameter verbatim
    * (pass [[graft.functions.HtmlFunctions.registrableDomain]] for a
    * site-level anchor index; spec-pinned equal to collapsing after). */
  def anchorTerms(pages: DataFrame, urlCol: String, htmlCol: String,
                  siteKey: Column => Column = identity): DataFrame = {
    import graft.functions.{HtmlFunctions, TextFunctions}
    pages
      .select(siteKey(HtmlFunctions.urlHost(col(urlCol))).as("src"),
        explode(HtmlFunctions.anchorTexts(col(htmlCol))).as("__a"))
      .select(col("src"),
        siteKey(HtmlFunctions.urlHost(col("__a.href"))).as("host"),
        explode(TextFunctions.tokens(col("__a.text"))).as("term"))
      .filter(col("src").isNotNull && col("host").isNotNull &&
        col("src") =!= col("host"))
      .groupBy("host", "term").agg(count(lit(1)).as("w"))
  }

  /** TrustRank — personalized PageRank whose teleport distribution
    * concentrates on a trusted SEED set instead of the uniform prior
    * (Gyöngyi/Garcia-Molina/Pedersen, "Combating Web Spam with
    * TrustRank", VLDB 2004): trust flows out of hand-vetted hosts along
    * links, so spam farms that bootstrap rank from their own link mass
    * score near zero — the complement to [[pageRank]]'s popularity
    * signal for curation gating (compose with [[authorityGate]] over
    * these ranks to keep only seed-reachable hosts).
    *
    * Update rule, all integer ops (same determinism contract as
    * [[pageRank]] — bit-reproducible, oracle-replayable):
    * {{{
    *   seedShare   = scale div |seeds ∩ nodes|     (0 for non-seeds)
    *   r⁰(v)       = seedShare(v)
    *   dtel        = (Σ dangling rank · seedShare) div scale
    *   r'(v)       = ((dampDen−dampNum)·seedShare(v)) div dampDen
    *               + (dampNum·(Σ contrib(·→v) + [v∈seeds]·dtel)) div dampDen
    * }}}
    * Mass starts ≤ scale (seeds share it) and only shrinks, which keeps
    * every product inside the [[pageRank]] overflow bounds; the one new
    * intermediate (dangling·seedShare ≤ scale²) is computed driver-side
    * in BigInt, and `scale²` never materializes on executors. Seeds not
    * present in the graph are ignored (they can neither hold nor pass
    * trust); `seeds` must carry unique node ids in `seedCol`.
    *
    * `tol`/`checkpointDir`/`prior` behave exactly as on [[pageRank]]
    * (one distributed loop and one driver replay serve both). Returns
    * (node, rank_fp, rank) for every graph node — non-seed nodes
    * unreachable from any seed converge to 0, which IS the signal. */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
                iters: Int, seeds: DataFrame, seedCol: String,
                weightCol: Option[String] = None,
                dampNum: Long = 85L, dampDen: Long = 100L,
                scale: Long = 1L << 30,
                checkpointDir: Option[String] = None,
                tol: Option[Long] = None,
                prior: Option[DataFrame] = None,
                maxDriverEdges: Long = DefaultMaxDriverRankEdges)
      : DataFrame =
    rank(edges, srcCol, dstCol, iters, weightCol, dampNum, dampDen, scale,
      prior, checkpointDir, tol, maxDriverEdges,
      seeds = Some(seeds.select(col(seedCol).as("node")).distinct()))

  /** The one rank fixpoint behind [[pageRank]] (`seeds = None`) and
    * [[trustRank]] (`seeds` = the distinct seed ids as `node`): stage
    * the aggregated edge list once, replay on the driver under the
    * budget, otherwise run the distributed rounds. Both operators keep
    * their own scalars (dshare = dangling div N; dtel through BigInt)
    * and error labels. */
  private def rank(edges: DataFrame, srcCol: String, dstCol: String,
                   iters: Int, weightCol: Option[String], dampNum: Long,
                   dampDen: Long, scale: Long, prior: Option[DataFrame],
                   checkpointDir: Option[String], tol: Option[Long],
                   maxDriverEdges: Long,
                   seeds: Option[DataFrame]): DataFrame = {
    val trust = seeds.isDefined
    val label = if (trust) "trustRank" else "pageRank"
    require(iters >= 0, s"$label iters must be >= 0, got $iters")
    tol.foreach(t => require(t >= 0, s"$label tol must be >= 0, got $t"))
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"$label damping must satisfy 0 <= dampNum <= dampDen, " +
        s"got $dampNum/$dampDen")
    require(scale > 0, s"$label scale must be positive, got $scale")
    val rounds = new Rounds(edges.sparkSession.sparkContext, checkpointDir)
    // the run-scoped edge/node pins go once the result no longer needs
    // them (the final ranks are checkpointed or driver-local), so looped
    // callers (warm-start maintenance) don't accumulate a cached edge
    // list per call
    try {
      val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
      // the aggregated edge list is staged ONCE: outW, both sides of the
      // contrib join, the node table, and the maxW control read all
      // descend from it, and an unmaterialized `edges` pipeline (e.g.
      // hostEdges parsing raw HTML) would otherwise re-run its parse per
      // consumer — measured 4× on the q171 site-graph build (r12)
      val eAgg = rounds.pin(edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w"))
        .filter(assert_true(col("w") >= 0,
          lit(s"$label: negative edge weight")).isNull)
        .groupBy("src", "dst").agg(sum(col("w")).as("w"))
        .filter(col("w") > 0))
      // SMALL-GRAPH ROUTE (r13): the count reads the just-pinned blocks
      // (a bounded control read); at or under the budget the whole
      // fixpoint replays on the driver, bit-identically
      if (Rounds.onDriver(maxDriverEdges, eAgg.count()))
        rankReplay(eAgg, seeds, prior, iters, dampNum, dampDen, scale, tol,
          maxDriverEdges, label) match {
          case Some(df) => return df
          case None => ()
        }
      val outW = eAgg.groupBy("src").agg(sum(col("w")).as("wtot"))
      // the big, per-iteration-reused side: fixed src layout, lineage cut
      val contribE = rounds.pin(eAgg.join(outW, "src")
        .repartition(col("src")))
      val flagged = contribE.select(col("src").as("node"))
        .union(contribE.select(col("dst").as("node"))).distinct()
        .join(outW.select(col("src").as("node"), lit(true).as("__o")),
          Seq("node"), "left")
      val hasOut = coalesce(col("__o"), lit(false)).as("has_out")
      val nodesF = rounds.pin(seeds match {
        case None => flagged.select(col("node"), hasOut)
        case Some(s) => flagged
          .join(s.withColumn("__s", lit(true)), Seq("node"), "left")
          .select(col("node"), hasOut,
            coalesce(col("__s"), lit(false)).as("is_seed"))
      })
      // trustRank's teleport terms reach seeds only
      def seeded(v: Column): Column =
        if (trust) when(col("is_seed"), v).otherwise(lit(0L)) else v

      // bounded control reads: node count + seed∩graph count in one
      // pass, then the max out-weight
      val cr = nodesF.agg(count(lit(1)),
        coalesce(sum(seeded(lit(1L))), lit(0L))).head()
      val maxW = outW.agg(coalesce(max(col("wtot")), lit(1L)))
        .first().getLong(0)
      val n = cr.getLong(0)
      val share = rankShare(trust, n, cr.getLong(1), maxW, prior.isDefined,
        dampNum, scale) // initR | seedShare
      val base = ((dampDen - dampNum) * share) / dampDen

      // warm start: nodes the prior misses start at THEIR cold init;
      // out-of-range prior ranks fail row-locally (no extra job — the
      // assert rides the init materialization the loop pays anyway)
      val init = prior match {
        case None => nodesF.withColumn("rank_fp", seeded(lit(share)))
        case Some(p) =>
          nodesF.join(
              p.select(col("node"), col("rank_fp").cast("long").as("__pr")),
              Seq("node"), "left")
            .select(col("node"), col("has_out"),
              coalesce(col("__pr"), seeded(lit(share))).as("rank_fp"))
            .filter(assert_true(
              col("rank_fp") >= 0 && col("rank_fp") <= scale,
              lit(priorOutOfRange(label, scale))).isNull)
      }
      // the dangling-mass control read RIDES each round's
      // materialization job (lazyMark + the aggregate below is the
      // round's ONE action in local-checkpoint mode; reliable mode pays
      // the eager checkpoint's extra job by design) — round k's update
      // consumes the mass computed when round k−1's output
      // materialized. In tol mode the L1 step rides the SAME aggregate,
      // so tolerance-chased runs also submit one job per round.
      def danglingOf(c: Column): Column =
        coalesce(sum(when(!col("has_out"), c)), lit(0L))
      var ranks = rounds.lazyMark(init)
      // bounded control read: materializes init and returns its dangling
      // mass in one job; its row count exposes a prior with several rows
      // for one node (the left join duplicates that node)
      val r0 = ranks.agg(danglingOf(col("rank_fp")), count(lit(1))).first()
      require(r0.getLong(1) == n, priorNotUnique(label))
      var dangling = r0.getLong(0)
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        val extra = // pageRank's dshare | trustRank's dtel
          if (trust) ((BigInt(dangling) * share) / scale).toLong
          else dangling / n
        val inSum = ranks.select(col("node").as("src"), col("rank_fp"))
          .join(contribE, "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(idiv(col("rank_fp") * col("w"), col("wtot"))).as("__in"))
        val next = nodesF.join(inSum, Seq("node"), "left")
          .select(col("node"), col("has_out"),
            (seeded(lit(base)) + idiv(
              lit(dampNum) * (coalesce(col("__in"), lit(0L)) +
                seeded(lit(extra))),
              lit(dampDen))).as("rank_fp"))
        val mat = rounds.lazyMark(next)
        // tolerance mode: stop once the L1 step shrinks to `tol` ulps —
        // `iters` is then the CAP, not the count. The RESULT is still
        // exactly the k-iteration run for the k where the rule fired —
        // every iteration stays exact integer arithmetic — but k is
        // data-dependent, so callers pinning bit-reproducible replay
        // (the q154 oracle) use the fixed-iteration form and convergence
        // chasers (warm-start maintenance on preemptible nodes, with
        // `checkpointDir`) use this one.
        val row = tol match {
          case None => mat.agg(danglingOf(col("rank_fp"))).first()
          case Some(_) =>
            // both rank tables carry the full node universe, so the inner
            // join preserves every row and the dangling sum over it
            // equals the sum over `mat` alone
            mat.select(col("node"), col("has_out"),
                col("rank_fp").as("__n"))
              .join(ranks.select(col("node"), col("rank_fp").as("__o")),
                "node")
              .agg(danglingOf(col("__n")),
                coalesce(sum(abs(col("__n") - col("__o"))), lit(0L)))
              .first()
        }
        dangling = row.getLong(0)
        tol.foreach(t => if (row.getLong(1) <= t) converged = true)
        Rounds.release(ranks)
        ranks = mat
        it += 1
      }
      ranks.select(col("node"), col("rank_fp"),
        (col("rank_fp").cast("double") / lit(scale.toDouble)).as("rank"))
    } finally rounds.releasePinned()
  }

  /** Authority gate: keep rows of `docs` whose `keyCol` node holds a
    * PageRank strictly above the uniform prior scale div N — i.e. hosts
    * the link graph promotes. The comparison runs on the exact
    * fixed-point rank, so the kept set is deterministic. Pass a
    * precomputed `ranks` (from [[pageRank]]) to amortize the iteration
    * across many gates. */
  def authorityGate(docs: DataFrame, keyCol: String, ranks: DataFrame,
                    minRankFp: Long): DataFrame =
    docs.join(
      ranks.filter(col("rank_fp") > minRankFp)
        .select(col("node").as(keyCol)),
      Seq(keyCol), "left_semi")
}
