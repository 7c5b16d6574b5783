package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{CosineSimilarity, VectorFunctions => VF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics beyond connected components (those live in
  * Dedup.dedupClusters / dedupClustersStars): fixed-iteration PageRank
  * on an integer grid. The reference engine has no graph surface
  * (capability-parity, SURVEY.md §2.5).
  *
  * CACHE CONTRACT (all iterative operators here): each operator
  * persists loop-invariant frames (edges, degrees, seed sets) at
  * MEMORY_AND_DISK so a fixed-round loop shuffles them once, not once
  * per round. With the default `release = false` the frames STAY
  * cached after the call — the returned frame is lazy and still
  * references them; callers that run many queries in one session
  * (Bench/Verify) release via `spark.catalog.clearCache()`. Pass
  * `release = true` to get a self-contained frame instead: the result
  * is eagerly materialized (`localCheckpoint`) and every intermediate
  * is unpersisted before returning — the long-lived-session mode, at
  * the cost of one eager job and checkpoint-truncated lineage.
  */
object Graph {

  def defs: Seq[QueryDef] =
    Seq(q110, q126, q127, q128, q129, q132, q133, q137, q141, q142, q144,
      q156, q157, q159, q176, q177, q178, q181, q183, q194, q199, q208,
      q218, q222, q223, q224, q233, q254)

  /** Fixed-iteration PageRank over a directed edge list (`src`, `dst`),
    * damping 0.85, ranks kept in parts-per-billion BIGINTs: the initial
    * rank is 1e9 div N, each round every node sends `r div outdeg`
    * along its edges, and receivers apply r' = 0.15e9 div N +
    * (85·Σcontrib) div 100. INTEGER division at every step — positive
    * operands truncate identically in any engine, so a fixed iteration
    * count yields bit-identical ranks with no float drift and no
    * rounding-grid negotiation (same trick as q84/q85's snapped
    * logs, but here nothing is ever float).
    *
    * Shape per round: one equi-join (edges ⋈ ranks on src) + one
    * keyed agg on dst — both shuffles on node keys, partial aggs
    * map-side combined. The edge frame (with outdeg attached) is
    * persisted once and reused every round; a fixed small iteration
    * count keeps lineage shallow (no checkpointing needed — contrast
    * dedupClustersStars, whose round count is data-dependent). At
    * 100 TB you would bucket BOTH edge endpoints so the per-round join
    * reuses a co-located layout (q80's bucketing) instead of
    * re-shuffling edges every round.
    *
    * Every node is assumed to have at least one out-edge (true for any
    * symmetrized/undirected graph, like q110's); dangling nodes would
    * leak rank mass, the standard simplification.
    */
  def pageRank(edges0: DataFrame, iterations: Int = 3,
      release: Boolean = false, edgesDistinct: Boolean = false): DataFrame = {
    // `edgesDistinct = true` is the caller's certificate (the
    // labelPropagation `normalized` idiom) that the edge frame is
    // already duplicate-free, dropping the defensive full-edge
    // distinct exchange — true by construction for q110/q126's
    // symmetrized bijective trade graph.
    val edgesRaw = edges0.select(col("src"), col("dst"))
    val edges = if (edgesDistinct) edgesRaw else edgesRaw.distinct()
    // empty-graph note: n_nodes = 0 can only happen when the edge (and
    // thus every downstream) frame is empty, so the `div n_nodes`
    // expressions never evaluate on any row and no ANSI divide-by-zero
    // can fire — pageRank(empty) returns an empty frame with NO
    // driver-side action (ProfilingSpec pins it)
    // r15 (guide §2.4 — keyed ops sharing one exchange): the cached
    // loop-invariant edge frame is persisted ALREADY hash-partitioned
    // and sorted on `src`, so every iteration's edges⋈rank sort-merge
    // join serves the (edge-sized) side straight from cache and only
    // the node-sized rank side is exchanged/sorted per round — the
    // in-memory analogue of q133's on-disk bucketed layout.
    // r16 (guide §2.4 again): outdeg now rides a count() window OVER
    // THE SAME src layout instead of the old deg groupBy + edges⋈deg
    // join — the edge pipeline used to feed two exchanges (deg agg,
    // join probe) before the repartition; one exchange now establishes
    // the layout and the window fills outdeg in place (WindowExec's
    // required sort IS the sortWithinPartitions the cache wanted).
    val withDeg = edges.repartition(col("src"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK) // reused every iteration
    Rounds.finish(pageRankRounds(withDeg, iterations), release, withDeg)
  }

  /** The integer-grid PageRank rounds over a (src, dst, outdeg) edge
    * frame — shared by [[pageRank]] and [[pageRankBucketed]], so the
    * two layouts run bit-identical arithmetic by construction.
    */
  private def pageRankRounds(withDeg: DataFrame, iterations: Int): DataFrame = {
    val nodes = withDeg.select(col("src")).distinct()
    val nFrame = nodes.agg(count(lit(1)).as("n_nodes"))
    var rank = nodes.crossJoin(broadcast(nFrame))
      .selectExpr("src AS node", "CAST(1000000000 div n_nodes AS LONG) AS r")
    Rounds.loop("pagerank", iterations) { it =>
      val contribs =
        if (it == 1)
          // r15 first-round shortcut: the uniform init is the SAME
          // constant 1e9 div n for every node, so round 1's join
          // against it collapses to a scan + keyed agg — identical
          // integer arithmetic ((1e9 div n) div outdeg per edge),
          // zero joins, certified by the unchanged unrolled oracle
          withDeg.crossJoin(broadcast(nFrame)).selectExpr("dst",
            "CAST(1000000000 div n_nodes AS LONG) div outdeg AS contrib")
        else withDeg.join(rank, withDeg("src") === rank("node"))
          .selectExpr("dst", "r div outdeg AS contrib")
      rank = contribs.groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
        .crossJoin(broadcast(nFrame))
        .selectExpr("dst AS node",
          "CAST(150000000 div n_nodes + (85 * s) div 100 AS LONG) AS r")
      false
    }
    rank
  }

  /** q110: 3-iteration PageRank on the symmetrized customer–supplier
    * trade graph (edge = supplier supplied an order of the customer,
    * both directions), hash-checked against the same unrolled integer
    * iterations in DuckDB. High-degree suppliers accumulate rank from
    * the ~15× larger customer side.
    */
  /** Symmetrized trade-graph edges on the LONG node bijection
    * (customer c → c·2, supplier s → s·2+1) shared by q110/q126: every
    * per-iteration shuffle keys on a fixed-width long instead of a
    * concat'd string (at 100 TB the narrow key is the difference
    * between a compact radix-style exchange and hashing variable-length
    * UTF-8). Input: distinct (c, sk) pairs. [[decodeTradeNode]] is the
    * inverse, restoring the oracles' 'c:'/'s:' form at output only.
    */
  private def tradeGraphEdges(pairs: DataFrame): DataFrame =
    // row-local explode symmetrize (r16, the dedupClusters idiom): the
    // two-branch union scanned the (join + distinct) pairs pipeline
    // once per direction; one explode emits both directions in a
    // single pass. Output is duplicate-free by construction: pairs are
    // distinct and the even/odd bijection keeps the directions from
    // ever colliding — the pageRank callers assert it via
    // edgesDistinct = true.
    pairs.select(explode(array(
        struct((col("c").cast("long") * 2).as("src"),
          (col("sk").cast("long") * 2 + 1).as("dst")),
        struct((col("sk").cast("long") * 2 + 1).as("src"),
          (col("c").cast("long") * 2).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Inverse of [[tradeGraphEdges]]' bijection: long id → 'c:n'/'s:n'
    * (shiftright = div 2 on these non-negative ids). */
  private def decodeTradeNode(node: org.apache.spark.sql.Column) =
    when(node % 2 === 0,
      concat(lit("c:"), shiftright(node, 1).cast("string")))
      .otherwise(concat(lit("s:"), shiftright(node, 1).cast("string")))

  val q110: QueryDef = QueryDef.checked(
    "q110_pagerank",
    """WITH pairs AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (
      |  SELECT 'c:' || c AS src, 's:' || s AS dst FROM pairs
      |  UNION ALL
      |  SELECT 's:' || s AS src, 'c:' || c AS dst FROM pairs),
      |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM deg),
      |r0 AS (SELECT src AS node, CAST(1000000000 // (SELECT n FROM n) AS BIGINT) AS r
      |  FROM deg),
      |i1 AS (SELECT e.dst AS node,
      |    CAST(150000000 // (SELECT n FROM n)
      |      + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
      |  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |  GROUP BY e.dst),
      |i2 AS (SELECT e.dst AS node,
      |    CAST(150000000 // (SELECT n FROM n)
      |      + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
      |  FROM edges e JOIN i1 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |  GROUP BY e.dst),
      |i3 AS (SELECT e.dst AS node,
      |    CAST(150000000 // (SELECT n FROM n)
      |      + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
      |  FROM edges e JOIN i2 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |  GROUP BY e.dst)
      |SELECT node, r FROM i3 ORDER BY node""".stripMargin) { (s, d) =>
    val pairs = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct()
    // ranks are grouped sums over [[tradeGraphEdges]]' bijective long
    // key, so they are bit-identical to the oracle's string-keyed run
    pageRank(tradeGraphEdges(pairs), iterations = 3, edgesDistinct = true)
      .select(decodeTradeNode(col("node")).as("node"), col("r"))
      .orderBy(col("node"))
  }

  /** [[pageRank]] over a BUCKETED loop-invariant edge frame — the
    * `Graph.scala` 100 TB claim ("bucket BOTH edge endpoints so the
    * per-round join reuses a co-located layout") made real and
    * checkable: the (src, dst, outdeg) frame is written ONCE bucketed
    * on `src` (q80's layout lever), and every iteration's edges⋈ranks
    * join + the rank-init scan then satisfy their `src` distribution
    * straight off disk — the ONLY hash exchanges left per round are the
    * rank side and the dst roll-up (BucketingSpec pins the exchange
    * count and that the scans report `Bucketed: true`). Contrast the
    * in-memory variant, which persists the shuffled frame: at 100 TB
    * the bucketed layout holds the invariant on DISK across rounds
    * (and across jobs — reruns skip the build), instead of in
    * executor memory.
    *
    * Identical integer-grid arithmetic to [[pageRank]] → bit-identical
    * ranks (q133 shares q110's oracle).
    */
  def pageRankBucketed(edges0: DataFrame, numBuckets: Int, table: String,
      path: String, iterations: Int = 3,
      edgesDistinct: Boolean = false): DataFrame = {
    val s = edges0.sparkSession
    // r16: outdeg via the count window over the write's own bucket
    // partitioning — the old build persisted edges, ran a separate deg
    // groupBy (exchange) and an edges⋈deg join before the bucketed
    // write's repartition; now ONE repartition (the bucket layout the
    // writer needs anyway) feeds the window, the writer's sortBy
    // reuses the window's src sort, and no persist is needed because
    // the pipeline reads edges exactly once.
    val edgesRaw = edges0.select(col("src"), col("dst"))
    val edges = if (edgesDistinct) edgesRaw else edgesRaw.distinct()
    edges.repartition(numBuckets, col("src"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(numBuckets, "src")
      .sortBy("src")
      .saveAsTable(table)
    pageRankRounds(s.table(table), iterations) // (src, dst, outdeg), bucketed on src
  }

  /** q133: q110's PageRank over the bucketed edge layout — same graph,
    * same oracle SQL, bit-identical ranks; what changes is the PLAN
    * (per-round edges side served from the bucketed scan with no
    * exchange). The bucketed-table write is part of the measured query,
    * the honest cost of the layout (same accounting as q78's index
    * build).
    */
  val q133: QueryDef = QueryDef.checked("q133_pagerank_bucketed",
    q110.oracle.get) { (s, d) =>
    val pairs = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct()
    // single-pass explode symmetrize (r16, the tradeGraphEdges idiom);
    // distinct by construction: pairs are distinct and the 'c:'/'s:'
    // prefixes keep the two directions from colliding
    val edges = pairs.select(explode(array(
        struct(concat(lit("c:"), col("c").cast("string")).as("src"),
          concat(lit("s:"), col("sk").cast("string")).as("dst")),
        struct(concat(lit("s:"), col("sk").cast("string")).as("src"),
          concat(lit("c:"), col("c").cast("string")).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val root = Exact.scratchDir("q133", "prbkt_").toAbsolutePath.toString
    val Seq(table) = Exact.scratchTables("q133", s, "graft_pr_bk")
    pageRankBucketed(edges, numBuckets = 8,
      table = table, path = s"$root/edges", iterations = 3,
      edgesDistinct = true)
      .orderBy(col("node"))
  }

  /** Personalized PageRank: teleport mass flows ONLY to the seed set
    * instead of uniformly — rank becomes proximity to the seeds (the
    * trust-propagation / related-items variant). Same integer-grid
    * discipline as [[pageRank]]: init = 1e9 div |seeds| on seeds and 0
    * elsewhere, each round r' = [seed]·(0.15e9 div |seeds|) +
    * (85·Σ r div outdeg) div 100 — all integer division, bit-identical
    * across engines. Per round: the same edges⋈ranks + keyed agg, plus
    * a left join against the broadcast-sized teleport frame.
    */
  def personalizedPageRank(edges0: DataFrame, seeds: DataFrame,
      iterations: Int = 3, release: Boolean = false,
      edgesDistinct: Boolean = false): DataFrame = {
    val edgesRaw = edges0.select(col("src"), col("dst"))
    val edges = if (edgesDistinct) edgesRaw else edgesRaw.distinct()
    // pre-partitioned + sorted on src in cache, so each round's SMJ
    // exchanges only the node-sized rank side (see pageRank, r15);
    // outdeg via the count window over the same layout (r16) — the
    // deg groupBy + join exchanges drop out, as in pageRank
    val withDeg = edges.repartition(col("src"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seedSet = seeds.select(col("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSeeds = seedSet.agg(count(lit(1)).as("n_seeds"))
    val tele = seedSet.crossJoin(broadcast(nSeeds))
      .selectExpr("node", "CAST(150000000 div n_seeds AS LONG) AS tele")
    var rank = withDeg.select(col("src")).distinct()
      .selectExpr("src AS node")
      .join(seedSet.crossJoin(broadcast(nSeeds))
        .selectExpr("node", "CAST(1000000000 div n_seeds AS LONG) AS r0"),
        Seq("node"), "left")
      .selectExpr("node", "coalesce(r0, CAST(0 AS LONG)) AS r")
    Rounds.loop("personalized_pagerank", iterations) { _ =>
      rank = withDeg.join(rank, withDeg("src") === rank("node"))
        .selectExpr("dst", "r div outdeg AS contrib")
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
        .join(broadcast(tele), col("dst") === tele("node"), "left")
        .selectExpr("dst AS node",
          "CAST(coalesce(tele, CAST(0 AS LONG)) + (85 * s) div 100 AS LONG) AS r")
      false
    }
    Rounds.finish(rank, release, withDeg, seedSet)
  }

  /** q126: proximity to the first ten customers on the trade graph —
    * their suppliers rank high, customers sharing those suppliers rank
    * next, unrelated nodes converge toward 0. Hash-checked against the
    * same unrolled seeded iterations in DuckDB.
    */
  val q126: QueryDef = QueryDef.checked(
    "q126_personalized_pagerank",
    """WITH pairs AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (
      |  SELECT 'c:' || c AS src, 's:' || s AS dst FROM pairs
      |  UNION ALL
      |  SELECT 's:' || s AS src, 'c:' || c AS dst FROM pairs),
      |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
      |seeds AS (SELECT DISTINCT 'c:' || c AS node FROM pairs WHERE c < 10),
      |ns AS (SELECT COUNT(*) AS n FROM seeds),
      |r0 AS (
      |  SELECT d.src AS node,
      |    CASE WHEN sd.node IS NULL THEN CAST(0 AS BIGINT)
      |         ELSE CAST(1000000000 // (SELECT n FROM ns) AS BIGINT) END AS r
      |  FROM deg d LEFT JOIN seeds sd ON d.src = sd.node),
      |i1 AS (SELECT e.dst AS node,
      |    CAST(CASE WHEN sd.node IS NULL THEN 0
      |              ELSE 150000000 // (SELECT n FROM ns) END
      |      + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
      |  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |  LEFT JOIN seeds sd ON e.dst = sd.node
      |  GROUP BY e.dst, sd.node),
      |i2 AS (SELECT e.dst AS node,
      |    CAST(CASE WHEN sd.node IS NULL THEN 0
      |              ELSE 150000000 // (SELECT n FROM ns) END
      |      + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
      |  FROM edges e JOIN i1 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |  LEFT JOIN seeds sd ON e.dst = sd.node
      |  GROUP BY e.dst, sd.node),
      |i3 AS (SELECT e.dst AS node,
      |    CAST(CASE WHEN sd.node IS NULL THEN 0
      |              ELSE 150000000 // (SELECT n FROM ns) END
      |      + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
      |  FROM edges e JOIN i2 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |  LEFT JOIN seeds sd ON e.dst = sd.node
      |  GROUP BY e.dst, sd.node)
      |SELECT node, r FROM i3 ORDER BY node""".stripMargin) { (s, d) =>
    val pairs = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct()
    // [[tradeGraphEdges]]' long bijection through the iterations,
    // strings only at output; ranks are unchanged grouped sums
    val seeds = pairs.filter(col("c") < 10)
      .select((col("c").cast("long") * 2).as("node"))
    personalizedPageRank(tradeGraphEdges(pairs), seeds, iterations = 3,
        edgesDistinct = true)
      .select(decodeTradeNode(col("node")).as("node"), col("r"))
      .orderBy(col("node"))
  }

  /** Synchronous label propagation (semi-supervised label spreading):
    * seed nodes keep their label; every other node takes, per round,
    * the majority label among its CURRENTLY-labeled neighbors (ties →
    * smallest label; no labeled neighbor → still unlabeled). The
    * cheap transductive labeler for "I labeled 20% of the corpus, fill
    * in the rest along the similarity graph". Deterministic: fixed
    * synchronous rounds, total tie order — so the result is
    * oracle-exact, unlike the usual async/random-order formulations.
    * Per round: one edges⋈state join + a (node, label) vote agg + a
    * row_number argmax — all keyed on node ids. Edges are persisted
    * once across rounds.
    */
  def labelPropagation(edges0: DataFrame, seeds: DataFrame, nodes: DataFrame,
      rounds: Int = 2, release: Boolean = false,
      normalized: Boolean = false): DataFrame = {
    // normalized inputs (the sibling-operator rule — pageRank, kCore,
    // triangleCounts all distinct their edges): a duplicated edge would
    // double-count its vote and flip majorities; a node seeded twice
    // would fan the base frame out into conflicting duplicate rows —
    // ties across duplicate seeds resolve to the smallest label, the
    // same total order the per-round argmax uses.
    // `normalized = true` is the caller's certificate that ALL THREE
    // inputs are already normal: edges distinct (src, dst) pairs, nodes
    // unique, seeds one row per node — true by construction for the
    // catalog path ([[similarityEdges]]' memoized graph is
    // strictly-ordered unique pairs symmetrized once; nodes and seeds
    // project the embeddings primary key) — so the defensive distinct /
    // min-per-key shuffle stages drop out of every catalog query that
    // reads the shared graph (three whole exchange stages at the
    // framework's fixed per-stage cost; the frames here are small but
    // the stages are not free, and at 100 TB the edge distinct is a
    // full-graph shuffle). GraphEdgeSpec pins the duplicate-edge vote
    // and duplicate-seed rules on the DEFAULT path and certificate ≡
    // default on certified inputs; the certificate never changes
    // results, only plans.
    val edges = (if (normalized) edges0.select(col("src"), col("dst"))
      else edges0.select(col("src"), col("dst")).distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seedLabels =
      if (normalized) seeds.select(col("node"), col("label").as("seed_label"))
      else seeds.groupBy(col("node")).agg(min(col("label")).as("seed_label"))
    val baseNodes = if (normalized) nodes.select(col("node"))
      else nodes.select(col("node")).distinct()
    val base = baseNodes.join(seedLabels, Seq("node"), "left")
      .persist(StorageLevel.MEMORY_AND_DISK)
    var state = base.select(col("node"), col("seed_label").as("label"))
    Rounds.loop("label_propagation", rounds) { _ =>
      val votes = edges
        .join(state.select(col("node").as("src"), col("label").as("nl")), "src")
        .filter(col("nl").isNotNull)
        .groupBy(col("dst"), col("nl"))
        .agg(count(lit(1)).as("n"))
      val win = votes
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("dst"))
            .orderBy(col("n").desc, col("nl"))))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("nl").as("prop"))
      state = base.join(win, Seq("node"), "left")
        .select(col("node"), coalesce(col("seed_label"), col("prop")).as("label"))
      false
    }
    Rounds.finish(state, release, edges, base)
  }

  /** Exact all-pairs cosine similarity edges — the TRUTH-ONLY edge
    * source (O(n²) nested-loop by construction, the same role
    * Similarity.cosineNearDups plays for the ANN family): every
    * node-ordered pair with cosine ≥ `threshold`, symmetrized into
    * (src, dst) both ways. Never run this shape at corpus scale; it
    * exists as the oracle-parity default and the ground truth the
    * banded path is pinned against (GraphEdgeSpec).
    */
  /** Per-JVM memo of the MATERIALIZED catalog similarity graph per
    * (corpus dir, threshold) — the q78/q125/q141 build-once accounting
    * applied to the whole graph-analytics family: a similarity graph is
    * constructed once and then queried by label propagation, k-core,
    * coreness, BFS, … (q127/q132/q137/q144 all read the SAME 0.3
    * graph); recomputing the O(n²) cosine join inside every catalog
    * query measures the build, not the analytics. Every per-pair edge
    * decision is one deterministic codegen expression (no aggregation-
    * order float drift), so the memoized parquet is bit-identical to a
    * fresh build; files live under [[Exact.fmtRoot]] and die with the
    * JVM. Library functions still take arbitrary edge frames — this
    * memo is the CATALOG's corpus-level asset.
    */
  def similarityEdges(s: org.apache.spark.sql.SparkSession, d: String,
      threshold: Double): DataFrame = {
    val path = Exact.buildOnceDir(s"simedges#$d#$threshold", "simedges_") {
      p =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), VF.asDoubleDense(col("embedding")).as("v"))
      cosineEdgesExact(e, threshold).write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  def cosineEdgesExact(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = vectors.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = vectors.select(col("vec_id").as("ib"), col("v").as("vb"))
    val pairs = a.join(b, col("ia") < col("ib"))
      .filter(CosineSimilarity.cosineSim(col("va"), col("vb")) >= threshold)
      .select(col("ia"), col("ib"))
    pairs.select(col("ia").as("src"), col("ib").as("dst"))
      .unionByName(pairs.select(col("ib").as("src"), col("ia").as("dst")))
  }

  /** Scale-path similarity edges: random-hyperplane LSH bands turn the
    * all-pairs cosine join into an EQUI-join on (band, chunk) — the
    * q28/q33 discipline applied to graph edge construction. Each seed
    * contributes an independent 32-bit signature split into
    * 32/`bitsPerBand` chunks; vectors sharing any (band, chunk) become
    * candidates, exact cosine then keeps only true edges — so the
    * result is always a SUBSET of [[cosineEdgesExact]] (sound), and
    * recall is the union over bands of per-band collision probability
    * (1 − θ/π)^bitsPerBand.
    *
    * `bitsPerBand` is the selectivity knob: the catalog threshold 0.3
    * is an unusually WIDE net (θ ≈ 72°, per-bit agreement only ~0.6),
    * so the default keeps bands coarse (2 bits) to hold recall at 1.0
    * on the test corpus — GraftEdgeSpec pins lsh == exact there, the
    * CurateSpec pattern. At production thresholds (≥ 0.7, per-bit
    * ≥ 0.75) raise bitsPerBand to 8–16: buckets shrink quadratically
    * in bucket count while recall per band stays high, which is what
    * makes this shape viable at 10⁹ vectors where the exact join is a
    * wall. Candidate dedup happens BEFORE the cosine filter so each
    * surviving pair pays the fused-codegen cosine exactly once.
    *
    * The band explode carries ONLY (vec_id, band, chunk) — never the
    * vector: at 32 bands per vector, exploding the embedding alongside
    * would multiply the shuffled bytes by the band count. Vectors
    * re-join the deduped candidate PAIR list by id (two keyed joins
    * against the persisted input frame), so each vector crosses the
    * wire once per pair side, not once per band.
    */
  def cosineEdgesLsh(vectors: DataFrame, threshold: Double, dim: Int = 64,
      bitsPerBand: Int = 2, seeds: Seq[Long] = Seq(42L, 43L),
      release: Boolean = false): DataFrame = {
    val nBits = 32
    // unguarded, a too-wide band silently yields ZERO bands — an empty
    // edge set that reads as "no similar pairs" — and 0 divides by zero
    require(bitsPerBand >= 1 && bitsPerBand <= nBits &&
      nBits % bitsPerBand == 0,
      s"bitsPerBand must divide $nBits, got $bitsPerBand")
    val bandsPerSeed = nBits / bitsPerBand
    val mask = (1L << bitsPerBand) - 1
    val vecs = vectors.select(col("vec_id"), col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds banding + both
    // vector re-joins (released per the cache contract / `release`)
    val withSigs = seeds.zipWithIndex.foldLeft(vecs) { case (acc, (seed, i)) =>
      acc.withColumn(s"sig$i",
        VF.lshSignature(col("v"), dim = dim, nBits = nBits, seed = seed))
    }
    val bandCols = seeds.indices.flatMap(i =>
      (0 until bandsPerSeed).map(j =>
        shiftright(col(s"sig$i"), j * bitsPerBand).bitwiseAND(lit(mask))))
    // persisted: feeds both self-join sides, so the 64 hyperplane
    // projections per vector run once — and it is SMALL (three scalars
    // per band-row, no vector column)
    val banded = withSigs.select(col("vec_id"),
        posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = banded
      .select(col("band"), col("chunk"), col("vec_id").as("ia"))
      .join(banded.select(col("band"), col("chunk"), col("vec_id").as("ib")),
        Seq("band", "chunk"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"))
      .dropDuplicates("ia", "ib")
    val pairs = cand
      .join(vecs.select(col("vec_id").as("ia"), col("v").as("va")), "ia")
      .join(vecs.select(col("vec_id").as("ib"), col("v").as("vb")), "ib")
      .filter(CosineSimilarity.cosineSim(col("va"), col("vb")) >= threshold)
      .select(col("ia"), col("ib"))
    val out = pairs.select(col("ia").as("src"), col("ib").as("dst"))
      .unionByName(pairs.select(col("ib").as("src"), col("ia").as("dst")))
    Rounds.finish(out, release, vecs, banded)
  }

  /** Label spreading over a similarity graph built from an embedding
    * frame (vec_id, v) — [[labelPropagation]] with the edge
    * construction PLUGGABLE: `edgeSource` maps (vectors, threshold) to
    * symmetrized (src, dst) edges. The default is [[cosineEdgesExact]]
    * for oracle parity at test scale; pass [[cosineEdgesLsh]] (or any
    * candidate generator — Similarity.semanticDedup's cluster scoping,
    * a persisted q125-style index) when the vector count makes the
    * exact join infeasible. GraphEdgeSpec pins lsh == exact → identical
    * propagation on the catalog corpus; PlanShapeSpec pins that the
    * lsh path plans no nested-loop join.
    *
    * `release` governs the PROPAGATION frames only; an edge source that
    * persists its own intermediates (cosineEdgesLsh) takes its own
    * release flag — close over it: `edgeSource = cosineEdgesLsh(_, _,
    * release = true)` — for the fully self-contained contract.
    */
  def labelSpreadBySimilarity(vectors: DataFrame, seeds: DataFrame,
      rounds: Int = 2, threshold: Double = 0.3,
      edgeSource: (DataFrame, Double) => DataFrame = cosineEdgesExact,
      release: Boolean = false, normalizedInputs: Boolean = false): DataFrame =
    labelPropagation(edgeSource(vectors, threshold), seeds,
      vectors.select(col("vec_id").as("node")), rounds, release,
      normalized = normalizedInputs)

  /** q127: spread the first-100 embedding labels over the cosine-0.3
    * similarity graph for two rounds — hash-checked (including nodes
    * that stay unlabeled) against the same unrolled vote rounds in
    * DuckDB. Edge construction goes through [[labelSpreadBySimilarity]]
    * with the exact edge source (oracle parity); the LSH edge source is
    * the 100 TB path, pinned equal on this corpus by GraphEdgeSpec.
    */
  val q127: QueryDef = QueryDef.checked(
    "q127_label_propagation",
    """WITH e0 AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |     / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.3),
      |edges AS (SELECT ia AS src, ib AS dst FROM e0
      |  UNION ALL SELECT ib, ia FROM e0),
      |nodes AS (SELECT vec_id AS node,
      |  CASE WHEN vec_id < 100 THEN label END AS seed_label FROM embeddings),
      |s0 AS (SELECT node, seed_label AS label FROM nodes),
      |w1 AS (
      |  SELECT e.dst AS node, s.label AS prop
      |  FROM edges e JOIN s0 s ON e.src = s.node
      |  WHERE s.label IS NOT NULL
      |  GROUP BY e.dst, s.label
      |  QUALIFY row_number() OVER (PARTITION BY e.dst
      |    ORDER BY COUNT(*) DESC, s.label) = 1),
      |s1 AS (SELECT n.node, COALESCE(n.seed_label, w.prop) AS label
      |  FROM nodes n LEFT JOIN w1 w ON n.node = w.node),
      |w2 AS (
      |  SELECT e.dst AS node, s.label AS prop
      |  FROM edges e JOIN s1 s ON e.src = s.node
      |  WHERE s.label IS NOT NULL
      |  GROUP BY e.dst, s.label
      |  QUALIFY row_number() OVER (PARTITION BY e.dst
      |    ORDER BY COUNT(*) DESC, s.label) = 1)
      |SELECT n.node AS node, COALESCE(n.seed_label, w.prop) AS label
      |FROM nodes n LEFT JOIN w2 w ON n.node = w.node
      |ORDER BY n.node""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), VF.asDoubleDense(col("embedding")).as("v"),
        col("label"))
    val seeds = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("node"), col("label"))
    // edgeSource taps the memoized corpus graph — same edges, built
    // once. normalizedInputs certifies ALL inputs normal: the graph is
    // distinct-by-construction, nodes and seeds project the embeddings
    // primary key (unique)
    labelSpreadBySimilarity(e.select(col("vec_id"), col("v")), seeds,
        rounds = 2, threshold = 0.3,
        edgeSource = (_, t) => similarityEdges(s, d, t),
        normalizedInputs = true)
      .orderBy(col("node"))
  }

  /** Triangle counting with DEGREE-ORDERED orientation: undirected
    * edges are oriented from the lower-rank endpoint to the higher
    * (rank = (degree, node)), so every triangle is enumerated exactly
    * once from its lowest-ranked corner AND the wedge join's per-key
    * fanout is bounded by the graph's degeneracy, not its max degree —
    * the difference between a hub exploding into deg² wedge candidates
    * and the O(m^1.5) bound (Latapy 2008; the standard distributed
    * formulation). Two self-joins on node keys over the oriented edge
    * frame (persisted — it feeds the wedge join twice and the closure
    * check once). Returns per-node triangle counts (the clustering-
    * coefficient numerator), counting each node's membership in every
    * triangle containing it.
    */
  def triangleCounts(undirected: DataFrame,
      release: Boolean = false): DataFrame = {
    val und = undirected.select(col("src"), col("dst")).distinct()
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    // orientation: keep the edge only in the (lower rank → higher rank)
    // direction; rank ties broken by node id so orientation is total
    val ranked = und
      .join(deg.select(col("node").as("src"), col("d").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("d").as("dd")), "dst")
      .filter(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src").as("lo"), col("dst").as("hi"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedge join compares hi endpoints by NODE id, so (b, c) is always
    // node-ordered: b < c
    val wedges = ranked.as("e1")
      .join(ranked.as("e2"), col("e1.lo") === col("e2.lo") &&
        col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"), col("e2.hi").as("c"))
    // closure check as a PLAIN equi-join: the oriented edge (lo, hi) is
    // re-canonicalized to node order (cl = least, ch = greatest) once, so
    // the wedge's node-ordered (b, c) matches on two key equalities —
    // an OR of equality pairs here would force a nested-loop join over
    // wedges × edges (the exact shape PlanShapeSpec forbids; q128 pins)
    val canon = ranked.select(least(col("lo"), col("hi")).as("b"),
      greatest(col("lo"), col("hi")).as("c"))
    val triangles = wedges.join(canon, Seq("b", "c"))
      .select(col("a"), col("b"), col("c"))
    val counts = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    Rounds.finish(counts, release, ranked)
  }

  /** q128: per-node triangle counts on the co-purchase projection —
    * customers connected when they share a supplier would be dense, so
    * the catalog graph links SUPPLIERS that share a customer (100
    * nodes, deterministic). Hash-checked against DuckDB's canonical
    * a<b<c triangle join.
    */
  val q128: QueryDef = QueryDef.checked(
    "q128_triangle_counts",
    """WITH pairs AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderkey < 2000),
      |und0 AS (
      |  SELECT DISTINCT a.s AS x, b.s AS y FROM pairs a JOIN pairs b
      |  ON a.c = b.c AND a.s < b.s),
      |tri AS (
      |  SELECT e1.x AS a, e1.y AS b, e2.y AS c
      |  FROM und0 e1 JOIN und0 e2 ON e1.y = e2.x
      |  JOIN und0 e3 ON e3.x = e1.x AND e3.y = e2.y)
      |SELECT node, COUNT(*) AS n_triangles FROM (
      |  SELECT unnest([a, b, c]) AS node FROM tri)
      |GROUP BY node ORDER BY node""".stripMargin) { (s, d) =>
    triangleCounts(coPurchaseEdges(s, d)).orderBy(col("node"))
  }

  /** Local clustering coefficient: how interconnected each node's
    * neighborhood is — cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the
    * community-cohesion / hub-vs-broker signal that complements raw
    * triangle counts (a hub with many triangles can still have cc ≈ 0).
    * On the integer ppm grid (2·T·10⁶ div (d·(d−1))) so the oracle
    * hash is exact; deg < 2 nodes are excluded (coefficient undefined).
    * Pure composition: [[triangleCounts]] (degree-ordered wedges) +
    * one degree agg + a node-keyed join — no new shuffle shapes.
    */
  def clusteringCoefficients(undirected: DataFrame): DataFrame = {
    val und = undirected.select(col("src"), col("dst")).distinct()
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val tri = triangleCounts(und)
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("coalesce(n_triangles, 0) * 2 * 1000000 div (deg * (deg - 1))")
          .as("cc_ppm"))
  }

  /** q208: per-supplier clustering coefficients on the co-purchase
    * graph, hash-checked against q128's triangle CTE extended with the
    * same degree/ppm arithmetic.
    */
  val q208: QueryDef = QueryDef.checked(
    "q208_clustering_coefficient",
    """WITH pairs AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderkey < 2000),
      |und0 AS (
      |  SELECT DISTINCT a.s AS x, b.s AS y FROM pairs a JOIN pairs b
      |  ON a.c = b.c AND a.s < b.s),
      |und AS (
      |  SELECT x, y FROM und0 UNION SELECT y AS x, x AS y FROM und0),
      |deg AS (SELECT x AS node, COUNT(*) AS deg FROM und GROUP BY 1),
      |tri AS (
      |  SELECT e1.x AS a, e1.y AS b, e2.y AS c
      |  FROM und0 e1 JOIN und0 e2 ON e1.y = e2.x
      |  JOIN und0 e3 ON e3.x = e1.x AND e3.y = e2.y),
      |tc AS (
      |  SELECT node, COUNT(*) AS n_triangles FROM (
      |    SELECT unnest([a, b, c]) AS node FROM tri)
      |  GROUP BY node)
      |SELECT d.node, d.deg, COALESCE(t.n_triangles, 0) AS n_triangles,
      |  COALESCE(t.n_triangles, 0) * 2 * 1000000
      |    // (d.deg * (d.deg - 1)) AS cc_ppm
      |FROM deg d LEFT JOIN tc t USING (node)
      |WHERE d.deg >= 2 ORDER BY d.node""".stripMargin) { (s, d) =>
    clusteringCoefficients(coPurchaseEdges(s, d)).orderBy(col("node"))
  }

  /** The supplier co-purchase projection (suppliers linked when they
    * share a customer, orders < 2000) — the dense small-diameter
    * undirected catalog graph shared by q128 (triangles) and q177
    * (betweenness), symmetrized.
    */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = memoEdgeFrame(s, s"und#$d#copurchase") {
    val pairs = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderkey") < 2000),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct()
    val half = pairs.as("a")
      .join(pairs.withColumnRenamed("sk", "sk2").as("b"),
        col("a.c") === col("b.c") && col("a.sk") < col("sk2"))
      .select(col("a.sk").as("src"), col("sk2").as("dst"))
      .distinct()
    half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Neighborhood-overlap similarity ("related items" by graph
    * co-occurrence): node pairs scored by the Jaccard of their
    * neighbor SETS — |N(a)∩N(b)| exact from a wedge count (common
    * neighbor x joins e(x,a)⋈e(x,b)), |N(a)∪N(b)| = da+db−inter, the
    * ratio snapped to ppm. Candidates are only pairs sharing ≥minShared
    * neighbors — the pair space never materializes beyond actual
    * wedges. Per-wedge fanout is deg(x)² at the common neighbor; at
    * 100 TB hub nodes get capped or sampled first (the q50 df-cap
    * discipline applied to degrees), which biases only pairs whose
    * overlap is mediated by hubs — exactly the pairs co-occurrence
    * similarity already over-counts.
    */
  def neighborOverlap(undirected: DataFrame, minShared: Long,
      release: Boolean = false): DataFrame = {
    val und = undirected.select(col("src"), col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val inter = und.select(col("src").as("x"), col("dst").as("a"))
      .join(und.select(col("src").as("x"), col("dst").as("b")),
        Seq("x"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val out = inter
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"), col("shared"),
        (col("da") + col("db") - col("shared")).as("unions"),
        round(lit(1000000.0) * col("shared") /
          (col("da") + col("db") - col("shared"))).cast("long").as("jaccard_ppm"))
    Rounds.finish(out, release, und)
  }

  /** k-core extraction by min-degree peeling: repeatedly delete every
    * node whose degree in the CURRENT subgraph is < k until none
    * remains — the surviving subgraph is the k-core, the standard
    * density filter (spam/bot rings, cohesive communities, the "only
    * keep well-connected documents" graph curation step). Returns the
    * core's nodes with their in-core degree (all ≥ k).
    *
    * The round count is DATA-DEPENDENT (a chain peels one layer per
    * round): each round's induced edge frame is truncated eagerly
    * (Rounds) and the convergence check is one count() on it. Per
    * round: one degree agg + two semi-join shapes on node keys, all
    * shuffles on the node id. Rounds are bounded by the graph's
    * degeneracy ordering depth (≤ node count, in practice O(peeled
    * layers) — 9–11 on the catalog corpus); the ledger key `kcore`
    * records them.
    */
  def kCore(undirected: DataFrame, k: Long): DataFrame = {
    val init = Rounds.truncate(
      undirected.select(col("src"), col("dst")).distinct(), eager = true)
    var n = init.count()
    // keep feeds BOTH join sides: persisted, or the degree aggregation
    // would plan (and execute) twice per round; released once the
    // round's checkpoint has materialized through it. Semi joins, not
    // inner: a checkpoint inherits its plan's size ESTIMATE, and an
    // inner join estimates the product of its sides — edges × keep ×
    // keep cubed the estimate every round, a BigInt whose digits grew
    // 3× per round until planning alone took minutes past ~12 peels.
    // A semi join estimates its left side, so the estimate stays flat.
    var keep: DataFrame = null
    val edges = Rounds.fixpoint("kcore", init, eager = true) { edges =>
      keep = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      edges
        .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
    } { (_, next) =>
      val prev = n
      n = next.count()
      Rounds.release(keep)
      n == prev
    }
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Full k-core DECOMPOSITION: every node's core number — the largest
    * k for which it survives k-core peeling. The graph-density ranking
    * used for curriculum ordering / influence tiers where one k-core
    * membership bit is too coarse.
    *
    * Computed by distributed h-index iteration, not level-by-level
    * peeling: start every node at its degree and repeatedly replace
    * each node's value with the H-index of its neighbors' values (the
    * largest h such that ≥ h neighbors hold a value ≥ h). Values are
    * monotone non-increasing and the fixpoint is exactly the core
    * number (Lü et al. 2016, "The H-index of a network node"; the
    * locality principle behind Montresor et al. 2011's distributed
    * k-core decomposition). Iterating peeling instead would cost
    * (degeneracy × inner-fixpoint) global rounds; here each round is
    * ONE keyed equi-join (edges against current values on `dst`) plus
    * ONE shuffle on `src` (the window ranking the neighbor values and
    * the same-keyed max aggregate — H = max_i min(i, c_(i)) over the
    * values sorted descending), and the measured round count on the
    * catalog similarity graphs is single-digit. The edge frame is
    * loop-invariant and checkpointed once (at 100 TB, write it through
    * the q133 bucketed layout and the per-round join side is
    * exchange-free); per-round state is one (node, core) frame,
    * localCheckpoint'd so lineage depth stays constant. Nodes appear
    * in the symmetrized edge list by construction, so every node with
    * an edge gets coreness ≥ 1; isolated nodes carry no edges and no
    * row, matching [[kCore]]'s convention.
    */
  def coreness(undirected: DataFrame): DataFrame = {
    val edges = Rounds.truncate(
      undirected.select(col("src"), col("dst")).distinct(), eager = true)
    val init = Rounds.truncate(edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core")), eager = true)
    val byNode = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("nc").desc)
    Rounds.fixpoint("coreness", init, eager = true) { core =>
      edges
        .join(core.select(col("node").as("dst"), col("core").as("nc")),
          Seq("dst"))
        .select(col("src"), col("nc"))
        .withColumn("rn", row_number().over(byNode))
        .groupBy(col("src").as("node"))
        .agg(max(least(col("nc"), col("rn"))).as("core"))
    } { (core, next) =>
      next.join(core.withColumnRenamed("core", "prev"), Seq("node"))
        .filter(col("core") =!= col("prev")).count() == 0
    }
  }

  /** k-truss: the maximal subgraph in which every EDGE participates in
    * ≥ k−2 triangles — the edge-level analogue of [[kCore]] and a
    * stricter cohesion filter (a k-core keeps hub-and-spoke stars; a
    * k-truss demands actual triangle density, the community-core /
    * spam-ring shape). Returns the truss's canonical node-ordered
    * edges (lo < hi).
    *
    * Peeling loop with the kCore convergence treatment (per-round
    * localCheckpoint + one count), but support is never recomputed from
    * scratch: triangles are enumerated once up front and the alive list
    * is maintained as edges peel (see the inline design note). Per
    * round: one explode+groupBy for support, one keyed join to score
    * edges, and three anti-joins to kill dead triangles — all keyed
    * joins and aggs, no nested loops. Rounds are data-dependent (each
    * must remove ≥ 1 edge to continue, so ≤ |E|; low tens on real
    * graphs — support of surviving edges only falls, so peeling is
    * monotone).
    */
  def kTruss(undirected: DataFrame, k: Long): DataFrame = {
    val e0 = canonicalEdges(undirected).localCheckpoint(true)
    kTrussPeel(e0, triangleIndex(e0).localCheckpoint(true), k)
  }

  /** Canonical node-ordered distinct edges (lo < hi). */
  def canonicalEdges(undirected: DataFrame): DataFrame =
    undirected
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .filter(col("lo") < col("hi")).distinct()

  /** The triangle INDEX of a canonical edge set: every triangle carried
    * as its three canonical edges — enumerated once with the q128
    * degree-ordered wedge machinery (fanout bounded by degeneracy).
    * Split out of [[kTruss]] so the index can be PERSISTED and reused
    * across runs (q78/q125 accounting: an index is built once, queried
    * many times — q141 re-built this list on every bench pass, the
    * dominant share of its 6.4 s in BENCH_r05).
    */
  def triangleIndex(e0: DataFrame): DataFrame = {
    val und = e0.select(col("lo").as("src"), col("hi").as("dst"))
      .unionByName(e0.select(col("hi").as("src"), col("lo").as("dst")))
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val ranked = und
      .join(deg.select(col("node").as("src"), col("d").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("d").as("dd")), "dst")
      .filter(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src").as("wlo"), col("dst").as("whi"))
    // wedge hi-endpoints compare by node id → (b, c) is node-ordered
    val wedges = ranked.as("e1")
      .join(ranked.as("e2"), col("e1.wlo") === col("e2.wlo") &&
        col("e1.whi") < col("e2.whi"))
      .select(col("e1.wlo").as("a"), col("e1.whi").as("b"),
        col("e2.whi").as("c"))
    wedges
      .join(e0.select(col("lo").as("b"), col("hi").as("c")), Seq("b", "c"))
      .select(least(col("a"), col("b")).as("l1"),
        greatest(col("a"), col("b")).as("h1"),
        least(col("a"), col("c")).as("l2"),
        greatest(col("a"), col("c")).as("h2"),
        col("b").as("l3"), col("c").as("h3"))
  }

  /** The k-truss peeling loop over a prebuilt triangle index:
    * triangles are enumerated once (see [[triangleIndex]]), then
    * MAINTAINED: a triangle dies exactly when one of its edges peels,
    * and the peeled set is small after the first round — so each round
    * prunes the alive-triangle list with three anti-joins against the
    * broadcast removed-edge frame instead of re-running the wedge join.
    * This is the classic time/space trade of truss decomposition: the
    * triangle list (≤ degeneracy × |E|) is materialized; when that is
    * too big to hold, fall back to per-round support recompute.
    */
  def kTrussPeel(e0: DataFrame, triIndex: DataFrame, k: Long): DataFrame = {
    require(k >= 3L, s"k-truss needs k >= 3, got $k")
    var tri = triIndex
    var edges = e0
    // support of the given edge frame against the current alive triangles
    def peelOnce(es: DataFrame): DataFrame = {
      val sup = tri.select(explode(array(
          struct(col("l1").as("lo"), col("h1").as("hi")),
          struct(col("l2").as("lo"), col("h2").as("hi")),
          struct(col("l3").as("lo"), col("h3").as("hi")))).as("e"))
        .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
        .groupBy(col("lo"), col("hi")).agg(count(lit(1)).as("sup"))
      es.join(sup, Seq("lo", "hi"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= k - 2)
        .select(col("lo"), col("hi"))
    }
    // Nothing is released here: a round's only action counts `removed`,
    // which reads `kept` through the anti-join alone, so no action is
    // known to read every partition of `kept` (the Rounds release rule).
    Rounds.loop("ktruss", Int.MaxValue) { round =>
      // TWO peels per materialization: the second reads support against
      // the triangles alive BEFORE the first peel's removals — an
      // overestimate, so it can only DELAY a removal to the next pair,
      // never remove a truss edge; the fixpoint is the exact one, and
      // termination (a pair removing nothing) implies the first,
      // exact-state peel removed nothing. Halves the per-peel
      // checkpoint+count jobs, the dominant loop cost at catalog scale.
      // Lazy truncation (r16): the removed.count() action materializes
      // kept and removed in ONE job.
      val kept = Rounds.truncate(peelOnce(peelOnce(edges)), eager = false)
      val removed = Rounds.truncate(
        edges.join(kept, Seq("lo", "hi"), "left_anti"), eager = false)
      val removedN = removed.count()
      edges = kept
      if (removedN > 0) {
        // removedN is an exact count: broadcast the pruning side when it
        // fits, fall back to shuffled anti-joins on a massive first peel
        val r = if (removedN <= 2000000L) broadcast(removed) else removed
        tri = tri
          .join(r.select(col("lo").as("l1"), col("hi").as("h1")),
            Seq("l1", "h1"), "left_anti")
          .join(r.select(col("lo").as("l2"), col("hi").as("h2")),
            Seq("l2", "h2"), "left_anti")
          .join(r.select(col("lo").as("l3"), col("hi").as("h3")),
            Seq("l3", "h3"), "left_anti")
        // broadcast anti-joins are map-side, so tri can stay LAZY —
        // each round's support scan replays the accumulated prunes as
        // hash probes over the last checkpoint. Truncate every other
        // round to bound plan depth (and drop spent broadcasts): the
        // eager per-round materialization was the dominant cost of the
        // whole loop at catalog scale.
        if (round % 2 == 0) tri = Rounds.truncate(tri, eager = true)
      }
      removedN == 0
    }
    edges
  }

  /** Deterministic fixed-length random walks from every node — the
    * DeepWalk/node2vec corpus generator: each walk's node sequence
    * becomes a "sentence" for embedding training. The step rule is
    * derived, not drawn: at step t from node u on the walk started at
    * s, the next hop is neighbor index md5("walk:seed:s:t:u") mod
    * deg(u) in dst-sorted order — the q104/q111 salted-hash idiom, so
    * any engine (and the DuckDB oracle) reproduces the walks exactly,
    * while the index distribution is uniform per step like a real
    * random walk.
    *
    * Shape per step: TWO keyed equi-joins — frontier ⋈ degrees on the
    * current node (to compute the index), then ⋈ the rank-numbered
    * neighbor table on (node, rank) — no fanout: the rank join hits
    * exactly one neighbor row per walk. The degree and neighbor-rank
    * frames are loop-invariant, built once and persisted; walkLen is a
    * fixed small constant, so lineage stays shallow with no
    * checkpointing (the q110 pattern, not the q132 one). The
    * row_number ranking partitions by node — per-partition work is
    * bounded by max degree; at 100 TB you would bucket the neighbor
    * table on node (q80 layout) so every step's joins are
    * exchange-free on the big side.
    *
    * Returns (start, step, node): step 0 is the start itself, walks
    * from every node with ≥ 1 edge.
    */
  def randomWalks(undirected: DataFrame, walkLen: Int, seed: Long,
      release: Boolean = false): DataFrame = {
    require(walkLen >= 1, s"walkLen must be >= 1, got $walkLen")
    val edges = undirected.select(col("src"), col("dst")).distinct()
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val byNode = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val nbr = edges.withColumn("rn", row_number().over(byNode))
      .select(col("src").as("ncur"), col("dst"), col("rn"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var walk = deg.select(col("node").as("start"), col("node").as("cur"))
    var out = walk.select(col("start"), lit(0L).as("step"),
      col("cur").as("node"))
    val steps = scala.collection.mutable.ArrayBuffer[DataFrame]()
    Rounds.loop("random_walks", walkLen) { t =>
      val pick = pmod(
        conv(substring(md5(concat(lit(s"walk:$seed:"),
          col("start").cast("string"), lit(s":$t:"),
          col("cur").cast("string"))), 1, 8), 16, 10).cast("long"),
        col("deg")) + 1
      // persisted: each step feeds both the next hop and the output
      // union — uncached, step t would re-execute for every later
      // union branch (walkLen² joins instead of walkLen)
      walk = walk
        .join(deg.select(col("node").as("cur"), col("deg")), "cur")
        .withColumn("pick", pick)
        .join(nbr, col("cur") === col("ncur") && col("pick") === col("rn"))
        .select(col("start"), col("dst").as("cur"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      steps += walk
      out = out.unionByName(walk.select(col("start"),
        lit(t.toLong).as("step"), col("cur").as("node")))
      false
    }
    Rounds.finish(out, release, (steps :+ deg :+ nbr).toSeq: _*)
  }

  /** q142: length-5 walk corpus over the q129 shared-customer supplier
    * graph, seed 42 — every position of every walk, hash-checked: the
    * DuckDB oracle replays the identical md5 step arithmetic over the
    * same ROW_NUMBER-ranked neighbor lists.
    */
  val q142: QueryDef = QueryDef.checked(
    "q142_random_walks",
    {
      // NB the outer template runs stripMargin over the composed text,
      // so no continuation line here may begin with the `||` operator
      val steps = (1 to 5).map { t =>
        s"""w$t AS MATERIALIZED (
           |  SELECT w.start, n.dst AS cur FROM w${t - 1} w
           |  JOIN deg d ON d.src = w.cur
           |  JOIN nbr n ON n.src = w.cur AND n.rn = 1 +
           |    (('0x' || substring(md5('walk:42:' || CAST(w.start AS VARCHAR) ||
           |      ':$t:' || CAST(w.cur AS VARCHAR)), 1, 8))::BIGINT % d.deg))"""
          .stripMargin
      }.mkString(",\n")
      val levels = (0 to 5).map(t =>
        s"SELECT start, CAST($t AS BIGINT) AS step, cur AS node FROM w$t")
        .mkString("\nUNION ALL ")
      s"""WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderkey < 2000),
        |half AS MATERIALIZED (
        |  SELECT DISTINCT a.s AS x, b.s AS y FROM pairs a JOIN pairs b
        |  ON a.c = b.c AND a.s < b.s),
        |und AS MATERIALIZED (SELECT x AS src, y AS dst FROM half
        |  UNION ALL SELECT y, x FROM half),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM und GROUP BY 1),
        |nbr AS MATERIALIZED (SELECT src, dst,
        |  ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn FROM und),
        |w0 AS (SELECT src AS start, src AS cur FROM deg),
        |$steps
        |${levels}
        |ORDER BY start, step""".stripMargin
    }) { (s, d) =>
    randomWalks(coPurchaseEdges(s, d), walkLen = 5, seed = 42L)
      .orderBy(col("start"), col("step"))
  }

  /** Multi-source BFS: exact hop distances from each landmark to every
    * node reachable within `maxDepth` hops — the landmark-distance
    * features used for graph embeddings and reachability scoring.
    * `maxDepth` is part of the SEMANTICS (a truncated BFS), not a
    * convergence knob, so the loop is a fixed unroll like [[pageRank]],
    * no data-dependent rounds.
    *
    * Frontier-style expansion: each round joins only the nodes FIRST
    * discovered last round against the edge list (one keyed equi-join),
    * then an anti-join drops already-seen (landmark, node) pairs —
    * distances are final on first discovery, the BFS invariant, so no
    * min-agg over the whole distance table is ever needed. Each round's
    * frontier is eagerly localCheckpoint'd: the frontier feeds BOTH the
    * next expansion and the distance union, so left lazy the logical
    * plan nests every earlier round twice and grows EXPONENTIALLY in
    * depth (measured at 6 rounds: 9 s of driver-side analysis before
    * any task ran, execution divergent) — the q132 lesson applied to a
    * fixed unroll. The distance table is then just a union of
    * checkpointed leaves (plan linear in depth); the edge list is
    * persisted once. At 100 TB: both joins key on node ids; bucket the
    * edge list (q80) to make the per-round expansion exchange-free on
    * the big side.
    *
    * Returns (lm, node, dist), dist ∈ [0, maxDepth].
    */
  def bfsDistances(undirected: DataFrame, landmarks: DataFrame,
      maxDepth: Int, release: Boolean = false): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val edges = undirected.select(col("src"), col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = Rounds.truncate(landmarks.select(col("lm"), col("lm").as("node"),
        lit(0L).as("dist")), eager = true)
    var frontier = dist.select(col("lm"), col("node"))
    // every layer stays in `dist`: nothing is released
    Rounds.loop("bfs_distances", maxDepth) { t =>
      val expanded = frontier
        .join(edges, col("node") === col("src"))
        .select(col("lm"), col("dst").as("node")).distinct()
      val novel = Rounds.truncate(
        expanded.join(dist, Seq("lm", "node"), "left_anti")
          .select(col("lm"), col("node"), lit(t.toLong).as("dist")),
        eager = true)
      dist = dist.unionByName(novel)
      frontier = novel.select(col("lm"), col("node"))
      false
    }
    Rounds.finish(dist, release, edges)
  }

  /** q144: hop distances from the three lowest-id vectors over the
    * q127 similarity graph, capped at 6 hops — hash-checked against a
    * 6-round unrolled min-distance recurrence (Bellman-Ford style: the
    * oracle's min over all ≤t-hop paths equals BFS first-discovery
    * depth, so the two formulations agree exactly).
    */
  val q144: QueryDef = QueryDef.checked(
    "q144_bfs_landmarks",
    {
      val rounds = (1 to 6).map { t =>
        s"""d$t AS MATERIALIZED (
           |  SELECT lm, node, MIN(dist) AS dist FROM (
           |    SELECT lm, node, dist FROM d${t - 1}
           |    UNION ALL
           |    SELECT d.lm, e.dst AS node, d.dist + 1 AS dist
           |    FROM d${t - 1} d JOIN und e ON e.src = d.node
           |    WHERE d.dist = ${t - 1}) GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |     / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.3),
        |und AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM e0
        |  UNION ALL SELECT ib, ia FROM e0),
        |lms AS (SELECT DISTINCT src AS lm FROM und ORDER BY 1 LIMIT 3),
        |d0 AS (SELECT lm, lm AS node, CAST(0 AS BIGINT) AS dist FROM lms),
        |$rounds
        |SELECT lm, node, dist FROM d6 ORDER BY lm, node""".stripMargin
    }) { (s, d) =>
    // memoized corpus graph (built once per JVM) — the parquet re-read
    // feeds both the landmark pick and the BFS edge frame cheaply
    val und = similarityEdges(s, d, 0.3)
    val lms = und.select(col("src").as("lm")).distinct()
      .orderBy(col("lm")).limit(3)
    bfsDistances(und, lms, maxDepth = 6)
      .orderBy(col("lm"), col("node"))
  }

  /** q137: core numbers of the q127 similarity graph — ORACLE-CHECKED
    * since round 7 via the q132 generous-unroll argument: the Spark
    * side iterates the h-index recurrence to an exact fixpoint
    * (data-dependent rounds), and because the iteration is MONOTONE
    * NON-INCREASING with a stable fixpoint (Lü et al. 2016 — the
    * h-index of converged neighbor values reproduces the value),
    * post-fixpoint rounds are no-ops and a fixed unroll PAST the
    * fixpoint compares equal. 32 unrolled rounds vs a measured
    * fixpoint of 8 at sf0.01 (4x margin; the oracle only ever runs at
    * the driver's sf0.01/sf0.001 gate scales — bench scales skip it); MATERIALIZED per round (each round
    * references the previous twice). GraphEdgeSpec keeps the
    * sequential Matula–Beck equality on random graphs and the q132
    * k-core membership consistency.
    */
  val q137: QueryDef = QueryDef.checked(
    "q137_coreness",
    {
      val rounds = (1 to 32).map { i =>
        s"""v$i AS MATERIALIZED (
           |  SELECT node, COALESCE(MAX(CASE WHEN val >= rn THEN rn END), 0)
           |    AS val
           |  FROM (
           |    SELECT e.src AS node, p.val,
           |      row_number() OVER (PARTITION BY e.src ORDER BY p.val DESC)
           |        AS rn
           |    FROM edges e JOIN v${i - 1} p ON e.dst = p.node)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |     / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.3),
        |edges AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM e0
        |  UNION ALL SELECT ib, ia FROM e0),
        |v0 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS val
        |  FROM edges GROUP BY 1),
        |$rounds
        |SELECT node, CAST(val AS BIGINT) AS core FROM v32
        |ORDER BY node""".stripMargin
    }) { (s, d) =>
    coreness(similarityEdges(s, d, 0.3)).orderBy(col("node"))
  }

  /** q132: the 3-core of the q127 cosine-similarity graph — the
    * well-connected embedding neighborhoods, with sparse fringe vectors
    * peeled away. The Spark side runs the convergence loop to an exact
    * fixpoint; the oracle unrolls 12 peeling rounds, which is PAST the
    * measured fixpoint at every oracle scale (9 rounds at sf0.01, 11 at
    * sf0.001, 1 at sf0.1) — peeling is monotone, so post-fixpoint
    * rounds are no-ops and the generous unroll compares equal.
    */
  val q132: QueryDef = QueryDef.checked(
    "q132_kcore",
    {
      // MATERIALIZED is load-bearing: each round references the previous
      // one three times (edge frame + both keep-join sides), so default
      // CTE inlining would expand g12 into 3^12 scans of the base table
      val rounds = (1 to 12).map { i =>
        s"""k$i AS MATERIALIZED (SELECT src AS node FROM g${i - 1} GROUP BY 1 HAVING COUNT(*) >= 3),
           |g$i AS MATERIALIZED (SELECT e.src, e.dst FROM g${i - 1} e
           |  JOIN k$i a ON e.src = a.node JOIN k$i b ON e.dst = b.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |     / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.3),
        |g0 AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM e0
        |  UNION ALL SELECT ib, ia FROM e0),
        |$rounds
        |SELECT src AS node, COUNT(*) AS deg FROM g12
        |GROUP BY 1 ORDER BY node""".stripMargin
    }) { (s, d) =>
    kCore(similarityEdges(s, d, 0.3), k = 3L).orderBy(col("node"))
  }

  /** q141: the 5-truss of the threshold-0.2 similarity graph — tighter
    * than q132's core (every surviving EDGE sits in ≥ 3 triangles, so
    * hub-and-spoke stars that survive a k-core are peeled). The 0.2
    * threshold is deliberate: the 0.3 graph's 4-truss is EMPTY at every
    * oracle scale (measured), so this query would certify nothing
    * there; at 0.2 the peel cascades 13–14 rounds before the fixpoint.
    * The vec_id < 1000 slice bounds the sf0.1 bench cost the q136
    * event-slice way. Oracle unrolls 17 MATERIALIZED
    * triangle-support/filter rounds — past the measured fixpoint at
    * both oracle scales (13 at sf0.001, 14 at sf0.01; peeling is
    * monotone, so the extra rounds are no-ops and compare equal).
    */
  val q141: QueryDef = QueryDef.checked(
    "q141_ktruss",
    {
      // same MATERIALIZED discipline as q132: each round reads the
      // previous edge set four times (three triangle sides + the
      // filter), so inlined CTEs would be 4^17 scans
      val rounds = (1 to 17).map { i =>
        s"""t$i AS MATERIALIZED (
           |  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
           |  FROM g${i - 1} e1 JOIN g${i - 1} e2
           |    ON e1.lo = e2.lo AND e1.hi < e2.hi
           |  JOIN g${i - 1} e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
           |s$i AS MATERIALIZED (
           |  SELECT lo, hi, COUNT(*) AS sup FROM (
           |    SELECT a AS lo, b AS hi FROM t$i
           |    UNION ALL SELECT a, c FROM t$i
           |    UNION ALL SELECT b, c FROM t$i) GROUP BY 1, 2),
           |g$i AS MATERIALIZED (
           |  SELECT g.lo, g.hi FROM g${i - 1} g LEFT JOIN s$i s USING (lo, hi)
           |  WHERE COALESCE(s.sup, 0) >= 3)""".stripMargin
      }.mkString(",\n")
      s"""WITH g0 AS MATERIALIZED (
        |  SELECT a.vec_id AS lo, b.vec_id AS hi
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 1000 AND b.vec_id < 1000
        |    AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |     / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.2),
        |$rounds
        |SELECT lo, hi FROM g17 ORDER BY 1, 2""".stripMargin
    }) { (s, d) =>
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 1000)
      .select(col("vec_id"), VF.asDoubleDense(col("embedding")).as("v"))
    // Persisted triangle index (q78/q125 accounting): the O(n²) edge
    // build + wedge enumeration are a deterministic function of the
    // corpus, so they are built once per (corpus, threshold) per JVM
    // and parquet-backed under fmtRoot; every run re-reads the index
    // and pays only the peel — the ingest-shaped cost a persistent
    // index exists to isolate.
    val root = trussMemo.computeIfAbsent(s"$d#0.2",
      k => Exact.memoBuild(s"tri#$k") {
      val tmp = java.nio.file.Files
        .createTempDirectory(Exact.fmtRoot, "tri_").toAbsolutePath.toString
      val e0 = canonicalEdges(cosineEdgesExact(e, 0.2))
        .persist(StorageLevel.MEMORY_AND_DISK)
      e0.write.mode("overwrite").parquet(s"$tmp/edges")
      triangleIndex(e0).write.mode("overwrite").parquet(s"$tmp/tri")
      e0.unpersist()
      tmp
    })
    kTrussPeel(s.read.parquet(s"$root/edges"), s.read.parquet(s"$root/tri"),
      k = 5L).orderBy(col("lo"), col("hi"))
  }

  /** Per-JVM memo of persisted triangle-index locations keyed by
    * (corpus dir, threshold) — see the q141 body note.
    */
  private val trussMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q129: related suppliers by shared-customer overlap (≥3 common
    * neighbors on the q128 graph), hash-checked — counts and ppm
    * scores — against the same wedge arithmetic in DuckDB.
    */
  val q129: QueryDef = QueryDef.checked(
    "q129_neighbor_overlap",
    """WITH pairs AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderkey < 2000),
      |half AS (
      |  SELECT DISTINCT a.s AS x, b.s AS y FROM pairs a JOIN pairs b
      |  ON a.c = b.c AND a.s < b.s),
      |und AS (SELECT x AS src, y AS dst FROM half
      |  UNION ALL SELECT y, x FROM half),
      |deg AS (SELECT src AS node, COUNT(*) AS d FROM und GROUP BY 1),
      |inter AS (
      |  SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS shared
      |  FROM und e1 JOIN und e2 ON e1.src = e2.src AND e1.dst < e2.dst
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT a, b, shared, da.d + db.d - shared AS unions,
      |  CAST(ROUND(1000000.0 * shared / (da.d + db.d - shared)) AS BIGINT)
      |    AS jaccard_ppm
      |FROM inter JOIN deg da ON inter.a = da.node
      |JOIN deg db ON inter.b = db.node
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    neighborOverlap(coPurchaseEdges(s, d), minShared = 3L)
      .orderBy(col("a"), col("b"))
  }

  /** The DIRECTED edge base for the SCC/reachability family: the
    * activity-handoff digraph over `events`. Within every
    * (event_type, hour) group, users ordered by (first event time,
    * user_id) link in handoff order — each user's first appearance
    * points at the next user to act. Direction is real (time flows
    * forward inside a group; cycles only arise when users trade places
    * across groups), which is what makes SCC non-degenerate here,
    * unlike the symmetrized trade graph (q110) where SCC = WCC by
    * construction.
    *
    * `maxEventId` bounds the slice (the q136 event-slice discipline) and
    * `hrMod` keeps every `hrMod`-th hour — the sparsifier is part of the
    * declared semantics, chosen so the SCC structure is NON-TRIVIAL at
    * the oracle scales (sf0.01: a 71-node giant component, a 4-cycle,
    * and ~48 singletons; dense handoff graphs collapse to one giant SCC
    * and would certify nothing — the q141 threshold lesson).
    *
    * Shape: one (type, hr, user) agg + one (type, hr)-keyed window +
    * distinct — all shuffles on fine-grained keys; no joins. At 100 TB
    * the group key (type, hr) is the natural partition and no group
    * outlives its hour.
    */
  /** The symmetrized handoff graph plus its build-once memo key — the
    * ONE frame the articulation/bridge/biconnected/2ECC/modularity
    * family (q176/q181/q183/q199/q254) reads. A single definition keeps
    * every exclusionMemo/twoEcMemo consumer keyed over identical graph
    * semantics: a divergent copy would silently read an index built
    * from a different graph.
    */
  // Catalog EDGE FRAMES memoized like the indexes built over them
  // (exclusionMemo/twoEcMemo discipline): the handoff and co-purchase
  // graphs are node/edge-sized but their CONSTRUCTION is a full base-
  // table scan + shuffles, and consumers read the frame several times
  // per query (modularityProfile alone reads its edges three subtrees
  // deep — pre-memo, q199 recomputed the events pipeline per subtree
  // and measured a consistent ~1.8× over its pin; the round-12 full-run
  // letter flagged the whole q128/q199/q208 cohort). One localCheckpoint
  // per (graph, session), itemized in the setup ledger.
  private val edgeFrameMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** The six session-scoped memo maps, registered for end-of-context
    * eviction (see [[sessionSuffix]]).
    */
  private lazy val sessionScopedMemos: Seq[java.util.concurrent.ConcurrentHashMap[String, _]] =
    Seq(edgeFrameMemo, closureMemo, layersMemo, exclusionMemo,
      twoEcMemo, blockMemo)

  private val memoCleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Session-scoped memo key suffix with LIFECYCLE: frames memoized
    * under a stopped session are unusable (their checkpointed RDDs died
    * with the context), so the first suffix request per session
    * registers a CONTEXT-end listener that purges every entry carrying
    * this session's suffix from all six maps. The guarantee is
    * cross-CONTEXT: the maps cannot accumulate frames across stopped
    * SparkContexts, and a GC-recycled identity hash cannot alias a dead
    * context's frame into a later context (ADVICE r12) — the purge runs
    * at context end, before any session of a NEW context could collide
    * on the hash. Within one long-lived context, sessions created and
    * discarded (`newSession`) keep their entries until context end —
    * their checkpointed RDDs are still alive and correct there (memos
    * key on the DATA, suffixed per session only for isolation), so this
    * is retention, not staleness; intra-context session churn at scale
    * should reuse one session per graph workload (ADVICE r13).
    */
  private def sessionSuffix(s: org.apache.spark.sql.SparkSession): String = {
    val h = System.identityHashCode(s)
    if (memoCleanupRegistered.add(h)) {
      val suffix = s"#$h"
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          sessionScopedMemos.foreach(_.keySet.removeIf(_.endsWith(suffix)))
          memoCleanupRegistered.remove(h)
        }
      })
    }
    s"#$h"
  }

  private def memoEdgeFrame(s: org.apache.spark.sql.SparkSession,
      key: String)(build: => DataFrame): DataFrame =
    edgeFrameMemo.computeIfAbsent(
      s"$key${sessionSuffix(s)}",
      _ => Exact.memoBuild(key)(build.localCheckpoint(true)))

  private def handoffUndirected(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, Option[String]) = {
    val und = memoEdgeFrame(s, s"und#$d#handoff") {
      val e = handoffEdges(Tables.events(s, d))
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    }
    (und, Some(s"$d#handoff-und"))
  }

  def handoffEdges(events: DataFrame, maxEventId: Long = 2000L,
      hrMod: Long = 7L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("hr"))
      .orderBy(col("fts"), col("user_id"))
    events.filter(col("event_id") < maxEventId)
      .select(col("event_type"),
        expr("ts_ns div 1000 div 3600000000").as("hr"),
        col("user_id"), expr("ts_ns div 1000").as("ts_us"))
      .filter(expr(s"hr % $hrMod = 0"))
      .groupBy(col("event_type"), col("hr"), col("user_id"))
      .agg(min(col("ts_us")).as("fts"))
      .withColumn("dst", lead(col("user_id"), 1).over(w))
      .filter(col("dst").isNotNull && col("dst") =!= col("user_id"))
      .select(col("user_id").as("src"), col("dst"))
      .distinct()
  }

  /** q156: the handoff digraph itself under the oracle — the declared
    * (src, dst) frame q157's SCC (and any future reachability /
    * topological query) builds on, hash-checked edge for edge.
    */
  val q156: QueryDef = QueryDef.checked(
    "q156_handoff_edges",
    """WITH firsts AS (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |edges AS (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id)
      |SELECT src, dst FROM edges ORDER BY src, dst""".stripMargin) { (s, d) =>
    handoffEdges(Tables.events(s, d)).orderBy(col("src"), col("dst"))
  }

  /** Strongly connected components of a directed edge list — the
    * coloring / forward-backward algorithm (Orzan's coloring; the
    * FW-BW root certification), expressed as per-node-VALUE fixpoints
    * (the q137 lesson: never per-level peeling loops):
    *
    *  1. forward color fixpoint: color(v) := max(v, colors of
    *     in-neighbors) until stable ⇒ color(v) = the max node id that
    *     can reach v. Every member of one SCC ends with the SAME color
    *     (mutual reachability ⇒ identical reacher sets).
    *  2. roots: nodes with color(v) = v. Backward fixpoint from all
    *     roots AT ONCE, restricted to each root's color class: u joins
    *     when an out-edge leads to a claimed node of u's color. Claimed
    *     u reaches its root r (induction along the backward step) and r
    *     reaches u (color(u) = r), so the claimed set is EXACTLY the
    *     root's SCC — never a superset, the property that makes this
    *     exact rather than the (fwd,bwd)-label-pair heuristic, which
    *     mislabels sibling nodes pinched between the same two hubs.
    *  3. claimed SCCs leave the graph; nodes whose every edge vanished
    *     are singleton SCCs by construction (a ≥2-node SCC keeps its
    *     internal edges until claimed together). Repeat on the residue;
    *     every round claims at least the global max id's SCC, so the
    *     loop terminates.
    *
    * scc_id = min member id (engine-independent canonical label).
    *
    * Scale shape: every step is an equi-join on node keys + a keyed agg
    * — no all-pairs, no driver-side graph state; per-round frames are
    * localCheckpoint'd so lineage stays constant (the q132/q144
    * discipline), and the loop-invariant edge frame re-checkpoints only
    * when the residue shrinks. This is the 100 TB shape (state linear
    * in nodes; bucket the edge list, q80/q133, and the per-round join
    * side is exchange-free) — but rounds are bounded by diameter ×
    * root-peeling depth, which on long singleton CHAINS (the handoff
    * graph's DAG residue) runs to dozens of rounds; the catalog query
    * therefore uses [[sccByClosure]], the log-round exact path, and
    * SccSpec pins the two equal.
    *
    * Returns (node, scc_id) for every node with at least one edge (the
    * [[kCore]] convention; isolated nodes carry no rows).
    */
  def stronglyConnectedComponents(edges0: DataFrame): DataFrame = {
    var edges = Rounds.truncate(
      edges0.select(col("src"), col("dst")).distinct(), eager = true)
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    Rounds.loop("scc", Int.MaxValue) { _ =>
      edges.count() == 0 || {
        val nodes = Rounds.truncate(edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node"))).distinct(), eager = true)
        // 1. forward max-color fixpoint; `prev` is the previous round's
        // color, so a round that changes no color is the fixpoint
        val colored = Rounds.fixpoint("scc_color",
            Rounds.truncate(nodes.withColumn("color", col("node")), eager = true),
            eager = true) { c =>
          val pushed = edges
            .join(c.select(col("node").as("src"), col("color").as("c")),
              Seq("src"))
            .groupBy(col("dst").as("node")).agg(max(col("c")).as("in_max"))
          c.select(col("node"), col("color").as("prev"))
            .join(pushed, Seq("node"), "left")
            .select(col("node"), col("prev"),
              greatest(col("prev"), coalesce(col("in_max"), col("prev")))
                .as("color"))
        } { (_, next) => next.filter(col("color") =!= col("prev")).count() == 0 }
        val color = colored.select(col("node"), col("color"))
        // 2. backward claim from all roots at once, within color classes
        val claimed = Rounds.fixpoint("scc_claim",
            Rounds.truncate(color.filter(col("color") === col("node"))
              .select(col("node"), col("color")), eager = true),
            eager = true) { claimed =>
          val step = edges
            .join(claimed.select(col("node").as("dst"), col("color").as("cc")),
              Seq("dst"))
            .select(col("src").as("node"), col("cc")).distinct()
          val cand = step.join(color, Seq("node"))
            .filter(col("color") === col("cc"))
            .select(col("node"), col("color"))
          claimed.union(cand).distinct()
        } { (prev, next) => prev.count() == next.count() }
        // scc_id = min member id within each claimed color class
        val ids = claimed.groupBy(col("color")).agg(min(col("node")).as("scc_id"))
        val assigned = Rounds.truncate(claimed.join(ids, Seq("color"))
          .select(col("node"), col("scc_id")), eager = true)
        // 3. drop claimed nodes; edge-stripped leftovers are singletons
        val done = assigned.select(col("node"))
        val residue = Rounds.truncate(edges
          .join(done.withColumnRenamed("node", "src"), Seq("src"), "left_anti")
          .join(done.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti"),
          eager = true)
        val still = residue.select(col("src").as("node"))
          .union(residue.select(col("dst").as("node"))).distinct()
        val orphans = Rounds.truncate(nodes.join(done, Seq("node"), "left_anti")
          .join(still, Seq("node"), "left_anti")
          .select(col("node"), col("node").as("scc_id")), eager = true)
        parts += assigned += orphans
        Rounds.release(edges, nodes, colored, claimed)
        edges = residue
        false
      }
    }
    // empty input = empty result with the output schema, not null (the
    // sccByClosure convention — the two documented-equivalent paths
    // must agree on every input)
    parts.reduceOption(_ union _).getOrElse(
      edges.select(col("src").as("node"), col("src").as("scc_id")).limit(0))
  }

  /** SCC by closure DOUBLING — the fast exact path for graphs whose
    * reachability closure is bounded (event/session digraphs like
    * q156's, whose closure is ~|giant SCC|² + fringe): iterate
    * R := R ∪ (R ∘ R) from the edge list, reaching the full transitive
    * closure in ⌈log₂ diameter⌉ rounds instead of the coloring loop's
    * diameter rounds — the difference is decisive on high-diameter
    * chain residues (the handoff graph's singleton chains run ~50 deep
    * at sf0.1: 5 squaring rounds vs ~50 propagation rounds). SCC then
    * falls out row-locally: mutual = R ∩ reverse(R), scc_id = min
    * mutual partner (∪ self).
    *
    * The trade is explicit: state is REACHABILITY PAIRS, quadratic in
    * component size in the worst case — on an adversarial
    * dense-reachability graph at 100 TB use
    * [[stronglyConnectedComponents]] (node-keyed state, linear) and pay
    * diameter rounds; SccSpec pins the two equal on random digraphs,
    * planted shapes, and the catalog graph.
    */
  def sccByClosure(edges0: DataFrame): DataFrame =
    closureFrames(edges0)._3

  /** Per-(key, session) memo of the closure frames — the reachability
    * INDEX of a declared graph, built once and read by every query over
    * it (q157 SCC, q159 condensation; the q78/q125/q141 build-once
    * accounting). Checkpointed blocks survive `clearCache()` (they are
    * not catalog cache entries), so bench passes pay the readout, not
    * the doubling loop. Keyed by the owning session too: frames are
    * session-bound, so a fresh session rebuilds rather than resolving
    * another session's plan.
    */
  private val closureMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (DataFrame, DataFrame, DataFrame)]()

  private def closureFramesMemo(edges0: DataFrame, key: String)
      : (DataFrame, DataFrame, DataFrame) =
    closureMemo.computeIfAbsent(
      s"$key${sessionSuffix(edges0.sparkSession)}",
      k => Exact.memoBuild(s"closure#$k")(closureFrames(edges0)))

  /** The doubling loop shared by [[sccByClosure]] and the q159
    * condensation profile: returns (nodes, reach = full transitive
    * closure, scc assignment), each checkpointed.
    */
  private def closureFrames(edges0: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val edges = edges0.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val init = Rounds.truncate(
      edges.select(col("src").as("a"), col("dst").as("b")), eager = true)
    var size = init.count()
    val reach = Rounds.fixpoint("closure", init, eager = true) { reach =>
      val step = reach.as("r1")
        .join(reach.as("r2"), col("r1.b") === col("r2.a"))
        .select(col("r1.a").as("a"), col("r2.b").as("b"))
      reach.union(step).distinct()
    } { (_, next) =>
      val before = size
      size = next.count()
      size == before
    }
    val mutual = reach.intersect(
      reach.select(col("b").as("a"), col("a").as("b")))
    val scc = nodes
      .join(mutual.groupBy(col("a").as("node")).agg(min(col("b")).as("m")),
        Seq("node"), "left")
      .select(col("node"),
        least(col("node"), coalesce(col("m"), col("node"))).as("scc_id"))
      .localCheckpoint(true)
    (nodes, reach, scc)
  }

  /** Condensation profile: collapse the digraph to its SCC condensation
    * DAG and report, per component, its size and how it sits in the
    * partial order — the number of OTHER components that can reach it
    * (ancestors) and that it can reach (descendants). n_ancestors = 0
    * reads "source component" (fresh activity entering the handoff
    * flow), n_descendants = 0 "sink component"; the counts are the
    * closure-based topological rank, computed in one shot from the
    * doubling loop's reach frame instead of a depth-bounded layer
    * iteration (which would re-pay the chain-diameter round count the
    * closure path exists to avoid).
    */
  def condensationProfile(edges0: DataFrame,
      memoKey: Option[String] = None): DataFrame = {
    val (_, reach, scc) = memoKey match {
      case Some(k) => closureFramesMemo(edges0, k)
      case None => closureFrames(edges0)
    }
    // scc is node-sized (≪ reach, the closure): broadcast both lookups
    // so lifting the closure to component pairs never shuffles reach
    val lifted = reach
      .join(broadcast(scc.select(col("node").as("a"), col("scc_id").as("sa"))),
        Seq("a"))
      .join(broadcast(scc.select(col("node").as("b"), col("scc_id").as("sb"))),
        Seq("b"))
      .filter(col("sa") =!= col("sb"))
      .select(col("sa"), col("sb")).distinct()
      .localCheckpoint(true)
    scc.groupBy(col("scc_id")).agg(count(lit(1)).as("n_nodes"))
      .join(broadcast(lifted.groupBy(col("sb").as("scc_id"))
        .agg(count(lit(1)).as("n_ancestors"))), Seq("scc_id"), "left")
      .join(broadcast(lifted.groupBy(col("sa").as("scc_id"))
        .agg(count(lit(1)).as("n_descendants"))), Seq("scc_id"), "left")
      .select(col("scc_id"), col("n_nodes"),
        coalesce(col("n_ancestors"), lit(0L)).as("n_ancestors"),
        coalesce(col("n_descendants"), lit(0L)).as("n_descendants"))
  }

  /** q157: SCC assignment of the q156 handoff digraph, FULLY
    * oracle-checked: DuckDB computes the exact transitive closure with
    * a recursive CTE (fixpoint semantics, so no unroll-depth guess) and
    * labels each node with the min id over its mutual-reachability set
    * — node for node, hash-compared against [[sccByClosure]]'s doubling
    * loop (the same closure, reached in log rounds). SccSpec
    * additionally pins both Spark paths equal to a sequential Tarjan
    * reference on random digraphs and planted cycle/DAG shapes.
    */
  val q157: QueryDef = QueryDef.checked(
    "q157_scc",
    """WITH RECURSIVE firsts AS MATERIALIZED (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |nodes AS MATERIALIZED (
      |  SELECT src AS v FROM edges UNION SELECT dst FROM edges),
      |reach(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |mutual AS (
      |  SELECT r1.a AS v, r1.b AS w
      |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a)
      |SELECT n.v AS node, LEAST(n.v, COALESCE(MIN(m.w), n.v)) AS scc_id
      |FROM nodes n LEFT JOIN mutual m ON m.v = n.v
      |GROUP BY n.v ORDER BY node""".stripMargin) { (s, d) =>
    closureFramesMemo(handoffEdges(Tables.events(s, d)), s"$d#handoff")._3
      .orderBy(col("node"))
  }

  /** q159: condensation profile of the handoff digraph — per SCC its
    * size and ancestor/descendant component counts (closure-based
    * topological rank). Oracle: the q157 closure CTE lifted to SCC
    * pairs and counted, hash-checked per component.
    */
  val q159: QueryDef = QueryDef.checked(
    "q159_condensation",
    """WITH RECURSIVE firsts AS MATERIALIZED (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |nodes AS MATERIALIZED (
      |  SELECT src AS v FROM edges UNION SELECT dst FROM edges),
      |reach(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |mutual AS (
      |  SELECT r1.a AS v, r1.b AS w
      |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
      |scc AS MATERIALIZED (
      |  SELECT n.v AS node, LEAST(n.v, COALESCE(MIN(m.w), n.v)) AS scc_id
      |  FROM nodes n LEFT JOIN mutual m ON m.v = n.v GROUP BY n.v),
      |lifted AS MATERIALIZED (
      |  SELECT DISTINCT s1.scc_id AS sa, s2.scc_id AS sb
      |  FROM reach r JOIN scc s1 ON r.a = s1.node
      |  JOIN scc s2 ON r.b = s2.node
      |  WHERE s1.scc_id != s2.scc_id),
      |sizes AS (SELECT scc_id, COUNT(*) AS n_nodes FROM scc GROUP BY 1),
      |anc AS (SELECT sb AS scc_id, COUNT(*) AS n_anc FROM lifted GROUP BY 1),
      |des AS (SELECT sa AS scc_id, COUNT(*) AS n_des FROM lifted GROUP BY 1)
      |SELECT s.scc_id, s.n_nodes,
      |  COALESCE(anc.n_anc, 0) AS n_ancestors,
      |  COALESCE(des.n_des, 0) AS n_descendants
      |FROM sizes s LEFT JOIN anc USING (scc_id) LEFT JOIN des USING (scc_id)
      |ORDER BY scc_id""".stripMargin) { (s, d) =>
    condensationProfile(handoffEdges(Tables.events(s, d)),
        memoKey = Some(s"$d#handoff"))
      .orderBy(col("scc_id"))
  }

  /** Condensation DAG longest-path layers (critical-path depth): per
    * SCC, `layer` = the longest directed path (in condensation hops)
    * reaching it from anywhere — 0 reads "source component", and the
    * max layer is the pipeline's critical-path depth. Complements q159's
    * ancestor/descendant COUNTS with the partial order's DEPTH (counts
    * can't tell a wide shallow fan-in from a deep chain).
    *
    * Computed by MAX-PLUS DOUBLING on the lifted DIRECT edges:
    * L := maxd(L ∪ L∘L) reaches all-pairs longest path in ⌈log₂ depth⌉
    * rounds — the same log-vs-diameter trade as [[sccByClosure]] (a
    * per-layer relaxation loop would pay the ~50-round chain depth the
    * closure path exists to avoid), legitimate because max-plus over a
    * DAG is a closed semiring with finite closure. State is lifted
    * pairs, quadratic in component count worst-case — bounded-closure
    * graphs only; at 100 TB with a deep condensation, per-node
    * relaxation (linear state, depth rounds) is the fallback shape.
    */
  private val layersMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def condensationLayers(edges0: DataFrame,
      memoKey: Option[String] = None): DataFrame = {
    val (_, _, scc) = memoKey match {
      case Some(k) => closureFramesMemo(edges0, k)
      case None => closureFrames(edges0)
    }
    // The max-plus FIXPOINT is memoized alongside the closure it rides
    // on (the 2ec#/blocks# discipline): the loop's per-round cost is
    // dominated by fixed job latency (join + agg + checkpoint + a count
    // action per round), which re-running every bench pass charged to
    // the serving path — q178 measured a consistent ~2× its pin from
    // exactly this. One build per (graph, session), setup-itemized.
    def buildLp(): DataFrame = maxPlusClosure("dag_layers",
      liftedEdges(edges0, scc).withColumn("w", lit(1L)))
    val lp = memoKey match {
      case Some(k) => layersMemo.computeIfAbsent(
        s"$k#layers${sessionSuffix(edges0.sparkSession)}",
        mk => Exact.memoBuild(s"layers#$mk")(buildLp()))
      case None => buildLp()
    }
    scc.groupBy(col("scc_id")).agg(count(lit(1)).as("n_nodes"))
      .join(broadcast(lp.groupBy(col("sb").as("scc_id"))
        .agg(max(col("w")).as("in_depth"))), Seq("scc_id"), "left")
      .select(col("scc_id"), col("n_nodes"),
        coalesce(col("in_depth"), lit(0L)).as("layer"))
  }

  /** q178: critical-path layers of the handoff condensation DAG, FULLY
    * oracle-checked: DuckDB walks the lifted direct edges with a
    * recursive CTE whose UNION-deduped (component, depth) state is
    * bounded by components × depth (no path enumeration blowup), and
    * MAX(depth) per component is exactly the longest-path layer the
    * max-plus doubling computes.
    */
  val q178: QueryDef = QueryDef.checked(
    "q178_dag_layers",
    """WITH RECURSIVE firsts AS MATERIALIZED (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |nodes AS MATERIALIZED (
      |  SELECT src AS v FROM edges UNION SELECT dst FROM edges),
      |reach(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |mutual AS (
      |  SELECT r1.a AS v, r1.b AS w
      |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
      |scc AS MATERIALIZED (
      |  SELECT n.v AS node, LEAST(n.v, COALESCE(MIN(m.w), n.v)) AS scc_id
      |  FROM nodes n LEFT JOIN mutual m ON m.v = n.v GROUP BY n.v),
      |lifted AS MATERIALIZED (
      |  SELECT DISTINCT s1.scc_id AS sa, s2.scc_id AS sb
      |  FROM edges e JOIN scc s1 ON e.src = s1.node
      |  JOIN scc s2 ON e.dst = s2.node
      |  WHERE s1.scc_id != s2.scc_id),
      |paths(b, dd) AS (
      |  SELECT sb, 1 FROM lifted
      |  UNION
      |  SELECT l.sb, p.dd + 1 FROM paths p JOIN lifted l ON l.sa = p.b),
      |layer AS (SELECT b AS scc_id, MAX(dd) AS layer FROM paths GROUP BY 1),
      |sizes AS (SELECT scc_id, COUNT(*) AS n_nodes FROM scc GROUP BY 1)
      |SELECT s.scc_id, s.n_nodes, COALESCE(l.layer, 0) AS layer
      |FROM sizes s LEFT JOIN layer l USING (scc_id)
      |ORDER BY scc_id""".stripMargin) { (s, d) =>
    condensationLayers(handoffEdges(Tables.events(s, d)),
        memoKey = Some(s"$d#handoff"))
      .orderBy(col("scc_id"))
  }

  /** Bounded-horizon cheapest-path distances (min-plus doubling): for
    * every ordered pair reachable within ≤ 2^rounds edges, the minimum
    * total edge weight over such paths. The min-plus twin of the
    * closure doubling (q157) and the max-plus layers (q178):
    * D_{2k} = min(D_k, D_k ∘ D_k) with ∘ summing costs and min
    * deduplicating — each round ONE equi-join on the midpoint plus one
    * keyed min-agg, so an 8-edge horizon costs 3 rounds, not 8
    * Bellman-Ford sweeps (the chain-diameter lesson). Cycles are
    * harmless: positive weights mean revisits only lose, and min keeps
    * the cheapest. The bounded horizon is what keeps this exact AND
    * polynomial for the oracle (DuckDB replays the SAME three unrolled
    * doubling stages — no recursive path enumeration); state is the
    * within-horizon reachable pair set, near-linear on sparse graphs.
    * For the unbounded fixpoint, run the [[closureFrames]] discipline
    * with a cost-stability termination check instead of a fixed round
    * count.
    */
  def boundedMinPlusDistances(wedges: DataFrame, rounds: Int = 3,
      memoKey: Option[String] = None): DataFrame = {
    // Same fixed-job-latency story as condensationLayers: the doubling
    // rounds cost ~2 jobs + a checkpoint each, so re-running them every
    // bench pass charges ~6 jobs of latency to a serving path that is
    // logically an index read. Memoized per (graph, session) under the
    // layers#/2ec# discipline when the caller provides a key.
    def build(): DataFrame = {
      val d1 = Rounds.truncate(wedges
        .select(col("src").as("a"), col("dst").as("b"), col("w").as("d"))
        .groupBy(col("a"), col("b")).agg(min(col("d")).as("d")), eager = true)
      Rounds.iterate("minplus", d1, rounds) { (d, _) =>
        val step = d.as("x").join(d.as("y"), col("x.b") === col("y.a"))
          .select(col("x.a").as("a"), col("y.b").as("b"),
            (col("x.d") + col("y.d")).as("d"))
        d.unionAll(step).groupBy(col("a"), col("b")).agg(min(col("d")).as("d"))
      }
    }
    memoKey match {
      case Some(k) => layersMemo.computeIfAbsent(
        s"$k#minplus$rounds${sessionSuffix(wedges.sparkSession)}",
        mk => Exact.memoBuild(s"minplus#$mk")(build()))
      case None => build()
    }
  }

  /** q194: ≤8-hop cheapest handoff distances over the q156 digraph with
    * the deterministic integer weight w = 1 + (src+dst) % 5, pair for
    * pair (and cost for cost) hash-checked against DuckDB running the
    * identical three doubling stages unrolled as CTEs.
    */
  val q194: QueryDef = QueryDef.checked(
    "q194_minplus_distances",
    """WITH firsts AS MATERIALIZED (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |d1 AS (
      |  SELECT src AS a, dst AS b, MIN(1 + (src + dst) % 5) AS d
      |  FROM edges GROUP BY 1, 2),
      |d2 AS (
      |  SELECT a, b, MIN(d) AS d FROM (
      |    SELECT a, b, d FROM d1
      |    UNION ALL
      |    SELECT x.a, y.b, x.d + y.d FROM d1 x JOIN d1 y ON x.b = y.a)
      |  GROUP BY 1, 2),
      |d4 AS (
      |  SELECT a, b, MIN(d) AS d FROM (
      |    SELECT a, b, d FROM d2
      |    UNION ALL
      |    SELECT x.a, y.b, x.d + y.d FROM d2 x JOIN d2 y ON x.b = y.a)
      |  GROUP BY 1, 2),
      |d8 AS (
      |  SELECT a, b, MIN(d) AS d FROM (
      |    SELECT a, b, d FROM d4
      |    UNION ALL
      |    SELECT x.a, y.b, x.d + y.d FROM d4 x JOIN d4 y ON x.b = y.a)
      |  GROUP BY 1, 2)
      |SELECT a, b, d FROM d8 ORDER BY a, b""".stripMargin) { (s, d) =>
    val wedges = handoffEdges(Tables.events(s, d))
      .select(col("src"), col("dst"), expr("1 + (src + dst) % 5").as("w"))
    boundedMinPlusDistances(wedges, rounds = 3,
        memoKey = Some(s"$d#handoff-w"))
      .orderBy(col("a"), col("b"))
  }

  /** Articulation profile of an undirected graph: for every node x with
    * ≥2 distinct neighbors, the number of connected components its
    * removal splits its neighborhood into (`n_split`), and the derived
    * cut-vertex flag (`n_split ≥ 2`) — the single-point-of-failure /
    * community-bridge detector (x is an articulation point iff two of
    * its neighbors are not connected in G∖{x}; degree-≤1 nodes never
    * are).
    *
    * All |cand| removal subproblems run JOINTLY in one dataflow: the
    * seed is the edge list replicated per avoiding candidate
    * (|cand|·|E| rows) and components close via [[Dedup.keyedStars]] — the
    * large-star/small-star contraction keyed by the excluded node, so
    * state never exceeds the seed and rounds are O(log n). (The first
    * cut used closure DOUBLING here; on the sf0.1 chain graph that is
    * Σ|comp|³-shaped — billions of intermediate rows — because "same
    * component?" does not need reachability PAIRS materialized.
    * Contract, don't close.) Neighbor labels then canonicalize per
    * (x, component) as min member — every step an equi-join + keyed
    * agg, no per-vertex driver loop.
    *
    * SCALE BOUNDARY (the betweenness q177/q222 rule applied to this
    * family): the joint seed is |cand|·|E| rows — with cand = every
    * deg-≥2 node that is Θ(V·E), fine for the memoized catalog graph
    * (built once per corpus, ~10⁵·10⁴ rows here) but a wall on a
    * 100 TB graph where V·E has no business existing. The scale path
    * is `candidates`: pass the suspect set that actually needs
    * auditing (hubs by degree, endpoints of suspected bridges, a
    * region's boundary nodes, or a uniform sample for a cut-density
    * estimate) and the SAME dataflow runs with seed |candidates|·|E| —
    * per-candidate output is exact regardless of the set (subproblems
    * are independent by construction; ArticulationSpec pins
    * restricted ≡ full∣restricted). A candidate run bypasses the
    * memo: the memoized index is defined as the full-candidate one.
    */
  def articulationProfile(undirected0: DataFrame,
      memoKey: Option[String] = None,
      candidates: Option[DataFrame] = None): DataFrame =
    (candidates match {
      case Some(c) => exclusionLabelsBuild(undirected0, Some(c))
      case None => exclusionLabels(undirected0, memoKey)
    })
      .groupBy(col("x").as("node"))
      .agg(countDistinct(col("lbl")).as("n_split"))
      .withColumn("is_articulation", col("n_split") >= 2)

  /** Per-(key, session) memo of the exclusion-labels frame — shared by
    * q176 (articulation) and q181 (bridges), both read-outs of the same
    * index (the closureMemo discipline).
    */
  private val exclusionMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def exclusionLabels(undirected0: DataFrame,
      memoKey: Option[String]): DataFrame = memoKey match {
    case Some(k) => exclusionMemo.computeIfAbsent(
      s"$k${sessionSuffix(undirected0.sparkSession)}",
      mk => Exact.memoBuild(s"excl#$mk")(exclusionLabelsBuild(undirected0)))
    case None => exclusionLabelsBuild(undirected0)
  }

  /** The shared kernel: for every candidate x (≥2 distinct neighbors)
    * and every neighbor p of x, the canonical label (min member) of
    * p's connected component within N(x) under G∖{x} — the frame both
    * the articulation profile (distinct labels per x) and bridge
    * detection (singleton label classes) read out. All |cand| removal
    * subproblems run jointly: the seed is the |cand|·|E| broadcast
    * product of edges avoiding each x, closed by [[Dedup.keyedStars]] in
    * O(log n) rounds with state never exceeding the seed size; labels
    * then canonicalize per (x, component) as the min NEIGHBOR of x in
    * that component (neighbors isolated in G∖{x} label themselves).
    */
  private def exclusionLabelsBuild(undirected0: DataFrame,
      candidates: Option[DataFrame] = None): DataFrame = {
    val und = undirected0.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    // candidate restriction (the 100 TB path — see articulationProfile's
    // scale-boundary note): a supplied suspect set semi-joins INTO the
    // deg-≥2 rule, never replaces it — a deg-≤1 suspect has nothing to
    // split and would only seed dead subproblems
    val candAll = und.groupBy(col("src").as("x")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2).select(col("x"))
    val cand = candidates.fold(candAll)(c =>
        candAll.join(c.select(col(c.columns.head).as("x")), Seq("x"),
          "left_semi"))
      .localCheckpoint(true)
    val nb = und.join(cand, und("src") === cand("x"))
      .select(col("x"), col("dst").as("n"))
    val pairs = und.crossJoin(broadcast(cand))
      .filter(col("src") =!= col("x") && col("dst") =!= col("x"))
      .select(col("x"), col("src").as("a"), col("dst").as("b"))
    val comps = Dedup.starLabels(Dedup.keyedStars(pairs))
    val withComp = nb.select(col("x"), col("n").as("p"))
      .join(comps.select(col("x"), col("node").as("p"), col("m")),
        Seq("x", "p"), "left")
      .select(col("x"), col("p"), coalesce(col("m"), col("p")).as("cp"))
    val minNb = withComp.groupBy(col("x"), col("cp"))
      .agg(min(col("p")).as("lbl"))
    withComp.join(minNb, Seq("x", "cp"))
      .select(col("x"), col("p"), col("lbl"))
      .localCheckpoint(true)
  }

  /** Bridge edges (cut edges) of an undirected graph, canonical
    * (u < v): edge {x, p} is a bridge iff removing it disconnects x
    * from p — equivalently, iff p's component among N(x) in G∖{x} is
    * the SINGLETON {p} (any other neighbor in p's component would give
    * an alternative x→…→p path around the edge). That is one
    * class-size readout of [[exclusionLabels]]; edges whose BOTH
    * endpoints have degree 1 (isolated edges, no candidate side) are
    * bridges by definition and union in via the degree rule.
    *
    * Scale boundary: inherits [[articulationProfile]]'s |cand|·|E|
    * seed. The candidate-restricted form of the same readout answers
    * "is THIS edge a bridge?" for a suspect edge list — pass the
    * suspect endpoints as candidates to the exclusion build and read
    * the singleton classes; full-graph bridge enumeration at 100 TB
    * belongs on the per-WCC decomposition, not one joint run.
    */
  def bridgeEdges(undirected0: DataFrame,
      memoKey: Option[String] = None): DataFrame = {
    val und = undirected0.select(col("src"), col("dst")).distinct()
    val labels = exclusionLabels(undirected0, memoKey)
    val classSizes = labels.groupBy(col("x"), col("lbl"))
      .agg(count(lit(1)).as("csize"))
    val fromCand = labels.join(classSizes, Seq("x", "lbl"))
      .filter(col("csize") === 1)
      .select(least(col("x"), col("p")).as("u"),
        greatest(col("x"), col("p")).as("v"))
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val isolated = und
      .join(deg.select(col("node").as("src"), col("deg").as("ds")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), Seq("dst"))
      .filter(col("ds") === 1 && col("dd") === 1)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
    fromCand.union(isolated).distinct()
  }

  /** q176: articulation profile of the symmetrized handoff graph, FULLY
    * oracle-checked — DuckDB runs the same jointly-keyed exclusion
    * closure as a recursive CTE (x-tagged reachability, neighbors
    * labeled by min component member) and must agree node for node on
    * both the split count and the cut-vertex flag. ArticulationSpec
    * additionally pins the operator to a brute-force remove-and-BFS
    * reference on random graphs and planted shapes.
    */
  val q176: QueryDef = QueryDef.checked(
    "q176_articulation",
    """WITH RECURSIVE firsts AS MATERIALIZED (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |dedges AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |und AS MATERIALIZED (
      |  SELECT src, dst FROM dedges UNION
      |  SELECT dst AS src, src AS dst FROM dedges),
      |cand AS MATERIALIZED (
      |  SELECT src AS x FROM und GROUP BY src HAVING count(*) >= 2),
      |rex(x, a, b) AS (
      |  SELECT c.x, e.src, e.dst FROM und e, cand c
      |  WHERE e.src != c.x AND e.dst != c.x
      |  UNION
      |  SELECT r.x, r.a, e.dst FROM rex r JOIN und e ON r.b = e.src
      |  WHERE e.dst != r.x AND e.dst != r.a),
      |nb AS MATERIALIZED (
      |  SELECT c.x, u.dst AS n FROM cand c JOIN und u ON u.src = c.x),
      |conn AS (
      |  SELECT n1.x, n1.n AS p, n2.n AS q
      |  FROM nb n1 JOIN nb n2 ON n1.x = n2.x
      |  JOIN rex r ON r.x = n1.x AND r.a = n1.n AND r.b = n2.n),
      |labels AS (
      |  SELECT nb.x, nb.n AS p, LEAST(nb.n, COALESCE(MIN(c.q), nb.n)) AS lbl
      |  FROM nb LEFT JOIN conn c ON c.x = nb.x AND c.p = nb.n
      |  GROUP BY nb.x, nb.n)
      |SELECT x AS node, COUNT(DISTINCT lbl) AS n_split,
      |       COUNT(DISTINCT lbl) >= 2 AS is_articulation
      |FROM labels GROUP BY x ORDER BY node""".stripMargin) { (s, d) =>
    val (und, mk) = handoffUndirected(s, d)
    articulationProfile(und, memoKey = mk)
      .orderBy(col("node"))
  }

  /** q181: bridge (cut) edges of the symmetrized handoff graph — the
    * edge-level counterpart of q176, read out of the SAME memoized
    * exclusion-labels index (singleton component classes ∪ isolated
    * edges), FULLY oracle-checked against the identical formulation in
    * DuckDB. ArticulationSpec pins the operator to a brute-force
    * remove-edge-and-BFS reference on random graphs and planted shapes.
    */
  val q181: QueryDef = QueryDef.checked(
    "q181_bridges",
    """WITH RECURSIVE firsts AS MATERIALIZED (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |dedges AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |und AS MATERIALIZED (
      |  SELECT src, dst FROM dedges UNION
      |  SELECT dst AS src, src AS dst FROM dedges),
      |cand AS MATERIALIZED (
      |  SELECT src AS x FROM und GROUP BY src HAVING count(*) >= 2),
      |rex(x, a, b) AS (
      |  SELECT c.x, e.src, e.dst FROM und e, cand c
      |  WHERE e.src != c.x AND e.dst != c.x
      |  UNION
      |  SELECT r.x, r.a, e.dst FROM rex r JOIN und e ON r.b = e.src
      |  WHERE e.dst != r.x AND e.dst != r.a),
      |nb AS MATERIALIZED (
      |  SELECT c.x, u.dst AS n FROM cand c JOIN und u ON u.src = c.x),
      |conn AS (
      |  SELECT n1.x, n1.n AS p, n2.n AS q
      |  FROM nb n1 JOIN nb n2 ON n1.x = n2.x
      |  JOIN rex r ON r.x = n1.x AND r.a = n1.n AND r.b = n2.n),
      |labels AS (
      |  SELECT nb.x, nb.n AS p, LEAST(nb.n, COALESCE(MIN(c.q), nb.n)) AS lbl
      |  FROM nb LEFT JOIN conn c ON c.x = nb.x AND c.p = nb.n
      |  GROUP BY nb.x, nb.n),
      |classes AS (SELECT x, lbl, COUNT(*) AS csize FROM labels GROUP BY 1, 2),
      |cbr AS (
      |  SELECT LEAST(l.x, l.p) AS u, GREATEST(l.x, l.p) AS v
      |  FROM labels l JOIN classes c ON c.x = l.x AND c.lbl = l.lbl
      |  WHERE c.csize = 1),
      |degs AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY 1),
      |iso AS (
      |  SELECT LEAST(e.src, e.dst) AS u, GREATEST(e.src, e.dst) AS v
      |  FROM und e JOIN degs d1 ON d1.node = e.src
      |  JOIN degs d2 ON d2.node = e.dst
      |  WHERE d1.deg = 1 AND d2.deg = 1)
      |SELECT DISTINCT u, v FROM (
      |  SELECT u, v FROM cbr UNION ALL SELECT u, v FROM iso)
      |ORDER BY u, v""".stripMargin) { (s, d) =>
    val (und, mk) = handoffUndirected(s, d)
    bridgeEdges(und, memoKey = mk)
      .orderBy(col("u"), col("v"))
  }

  /** 2-edge-connected components: delete every bridge ([[bridgeEdges]]),
    * take connected components of the residue — nodes in the same
    * component survive any single edge failure together (the
    * resilience grouping: ring/mesh cores separate from their
    * tree-like fringes). Pure composition: the bridge set (read from
    * the memoized exclusion index) anti-joins the edge list, the
    * residue runs through the O(log n)-round large-star/small-star
    * contraction (Dedup.dedupClustersStars — node-keyed state, the
    * 100 TB shape), and bridge-only nodes come back as singletons.
    * comp_id = min member (engine-independent canonical label).
    */
  private val twoEcMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def twoEdgeComponents(undirected0: DataFrame,
      memoKey: Option[String] = None): DataFrame = {
    def build(): DataFrame = {
      val und = undirected0.select(col("src"), col("dst")).distinct()
      val nodes = und.select(col("src").as("node")).distinct()
      val br = bridgeEdges(undirected0, memoKey)
      val residual = und.filter(col("src") < col("dst"))
        .join(br, col("src") === col("u") && col("dst") === col("v"),
          "left_anti")
      val comps = Dedup.dedupClustersStars(
          residual.select(col("src").as("doc_a"), col("dst").as("doc_b")))
        .select(col("doc_id").as("node"), col("cluster_id").as("comp_id"))
      nodes.join(comps, Seq("node"), "left")
        .select(col("node"), coalesce(col("comp_id"), col("node")).as("comp_id"))
    }
    // node-sized assignment, rebuilt identically by q183 and q199 every
    // pass — memoized self-contained (localCheckpoint) per (key, session)
    // like the closure/exclusion indexes
    memoKey match {
      case Some(k) => twoEcMemo.computeIfAbsent(
        s"$k#2ec${sessionSuffix(undirected0.sparkSession)}",
        mk => Exact.memoBuild(s"2ec#$mk")(build().localCheckpoint(true)))
      case None => build()
    }
  }

  /** Biconnected-component (block) LABELING: every canonical edge
    * (lo < hi) tagged with its block's canonical label — the min edge
    * of the block, emitted as (block_lo, block_hi). Completes the
    * biconnectivity family: q176 flags the articulation points, q181
    * the bridges, q183 the 2-edge-connected node partition; this is
    * the edge partition they all summarize (a bridge is exactly a
    * singleton block; an articulation point is exactly a node in ≥ 2
    * blocks).
    *
    * Pure composition over the SAME memoized exclusion index q176/q181
    * read (zero extra index cost under a shared memoKey): edges
    * {x,p}, {x,q} lie in one block iff p and q are connected in
    * G∖{x} — which is literally lbl_x(p) = lbl_x(q) in
    * [[exclusionLabels]]'s output. So each (x, lbl) class is an
    * intra-block edge set; star-link every class member to the class
    * minimum and the block partition is the connected components of
    * those links over EDGE nodes (blocks are edge-connected through
    * shared endpoints, so endpoint-local classes generate the full
    * partition). CC runs through the q57 large-star/small-star
    * contraction — O(log blocks) keyed rounds, node-keyed state, the
    * 100 TB shape.
    *
    * Edge ids ride a long encoding lo·k + hi (k = max node id + 1,
    * guarded against overflow) so the stars loop shuffles fixed-width
    * longs — the q110 discipline; a node domain past ~3·10⁹ would
    * switch the loop to a struct-keyed stars variant instead.
    *
    * Scale boundary: block labeling is a WHOLE-GRAPH partition, so it
    * inherits the full-candidate |cand|·|E| exclusion seed and cannot
    * take the suspect-set shortcut (a block's extent depends on every
    * cut vertex on its boundary). The 100 TB decomposition is
    * structural instead: connected components are independent (a block
    * never crosses a WCC), so shard by WCC label first — each
    * component's exclusion index is |cand_c|·|E_c|, and the Σ over
    * components is a component-size-squared sum, not V·E of the whole
    * graph. Within one pathological mega-component, fall back to
    * articulation points from the candidate-restricted profile (hubs
    * first) and label only the regions between them.
    */
  /** Per-(key, session) memo of the edge→block assignment — the
    * twoEcMemo discipline applied to q254: the stars contraction over
    * the class links is a convergence LOOP (several jobs per round +
    * the exact fixpoint confirm), rebuilt identically on every pass
    * for a corpus-level graph that never changes within a session.
    * Edge-sized, localCheckpointed self-contained; the build lands in
    * the Exact ledger like every other build-once asset.
    */
  private val blockMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def biconnectedLabels(undirected0: DataFrame,
      memoKey: Option[String] = None): DataFrame = {
    def build(): DataFrame = {
      val und = undirected0.select(col("src"), col("dst")).distinct()
      val k = und.agg(max(greatest(col("src"), col("dst")))).head() match {
        case r if r.isNullAt(0) => 1L
        case r => r.getLong(0) + 1L
      }
      require(k <= 3037000499L, // floor(sqrt(Long.Max)); encoded ids stay exact
        s"node domain $k too wide for the long edge encoding — " +
          "use a struct-keyed stars variant at this scale")
      def enc(lo: org.apache.spark.sql.Column,
          hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        lo * k + hi
      val labels = exclusionLabels(undirected0, memoKey)
      val ed = labels.select(col("x"), col("lbl"),
        enc(least(col("x"), col("p")), greatest(col("x"), col("p"))).as("e"))
      val gm = ed.groupBy(col("x"), col("lbl")).agg(min(col("e")).as("me"))
      val links = ed.join(gm, Seq("x", "lbl"))
        .filter(col("e") =!= col("me"))
        .select(col("e").as("doc_a"), col("me").as("doc_b"))
        .distinct()
      val comps = Dedup.dedupClustersStars(links)
        .select(col("doc_id").as("e"), col("cluster_id").as("m"))
      // edges in no class pair (bridges, isolated edges) are their own
      // singleton block — the left join's coalesce
      und.select(least(col("src"), col("dst")).as("lo"),
          greatest(col("src"), col("dst")).as("hi")).distinct()
        .withColumn("e", enc(col("lo"), col("hi")))
        .join(comps, Seq("e"), "left")
        .select(col("lo"), col("hi"),
          expr(s"coalesce(m, e) div ${k}L").as("block_lo"),
          expr(s"coalesce(m, e) % ${k}L").as("block_hi"))
    }
    memoKey match {
      case Some(key) => blockMemo.computeIfAbsent(
        s"$key#blocks${sessionSuffix(undirected0.sparkSession)}",
        mk => Exact.memoBuild(s"blocks#$mk")(build().localCheckpoint(true)))
      case None => build()
    }
  }

  /** q254: block labeling of the symmetrized handoff graph — every
    * edge tagged with its biconnected component's canonical (min-edge)
    * label, sharing the q176/q181 memoized exclusion index. The DuckDB
    * replay extends the q199 closure CTEs: the same x-keyed exclusion
    * labels, then the per-(x, lbl) star links over long-encoded edge
    * ids and a recursive reachability whose per-edge MIN reproduces the
    * stars contraction's min-member label exactly.
    */
  val q254: QueryDef = QueryDef.checked(
    "q254_biconnected_blocks",
    """WITH RECURSIVE firsts AS MATERIALIZED (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |dedges AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |und AS MATERIALIZED (
      |  SELECT src, dst FROM dedges UNION
      |  SELECT dst AS src, src AS dst FROM dedges),
      |kk AS (SELECT MAX(GREATEST(src, dst)) + 1 AS k FROM und),
      |cand AS MATERIALIZED (
      |  SELECT src AS x FROM und GROUP BY src HAVING count(*) >= 2),
      |rex(x, a, b) AS (
      |  SELECT c.x, e.src, e.dst FROM und e, cand c
      |  WHERE e.src != c.x AND e.dst != c.x
      |  UNION
      |  SELECT r.x, r.a, e.dst FROM rex r JOIN und e ON r.b = e.src
      |  WHERE e.dst != r.x AND e.dst != r.a),
      |nb AS MATERIALIZED (
      |  SELECT c.x, u.dst AS n FROM cand c JOIN und u ON u.src = c.x),
      |conn AS (
      |  SELECT n1.x, n1.n AS p, n2.n AS q
      |  FROM nb n1 JOIN nb n2 ON n1.x = n2.x
      |  JOIN rex r ON r.x = n1.x AND r.a = n1.n AND r.b = n2.n),
      |labels AS MATERIALIZED (
      |  SELECT nb.x, nb.n AS p, LEAST(nb.n, COALESCE(MIN(c.q), nb.n)) AS lbl
      |  FROM nb LEFT JOIN conn c ON c.x = nb.x AND c.p = nb.n
      |  GROUP BY nb.x, nb.n),
      |ed AS MATERIALIZED (
      |  SELECT x, lbl,
      |    LEAST(x, p) * (SELECT k FROM kk) + GREATEST(x, p) AS e
      |  FROM labels),
      |gm AS (SELECT x, lbl, MIN(e) AS me FROM ed GROUP BY 1, 2),
      |links AS MATERIALIZED (
      |  SELECT DISTINCT e, me FROM ed JOIN gm USING (x, lbl) WHERE e != me),
      |sym AS MATERIALIZED (
      |  SELECT e AS a, me AS b FROM links
      |  UNION SELECT me AS a, e AS b FROM links),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      |ae AS MATERIALIZED (
      |  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi,
      |    LEAST(src, dst) * (SELECT k FROM kk) + GREATEST(src, dst) AS e
      |  FROM und),
      |lab AS (
      |  SELECT ae.lo, ae.hi,
      |    LEAST(ae.e, COALESCE(MIN(r.b), ae.e)) AS m
      |  FROM ae LEFT JOIN reach r ON r.a = ae.e
      |  GROUP BY ae.lo, ae.hi, ae.e)
      |SELECT lo, hi,
      |  CAST(m // (SELECT k FROM kk) AS BIGINT) AS block_lo,
      |  CAST(m % (SELECT k FROM kk) AS BIGINT) AS block_hi
      |FROM lab ORDER BY lo, hi""".stripMargin) { (s, d) =>
    val (und, mk) = handoffUndirected(s, d)
    biconnectedLabels(und, memoKey = mk)
      .orderBy(col("lo"), col("hi"))
  }

  /** q183: 2-edge-connected components of the symmetrized handoff
    * graph, FULLY oracle-checked — DuckDB recomputes the bridge set
    * (q181's CTE) and closes the residual edge list with one more
    * recursive reachability CTE, labeling each node min-member.
    */
  val q183: QueryDef = QueryDef.checked(
    "q183_two_edge_components",
    """WITH RECURSIVE firsts AS MATERIALIZED (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |dedges AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |und AS MATERIALIZED (
      |  SELECT src, dst FROM dedges UNION
      |  SELECT dst AS src, src AS dst FROM dedges),
      |cand AS MATERIALIZED (
      |  SELECT src AS x FROM und GROUP BY src HAVING count(*) >= 2),
      |rex(x, a, b) AS (
      |  SELECT c.x, e.src, e.dst FROM und e, cand c
      |  WHERE e.src != c.x AND e.dst != c.x
      |  UNION
      |  SELECT r.x, r.a, e.dst FROM rex r JOIN und e ON r.b = e.src
      |  WHERE e.dst != r.x AND e.dst != r.a),
      |nb AS MATERIALIZED (
      |  SELECT c.x, u.dst AS n FROM cand c JOIN und u ON u.src = c.x),
      |conn AS (
      |  SELECT n1.x, n1.n AS p, n2.n AS q
      |  FROM nb n1 JOIN nb n2 ON n1.x = n2.x
      |  JOIN rex r ON r.x = n1.x AND r.a = n1.n AND r.b = n2.n),
      |labels AS (
      |  SELECT nb.x, nb.n AS p, LEAST(nb.n, COALESCE(MIN(c.q), nb.n)) AS lbl
      |  FROM nb LEFT JOIN conn c ON c.x = nb.x AND c.p = nb.n
      |  GROUP BY nb.x, nb.n),
      |classes AS (SELECT x, lbl, COUNT(*) AS csize FROM labels GROUP BY 1, 2),
      |bridges AS MATERIALIZED (
      |  SELECT DISTINCT u, v FROM (
      |    SELECT LEAST(l.x, l.p) AS u, GREATEST(l.x, l.p) AS v
      |    FROM labels l JOIN classes c ON c.x = l.x AND c.lbl = l.lbl
      |    WHERE c.csize = 1
      |    UNION ALL
      |    SELECT LEAST(e.src, e.dst) AS u, GREATEST(e.src, e.dst) AS v
      |    FROM und e
      |    JOIN (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY 1) d1
      |      ON d1.node = e.src
      |    JOIN (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY 1) d2
      |      ON d2.node = e.dst
      |    WHERE d1.deg = 1 AND d2.deg = 1)),
      |res AS MATERIALIZED (
      |  SELECT e.src, e.dst FROM und e
      |  LEFT JOIN bridges b
      |    ON LEAST(e.src, e.dst) = b.u AND GREATEST(e.src, e.dst) = b.v
      |  WHERE b.u IS NULL),
      |reach2(a, b) AS (
      |  SELECT src, dst FROM res
      |  UNION
      |  SELECT r.a, e.dst FROM reach2 r JOIN res e ON r.b = e.src),
      |allnodes AS (SELECT DISTINCT src AS v FROM und)
      |SELECT n.v AS node, LEAST(n.v, COALESCE(MIN(r.b), n.v)) AS comp_id
      |FROM allnodes n LEFT JOIN reach2 r ON r.a = n.v
      |GROUP BY n.v ORDER BY node""".stripMargin) { (s, d) =>
    val (und, mk) = handoffUndirected(s, d)
    twoEdgeComponents(und, memoKey = mk)
      .orderBy(col("node"))
  }

  /** Partition modularity scoring — the quality metric behind Louvain/
    * Leiden, computed EXACTLY for a given community assignment: per
    * community c, its contribution 4m·e_c − (Σdeg_c)² to the scaled
    * modularity 4m²·Q = Σ_c [4m·e_c − deg_c²] (all integers — no float
    * in sight, so the oracle hash is exact; divide by 4m² for the
    * textbook Q ∈ [−½, 1]). Pure aggregation shape: one canonical-edge
    * frame, two broadcast label lookups, three keyed aggs — evaluating
    * a candidate partition at 100 TB costs one pass, which is why
    * modularity DELTAS drive community search loops.
    */
  def modularityProfile(undirected0: DataFrame, assign: DataFrame): DataFrame = {
    val und = undirected0.select(col("src"), col("dst")).distinct()
    val ce = und.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val mFrame = ce.agg(count(lit(1)).as("m"))
    val ein = ce
      .join(broadcast(assign.select(col("node").as("a"), col("comp_id").as("ca"))), Seq("a"))
      .join(broadcast(assign.select(col("node").as("b"), col("comp_id").as("cb"))), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comp_id")).agg(count(lit(1)).as("e_in"))
    val degs = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val dsum = assign.join(degs, Seq("node"))
      .groupBy(col("comp_id"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    dsum.join(ein, Seq("comp_id"), "left")
      .crossJoin(broadcast(mFrame))
      .select(col("comp_id"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_sum"),
        (lit(4L) * col("m") * coalesce(col("e_in"), lit(0L)) -
          col("deg_sum") * col("deg_sum")).as("q_contrib"))
  }

  /** q199: modularity profile of the 2-edge-component partition (q183's
    * assignment — bridges are exactly the edges that cross, so e_in < m
    * and the score is non-degenerate), hash-checked per community
    * against DuckDB extending the q183 closure CTE with the same three
    * aggregations.
    */
  val q199: QueryDef = QueryDef.checked(
    "q199_modularity",
    """WITH RECURSIVE firsts AS MATERIALIZED (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |dedges AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |und AS MATERIALIZED (
      |  SELECT src, dst FROM dedges UNION
      |  SELECT dst AS src, src AS dst FROM dedges),
      |cand AS MATERIALIZED (
      |  SELECT src AS x FROM und GROUP BY src HAVING count(*) >= 2),
      |rex(x, a, b) AS (
      |  SELECT c.x, e.src, e.dst FROM und e, cand c
      |  WHERE e.src != c.x AND e.dst != c.x
      |  UNION
      |  SELECT r.x, r.a, e.dst FROM rex r JOIN und e ON r.b = e.src
      |  WHERE e.dst != r.x AND e.dst != r.a),
      |nb AS MATERIALIZED (
      |  SELECT c.x, u.dst AS n FROM cand c JOIN und u ON u.src = c.x),
      |conn AS (
      |  SELECT n1.x, n1.n AS p, n2.n AS q
      |  FROM nb n1 JOIN nb n2 ON n1.x = n2.x
      |  JOIN rex r ON r.x = n1.x AND r.a = n1.n AND r.b = n2.n),
      |labels AS (
      |  SELECT nb.x, nb.n AS p, LEAST(nb.n, COALESCE(MIN(c.q), nb.n)) AS lbl
      |  FROM nb LEFT JOIN conn c ON c.x = nb.x AND c.p = nb.n
      |  GROUP BY nb.x, nb.n),
      |classes AS (SELECT x, lbl, COUNT(*) AS csize FROM labels GROUP BY 1, 2),
      |bridges AS MATERIALIZED (
      |  SELECT DISTINCT u, v FROM (
      |    SELECT LEAST(l.x, l.p) AS u, GREATEST(l.x, l.p) AS v
      |    FROM labels l JOIN classes c ON c.x = l.x AND c.lbl = l.lbl
      |    WHERE c.csize = 1
      |    UNION ALL
      |    SELECT LEAST(e.src, e.dst) AS u, GREATEST(e.src, e.dst) AS v
      |    FROM und e
      |    JOIN (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY 1) d1
      |      ON d1.node = e.src
      |    JOIN (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY 1) d2
      |      ON d2.node = e.dst
      |    WHERE d1.deg = 1 AND d2.deg = 1)),
      |res AS MATERIALIZED (
      |  SELECT e.src, e.dst FROM und e
      |  LEFT JOIN bridges b
      |    ON LEAST(e.src, e.dst) = b.u AND GREATEST(e.src, e.dst) = b.v
      |  WHERE b.u IS NULL),
      |reach2(a, b) AS (
      |  SELECT src, dst FROM res
      |  UNION
      |  SELECT r.a, e.dst FROM reach2 r JOIN res e ON r.b = e.src),
      |allnodes AS (SELECT DISTINCT src AS v FROM und),
      |comp AS MATERIALIZED (
      |  SELECT n.v AS node, LEAST(n.v, COALESCE(MIN(r.b), n.v)) AS comp_id
      |  FROM allnodes n LEFT JOIN reach2 r ON r.a = n.v GROUP BY n.v),
      |ce AS MATERIALIZED (
      |  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |  FROM und GROUP BY 1, 2),
      |mm AS (SELECT COUNT(*) AS m FROM ce),
      |ein AS (
      |  SELECT c1.comp_id, COUNT(*) AS e_in
      |  FROM ce JOIN comp c1 ON ce.a = c1.node
      |  JOIN comp c2 ON ce.b = c2.node
      |  WHERE c1.comp_id = c2.comp_id GROUP BY 1),
      |degs AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY 1),
      |dsum AS (
      |  SELECT c.comp_id, COUNT(*) AS n_nodes,
      |    CAST(SUM(d.deg) AS BIGINT) AS deg_sum
      |  FROM comp c JOIN degs d ON d.node = c.node GROUP BY 1)
      |SELECT d.comp_id, d.n_nodes, COALESCE(e.e_in, 0) AS e_in, d.deg_sum,
      |  4 * (SELECT m FROM mm) * COALESCE(e.e_in, 0)
      |    - d.deg_sum * d.deg_sum AS q_contrib
      |FROM dsum d LEFT JOIN ein e USING (comp_id)
      |ORDER BY comp_id""".stripMargin) { (s, d) =>
    val (und, mk) = handoffUndirected(s, d)
    val assign = twoEdgeComponents(und, memoKey = mk)
    modularityProfile(und, assign).orderBy(col("comp_id"))
  }

  /** Exact betweenness centrality (Brandes) over an undirected edge
    * list, all sources processed JOINTLY as one dataflow — no
    * per-source driver loop:
    *
    *  - forward: a multi-source BFS keyed by (root, node) builds the
    *    shortest-path DAG layer by layer, accumulating σ (the exact
    *    shortest-path COUNT, an integer sum over predecessor σ);
    *  - backward: layers are swept deepest-first, each round one
    *    equi-join pushing w's (1+δ_w)·σ_v/σ_w to its DAG predecessors
    *    v and one keyed sum;
    *  - betweenness(v) = Σ_roots δ(root, v) / 2 (each unordered pair
    *    counted from both endpoints), snapped to ppm for a
    *    deterministic surface.
    *
    * Rounds = 2·diameter; state = (root, node) pairs — the exact
    * all-sources baseline, quadratic by definition (this is q32's
    * ground-truth role, not the scale path). At scale the SAME dataflow
    * runs with `rootFilter` sampling the source set (the standard
    * Brandes-subset estimator: E[n/k · Σ_sampled δ] is unbiased), state
    * k·n; BetweennessSpec pins the sampled run to exactly the
    * root-restricted sums of the sequential reference.
    *
    * `bipartite` is a CALLER CERTIFICATE (the edgesDistinct idiom):
    * the graph has no same-side edges — so no odd cycles, so BFS layer
    * parity equals side parity, so a neighbor of a depth-(d−1) node
    * can only sit at depth d−2 or d, NEVER d−1 (that would need an
    * intra-side edge), and at depth 1 a root's neighbor is never the
    * root itself (no self-loops across sides). Under the certificate
    * the same-layer anti-join provably drops zero rows and is skipped
    * — one layer-sized exchange + SMJ sort fewer per forward round
    * (guide §2.4 remove shuffles outright). Asserted by the caller
    * from construction (q177/q222: user ids < 10⁶, type ids > 10⁶,
    * every edge crosses), verified for the operator by
    * BetweennessSpec's bipartite-equivalence pin.
    */
  def betweennessExact(undirected0: DataFrame,
      rootFilter: Option[org.apache.spark.sql.Column] = None,
      bipartite: Boolean = false): DataFrame = {
    val (nodes, all) = brandes(undirected0, rootFilter, bipartite, lit(0.0),
      col("sigma").cast("double") / col("sigma_w") * (lit(1.0) + col("delta_w")))
    nodes.join(
        all.filter(col("node") =!= col("root"))
          .groupBy(col("node"))
          .agg((sum(col("delta")) / 2.0).as("bc")),
        Seq("node"), "left")
      .select(col("node"),
        round(coalesce(col("bc"), lit(0.0)) * 1e6).cast("long").as("bc_ppm"))
  }

  /** Integer-grid Brandes — [[betweennessExact]] with the dependency
    * accumulation moved onto a ppm integer grid so the whole sweep is
    * ORACLE-REPLAYABLE: δ' carries ppm units and every pushed term is
    * integer-divided BEFORE the sum — t = (σ_v · (10^6 + δ'_w)) div σ_w
    * — so each round is a sum of exact integers (order-free), the same
    * per-step-floor idiom as q110's integer PageRank. σ stays the exact
    * integer shortest-path count. Truncation drops < 1 ppm per term and
    * σ_v/σ_w ≤ 1 on DAG edges, so the drift is bounded by the DAG edge
    * count per root in ppm units (BetweennessSpec pins grid vs float);
    * closed-form graphs (paths, stars) where δ is integral are EXACT.
    * bc_ppm(v) = (Σ_roots δ'(v)) div 2. Same dataflow, rounds and state
    * bounds as the float form; `rootFilter` gives the sampled-pivot
    * scale path.
    */
  def betweennessGridPpm(undirected0: DataFrame,
      rootFilter: Option[org.apache.spark.sql.Column] = None,
      bipartite: Boolean = false): DataFrame = {
    val (nodes, all) = brandes(undirected0, rootFilter, bipartite, lit(0L),
      expr("(sigma * (1000000 + delta_w)) div sigma_w"))
    nodes.join(
        all.filter(col("node") =!= col("root"))
          .groupBy(col("node"))
          .agg(sum(col("delta")).as("dsum")),
        Seq("node"), "left")
      .select(col("node"),
        expr("coalesce(dsum, CAST(0 AS BIGINT)) div 2").as("bc_ppm"))
  }

  /** The Brandes dataflow both betweenness forms share: the graph's
    * nodes and every (root, node, sigma, delta) dependency row, with
    * `term` one pushed dependency contribution over (sigma, sigma_w,
    * delta_w) and `zero` the delta type's zero.
    *
    * Forward (r16, guide §2.3/§2.4): a BFS frontier's neighbors can only
    * land in layers d−1, d, d+1 (per root: a layer-j node adjacent to a
    * layer-d node with j ≤ d−2 would have pulled it into layer j+1 < d),
    * so visited checks anti-join only the LAST TWO layers, never the
    * whole visited union. σ is summed BEFORE the anti-joins (an
    * anti-join drops whole (root, node) keys, so filter∘agg =
    * agg∘filter): the push exchange gets map-side combine, and the agg
    * output is hash-partitioned on (root, node) — the partitioning the
    * checkpointed layers carry — so both anti-joins plan exchange-free.
    * One exchange per round; layers are truncated lazily. The ledger
    * key `betweenness_depth` records the max BFS eccentricity
    * reached, the number the q177/q222 oracles' 6-layer unroll must
    * dominate.
    *
    * Backward, deepest layer first with delta(deepest) = 0 (r16 round
    * 2): σ rides the delta frame (no per-round re-join of layers(l+1)
    * to fetch it), and the "nodes with no DAG successors keep delta 0"
    * left join is FUSED with the contribution sum — layers(l) LEFT JOIN
    * the pushed contributions, then the keyed agg (unmatched keys
    * aggregate one null term to null → zero): one join and one
    * layer-sized exchange fewer per round, same groups, same per-group
    * term multiset.
    */
  private def brandes(undirected0: DataFrame,
      rootFilter: Option[org.apache.spark.sql.Column], bipartite: Boolean,
      zero: org.apache.spark.sql.Column, term: org.apache.spark.sql.Column)
      : (DataFrame, DataFrame) = {
    val und = Rounds.truncate(
      undirected0.select(col("src"), col("dst")).distinct(), eager = true)
    val nodes = und.select(col("src").as("node")).distinct()
    val roots = rootFilter.fold(nodes)(f => nodes.filter(f))
    val layer0 = Rounds.truncate(roots.select(col("node").as("root"),
        col("node"), lit(0).as("d"), lit(1L).as("sigma"))
      .repartition(col("root"), col("node")), eager = true)
    val layers = Rounds.frontier("betweenness_depth", layer0) { seen =>
      val layer = seen.last
      val agged = layer.join(und, layer("node") === und("src"))
        .select(col("root"), col("dst").as("node"), col("sigma"))
        .groupBy(col("root"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
      val afterPrev = seen.lift(seen.size - 2).fold(agged)(p => agged
          .join(p.select(col("root"), col("node")), Seq("root", "node"),
            "left_anti"))
      // bipartite certificate: the same-layer anti is a provable no-op
      // (layer parity = side parity), so it is skipped — see the doc
      (if (bipartite) afterPrev
        else afterPrev
          .join(layer.select(col("root"), col("node")), Seq("root", "node"),
            "left_anti"))
        .withColumn("d", lit(seen.size))
        .select(col("root"), col("node"), col("d"), col("sigma"))
    }
    var delta = Rounds.truncate(layers.last.select(col("root"), col("node"),
      col("sigma"), zero.as("delta")), eager = true)
    val perLayerDeltas = scala.collection.mutable.ArrayBuffer(delta)
    for (l <- (layers.size - 2) to 0 by -1) {
      val pushed = delta.join(und, delta("node") === und("src"))
        .select(col("root"), col("dst").as("node"),
          col("sigma").as("sigma_w"), col("delta").as("delta_w"))
      delta = Rounds.truncate(
        layers(l).select(col("root"), col("node"), col("sigma"))
          .join(pushed, Seq("root", "node"), "left")
          .groupBy(col("root"), col("node"), col("sigma"))
          .agg(coalesce(sum(term), zero).as("delta")), eager = true)
      perLayerDeltas += delta
    }
    (nodes, perLayerDeltas.reduce(_ unionByName _))
  }

  /** Shared DuckDB replay of [[betweennessGridPpm]] over the q177/q222
    * user↔event-type graph: layers unrolled to 6 (measured max
    * eccentricity 4 at sf0.1, 3 at sf0.01 — the q132 generous-unroll
    * argument: post-diameter layers are empty and contribute nothing),
    * backward sweep d5..d0 with the identical per-term integer
    * division. `rootsWhere` filters the source set (q222's pivots).
    */
  private def betweennessGridSql(rootsWhere: String): String = {
    val fwd = (1 to 6).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT l.root, u.dst AS node, SUM(l.sigma) AS sigma
         |  FROM l${k - 1} l JOIN und u ON u.src = l.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} v
         |    WHERE v.root = l.root AND v.node = u.dst)
         |  GROUP BY 1, 2),
         |v$k AS MATERIALIZED (
         |  SELECT root, node FROM v${k - 1}
         |  UNION ALL SELECT root, node FROM l$k)""".stripMargin
    }.mkString(",\n")
    val bwd = (5 to 0 by -1).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT l.root, l.node, l.sigma, COALESCE(c.delta, 0) AS delta
         |  FROM l$k l LEFT JOIN (
         |    SELECT w.root, u.dst AS node,
         |      SUM((lv.sigma * (1000000 + w.delta)) // w.sigma) AS delta
         |    FROM d${k + 1} w
         |    JOIN und u ON u.src = w.node
         |    JOIN l$k lv ON lv.root = w.root AND lv.node = u.dst
         |    GROUP BY 1, 2) c ON c.root = l.root AND c.node = l.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS MATERIALIZED (
       |  SELECT DISTINCT user_id, event_type FROM events WHERE event_id < 3000),
       |types AS (
       |  SELECT event_type,
       |    1000000 + dense_rank() OVER (ORDER BY event_type) AS tid
       |  FROM (SELECT DISTINCT event_type FROM ev)),
       |half AS (SELECT e.user_id AS src, t.tid AS dst
       |  FROM ev e JOIN types t USING (event_type)),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM half UNION ALL SELECT dst AS src, src AS dst FROM half)),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM und),
       |l0 AS MATERIALIZED (
       |  SELECT node AS root, node, 1::BIGINT AS sigma FROM nodes $rootsWhere),
       |v0 AS (SELECT root, node FROM l0),
       |$fwd,
       |d6 AS (SELECT root, node, sigma, 0::BIGINT AS delta FROM l6),
       |$bwd,
       |alld AS (
       |  ${(0 to 6).map(k => s"SELECT root, node, delta FROM d$k").mkString("\n  UNION ALL ")}),
       |bc AS (
       |  SELECT n.node,
       |    CAST(COALESCE(SUM(a.delta), 0) // 2 AS BIGINT) AS bc_ppm
       |  FROM nodes n LEFT JOIN alld a ON a.node = n.node AND a.root <> a.node
       |  GROUP BY 1)""".stripMargin
  }

  /** q177: exact all-sources betweenness on the user↔event-type
    * interaction graph (bipartite: users `user_id`, types mapped to
    * 1000000+rank; events < 3000) — the textbook broker-detection
    * shape: same-side pairs are never adjacent, so every user-user
    * shortest path routes through a type hub, and the hubs' centrality
    * ranks how much interaction each event type brokers. Small
    * diameter (≈4), so the layered sweep runs a handful of rounds.
    * ORACLE-CHECKED since r7 via [[betweennessGridPpm]]: σ is exact
    * integer path counting (a layered unroll, not walk enumeration —
    * the BFS anti-join keeps only shortest-path DAG edges), δ' rides
    * the ppm integer grid with per-term floors, so DuckDB replays the
    * whole sweep bit-for-bit. BetweennessSpec pins the float dataflow
    * to sequential Brandes and the grid variant's drift bound.
    */
  /** The q177/q222 shared graph: users ↔ the event types they touched
    * (event_id < 3000 slice), as one symmetrized edge frame — typed
    * nodes disambiguated by the 1e6 tid offset. ONE definition so the
    * exact and sampled betweenness queries certify the same topology
    * against the same oracle CTEs.
    */
  private def userTypeBipartite(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("event_id") < 3000)
      .select(col("user_id"), col("event_type")).distinct()
    val types = ev.select(col("event_type")).distinct()
      .withColumn("tid", lit(1000000L) + dense_rank()
        .over(org.apache.spark.sql.expressions.Window.orderBy(col("event_type"))))
    val half = ev.join(broadcast(types), Seq("event_type"))
      .select(col("user_id").as("src"), col("tid").as("dst"))
    half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The q222 pivot-sampling predicate (Knuth multiplicative hash mod
    * 4) — one definition, referenced three times in the query body. */
  private val pivotPredicateSql = "pmod(node * 2654435761, 4) = 0"

  val q177: QueryDef = QueryDef.checked(
    "q177_betweenness",
    betweennessGridSql("") +
      "\nSELECT node, bc_ppm FROM bc ORDER BY node") { (s, d) =>
    betweennessGridPpm(userTypeBipartite(s, d), bipartite = true)
      .orderBy(col("node"))
  }

  /** q218: degree assortativity of the handoff digraph — is the graph
    * hub-to-hub (assortative) or hub-to-leaf (disassortative)? The
    * Newman coefficient is the Pearson correlation of (out-degree of
    * source, in-degree of target) over edges; everything here is
    * emitted as the EXACT integer moment sums (m, Σxy, Σx, Σy, Σx²,
    * Σy²) plus the cross-multiplied numerators, so the float r is one
    * driver-side division away and the oracle hash-checks every term
    * (the q196 overflow lesson: the products stay far under 2⁶³ at any
    * SF because degrees are bounded by the q156 slice). Plan: two
    * bounded degree aggs joined back edge-keyed, one global moment agg
    * — no windows, no all-pairs; degree tables broadcast at this
    * slice and hash-join keyed at 100 TB.
    */
  val q218: QueryDef = QueryDef.checked(
    "q218_assortativity",
    """WITH firsts AS (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |edges AS (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |od AS (SELECT src, COUNT(*) AS x FROM edges GROUP BY src),
      |idg AS (SELECT dst, COUNT(*) AS y FROM edges GROUP BY dst),
      |j AS (
      |  SELECT od.x, idg.y
      |  FROM edges e JOIN od ON e.src = od.src JOIN idg ON e.dst = idg.dst)
      |SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |  CAST(SUM(x * y) AS BIGINT) AS sxy,
      |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |  CAST(SUM(x * x) AS BIGINT) AS sxx,
      |  CAST(SUM(y * y) AS BIGINT) AS syy,
      |  CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS cov_num,
      |  CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS varx_num,
      |  CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS BIGINT) AS vary_num
      |FROM j""".stripMargin) { (s, d) =>
    val edges = handoffEdges(Tables.events(s, d))
    val od = edges.groupBy(col("src")).agg(count(lit(1)).as("x"))
    val idg = edges.groupBy(col("dst")).agg(count(lit(1)).as("y"))
    edges.join(broadcast(od), Seq("src")).join(broadcast(idg), Seq("dst"))
      .agg(count(lit(1)).as("m"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("m"), col("sxy"), col("sx"), col("sy"), col("sxx"),
        col("syy"),
        (col("m") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
        (col("m") * col("sxx") - col("sx") * col("sx")).as("varx_num"),
        (col("m") * col("syy") - col("sy") * col("sy")).as("vary_num"))
  }

  /** q222: SAMPLED-pivot betweenness — the estimator that makes
    * centrality affordable when all-sources Brandes (q177) is not: run
    * the layered sweep from a deterministic Knuth-hash quarter of the
    * nodes (pivots = Bader/Brandes-Pich sampling, but hash-picked so
    * every engine/run selects the same set) and scale the partial sums
    * by n/|pivots|. Cost drops linearly in the pivot fraction — the
    * frontier frames carry |pivots|×nodes state instead of nodes². The
    * per-root machinery is IDENTICAL to q177's (one code path);
    * BetweennessSpec pins sampled runs to root-restricted sequential
    * Brandes sums. ORACLE-CHECKED since r7 through the same
    * [[betweennessGridPpm]] integer-grid replay as q177 (the pivot
    * predicate and the n/|pivots| extrapolation were always exact
    * integer arithmetic — the float δ was the only blocker).
    */
  val q222: QueryDef = QueryDef.checked(
    "q222_betweenness_sampled",
    betweennessGridSql("WHERE (node * 2654435761) % 4 = 0") +
      s""",
         |counts AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |    CAST(SUM(CASE WHEN (node * 2654435761) % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_roots
         |  FROM nodes)
         |SELECT b.node, b.bc_ppm,
         |  CAST((b.bc_ppm * c.n_nodes) // greatest(c.n_roots, 1) AS BIGINT) AS est_ppm
         |FROM bc b CROSS JOIN counts c
         |ORDER BY b.node""".stripMargin) { (s, d) =>
    val und = userTypeBipartite(s, d)
    val sampled = betweennessGridPpm(und, Some(expr(pivotPredicateSql)),
      bipartite = true)
    val counts = und.select(col("src").as("node")).distinct()
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(expr(pivotPredicateSql), 1L).otherwise(0L))
          .as("n_roots"))
    sampled.crossJoin(broadcast(counts))
      .select(col("node"), col("bc_ppm"),
        expr("(bc_ppm * n_nodes) div greatest(n_roots, 1L)").as("est_ppm"))
      .orderBy(col("node"))
  }

  /** Weighted critical path over the condensation DAG: P(u,v) = max
    * total component size over u→v paths counting every node except u,
    * computed by max-plus DOUBLING (P ∪ P∘P, `+` adds path weights so
    * shared nodes are never double-counted, max-agg dedups) — q178's
    * layer recursion with edge weight sz(dst) instead of 1. The
    * fixpoint certificate is the same monotone sum argument: sizes are
    * positive, so Σ per-pair maxima strictly increases until converged.
    */
  def criticalPathWeights(edges0: DataFrame,
      memoKey: Option[String] = None): DataFrame = {
    val (_, _, scc) = memoKey match {
      case Some(k) => closureFramesMemo(edges0, k)
      case None => closureFrames(edges0)
    }
    val sizes = scc.groupBy(col("scc_id")).agg(count(lit(1)).as("sz"))
    val lp = maxPlusClosure("critical_path", liftedEdges(edges0, scc)
      .join(broadcast(sizes.select(col("scc_id").as("sb"), col("sz"))),
        Seq("sb"))
      .select(col("sa"), col("sb"), col("sz").as("w")))
    sizes
      .join(broadcast(lp.groupBy(col("sb").as("scc_id"))
        .agg(max(col("w")).as("in_w"))), Seq("scc_id"), "left")
      .select(col("scc_id"), col("sz").as("n_nodes"),
        (col("sz") + coalesce(col("in_w"), lit(0L))).as("crit_w"))
  }

  /** Distinct condensation edges (sa, sb): the direct edges lifted to
    * their SCC ids, intra-component edges dropped. `scc` is node-sized,
    * so both lookups broadcast. */
  private def liftedEdges(edges0: DataFrame, scc: DataFrame): DataFrame =
    edges0.select(col("src"), col("dst")).distinct()
      .join(broadcast(scc.select(col("node").as("src"), col("scc_id").as("sa"))),
        Seq("src"))
      .join(broadcast(scc.select(col("node").as("dst"), col("scc_id").as("sb"))),
        Seq("dst"))
      .filter(col("sa") =!= col("sb"))
      .select(col("sa"), col("sb")).distinct()

  /** Max-plus DOUBLING over weighted DAG edges (sa, sb, w > 0):
    * P := max(P ∪ P∘P), `+` adding path weights and the max-agg
    * deduplicating, to the all-pairs heaviest path in ⌈log₂ depth⌉
    * rounds. Σ of the per-pair maxima strictly increases until the
    * fixpoint (a pair's max only grows; a new pair adds a positive
    * term), so an unchanged sum certifies convergence.
    */
  private def maxPlusClosure(name: String, weighted: DataFrame): DataFrame = {
    val init = Rounds.truncate(weighted, eager = true)
    def total(df: DataFrame): Long =
      df.agg(coalesce(sum(col("w")), lit(0L))).head.getLong(0)
    var t = total(init)
    Rounds.fixpoint(name, init, eager = true) { lp =>
      val step = lp.as("r1")
        .join(lp.as("r2"), col("r1.sb") === col("r2.sa"))
        .select(col("r1.sa").as("sa"), col("r2.sb").as("sb"),
          (col("r1.w") + col("r2.w")).as("w"))
      lp.union(step)
        .groupBy(col("sa"), col("sb")).agg(max(col("w")).as("w"))
    } { (_, next) =>
      val before = t
      t = total(next)
      t == before
    }
  }

  /** q223: weighted critical path per condensation component — the
    * scheduling readout q178's unit-depth layers can't give: with node
    * weight = component size, crit_w(v) is the heaviest chain of users
    * ending at v, the longest-pole analysis of any DAG of task groups.
    * FULLY oracle-checked: DuckDB accumulates (component, path-weight)
    * states with a recursive CTE (UNION-deduped — bounded by
    * components × distinct partial sums, no path enumeration), and
    * MAX(weight) per component matches the doubling exactly.
    */
  val q223: QueryDef = QueryDef.checked(
    "q223_critical_path",
    """WITH RECURSIVE firsts AS MATERIALIZED (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |nodes AS MATERIALIZED (
      |  SELECT src AS v FROM edges UNION SELECT dst FROM edges),
      |reach(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |mutual AS (
      |  SELECT r1.a AS v, r1.b AS w
      |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
      |scc AS MATERIALIZED (
      |  SELECT n.v AS node, LEAST(n.v, COALESCE(MIN(m.w), n.v)) AS scc_id
      |  FROM nodes n LEFT JOIN mutual m ON m.v = n.v GROUP BY n.v),
      |sizes AS MATERIALIZED (
      |  SELECT scc_id, COUNT(*) AS sz FROM scc GROUP BY 1),
      |lifted AS MATERIALIZED (
      |  SELECT DISTINCT s1.scc_id AS sa, s2.scc_id AS sb
      |  FROM edges e JOIN scc s1 ON e.src = s1.node
      |  JOIN scc s2 ON e.dst = s2.node
      |  WHERE s1.scc_id != s2.scc_id),
      |paths(b, w) AS (
      |  SELECT l.sb, z.sz FROM lifted l JOIN sizes z ON z.scc_id = l.sb
      |  UNION
      |  SELECT l.sb, p.w + z.sz
      |  FROM paths p JOIN lifted l ON l.sa = p.b
      |  JOIN sizes z ON z.scc_id = l.sb),
      |crit AS (SELECT b AS scc_id, MAX(w) AS in_w FROM paths GROUP BY 1)
      |SELECT s.scc_id, s.sz AS n_nodes,
      |  s.sz + COALESCE(c.in_w, 0) AS crit_w
      |FROM sizes s LEFT JOIN crit c USING (scc_id)
      |ORDER BY scc_id""".stripMargin) { (s, d) =>
    criticalPathWeights(handoffEdges(Tables.events(s, d)),
        memoKey = Some(s"$d#handoff"))
      .orderBy(col("scc_id"))
  }

  /** q224: HITS hubs & authorities on the handoff digraph — the
    * link-analysis complement to PageRank (q110 ranks by incoming mass;
    * HITS separates REFERRERS from REFERENCED). Two mutual-
    * reinforcement rounds from the all-ones start, kept UNNORMALIZED in
    * exact integers (normalization only rescales the ranking; dropping
    * it makes every value a path count — a₂(v) = #(2-step in-walks),
    * h₂(u) = #(u→·→· out-walks through one reversal), which DuckDB
    * replays join-for-join and the driver hash-checks exactly). Each
    * round is one edge-keyed agg per side — the canonical power-
    * iteration shuffle shape, identical at any scale.
    */
  val q224: QueryDef = QueryDef.checked(
    "q224_hits",
    """WITH firsts AS (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |edges AS (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
      |a1 AS (SELECT dst AS v, CAST(COUNT(*) AS BIGINT) AS a
      |       FROM edges GROUP BY dst),
      |h1 AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS h
      |       FROM edges GROUP BY src),
      |a2 AS (
      |  SELECT e.dst AS v, CAST(SUM(h1.h) AS BIGINT) AS a
      |  FROM edges e JOIN h1 ON e.src = h1.v GROUP BY e.dst),
      |h2 AS (
      |  SELECT e.src AS v, CAST(SUM(a1.a) AS BIGINT) AS h
      |  FROM edges e JOIN a1 ON e.dst = a1.v GROUP BY e.src)
      |SELECT n.v AS node, COALESCE(h2.h, 0) AS hub,
      |  COALESCE(a2.a, 0) AS authority
      |FROM nodes n LEFT JOIN h2 ON n.v = h2.v LEFT JOIN a2 ON n.v = a2.v
      |ORDER BY node""".stripMargin) { (s, d) =>
    val edges = handoffEdges(Tables.events(s, d)).localCheckpoint(true)
    val nodes = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v"))).distinct()
    val a1 = edges.groupBy(col("dst").as("v")).agg(count(lit(1)).as("a"))
    val h1 = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("h"))
    val a2 = edges.join(broadcast(h1.select(col("v").as("src"), col("h"))),
        Seq("src"))
      .groupBy(col("dst").as("v")).agg(sum(col("h")).as("a"))
    val h2 = edges.join(broadcast(a1.select(col("v").as("dst"), col("a"))),
        Seq("dst"))
      .groupBy(col("src").as("v")).agg(sum(col("a")).as("h"))
    nodes.join(h2.select(col("v"), col("h").as("hub")), Seq("v"), "left")
      .join(a2.select(col("v"), col("a").as("authority")), Seq("v"), "left")
      .select(col("v").as("node"),
        coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("authority"), lit(0L)).as("authority"))
      .orderBy(col("node"))
  }

  /** q233: log₂-binned degree distribution — the power-law readout
    * (Barabási's first plot) every graph pipeline runs before choosing
    * skew remedies: exponential-width bins keep heavy tails visible
    * where a linear histogram would smear them into one bucket. The
    * integer-exactness trick: bucket = length(bin(deg)) — the binary
    * string length IS ⌊log₂ deg⌋+1, identical in both engines with no
    * float log anywhere; bin bounds come back via 1 << (bucket−1).
    * Out- and in-degree side by side (same edges, keyed on src vs dst)
    * over the q156 handoff digraph. Shape: two degree aggs + two tiny
    * bucket aggs — everything past the edge build is #nodes-sized, and
    * the bucket agg is map-side combined into ≤64 rows per side.
    */
  val q233: QueryDef = QueryDef.checked(
    "q233_degree_histogram",
    """WITH firsts AS (
      |  SELECT event_type, epoch_ns(ts)//1000//3600000000 AS hr, user_id,
      |    MIN(epoch_ns(ts)//1000) AS fts
      |  FROM events WHERE event_id < 2000 GROUP BY 1, 2, 3),
      |edges AS (
      |  SELECT DISTINCT user_id AS src,
      |    LEAD(user_id) OVER (PARTITION BY event_type, hr
      |      ORDER BY fts, user_id) AS dst
      |  FROM firsts WHERE hr % 7 = 0
      |  QUALIFY dst IS NOT NULL AND dst != user_id),
      |degs AS (
      |  SELECT 'out' AS side, src AS v, COUNT(*) AS deg FROM edges GROUP BY 2
      |  UNION ALL
      |  SELECT 'in' AS side, dst AS v, COUNT(*) AS deg FROM edges GROUP BY 2)
      |SELECT side, CAST(LENGTH(BIN(deg)) AS INT) AS bucket,
      |  CAST(1::BIGINT << (LENGTH(BIN(deg)) - 1) AS BIGINT) AS deg_lo,
      |  COUNT(*) AS n_nodes, CAST(SUM(deg) AS BIGINT) AS sum_deg
      |FROM degs GROUP BY 1, 2, 3 ORDER BY side, bucket""".stripMargin) {
    (s, d) =>
    val edges = handoffEdges(Tables.events(s, d))
    def side(name: String, key: String) =
      edges.groupBy(col(key).as("v")).agg(count(lit(1)).as("deg"))
        .withColumn("side", lit(name))
    side("out", "src").unionByName(side("in", "dst"))
      .withColumn("bucket", length(bin(col("deg"))).cast("int"))
      .groupBy(col("side"), col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("sum_deg"))
      .select(col("side"), col("bucket"),
        expr("CAST(shiftleft(1L, bucket - 1) AS BIGINT)").as("deg_lo"),
        col("n_nodes"), col("sum_deg"))
      .orderBy(col("side"), col("bucket"))
  }
}
