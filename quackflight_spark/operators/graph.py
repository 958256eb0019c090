"""Graph analytics operators, round 7 — BFS reachability, k-core
decomposition, Adamic–Adar link prediction.

Beyond-reference family (SURVEY.md §2.12, same family as graph_pagerank /
graph_wcc / graph_triangles / graph_jaccard in operators/recursive.py).
The reference (a DuckDB serving shim, /root/reference/main.py) has no graph
surface; these are the training-data / analytics graph primitives a 100 TB
pipeline needs: multi-source reachability (crawl-frontier distance, seed
expansion), k-core (dense-subgraph mining / spam-farm and community-core
detection), Adamic–Adar (the classic common-neighbor link predictor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from quackflight_spark.pipeline.frame_cache import ROUND_TRACE, fixpoint
from quackflight_spark.registry import query
from quackflight_spark.sources.fixtures import load_table
from quackflight_spark.staging import stage_root

BFS_MIN_CO = 2   # co-purchase support threshold for the BFS edge set
BFS_MAX_HOPS = 4
BFS_SRC_MOD = 100  # sources = graph nodes with part id ≡ 0 (mod this)


@query("graph_bfs", oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {BFS_MIN_CO}
    ),
    edges AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
    src AS (SELECT DISTINCT a AS node FROM edges WHERE a % {BFS_SRC_MOD} = 0),
    walk AS (
      WITH RECURSIVE w(node, d) AS (
        SELECT node, 0 FROM src
        UNION
        SELECT e.b, w.d + 1
        FROM w JOIN edges e ON e.a = w.node
        WHERE w.d < {BFS_MAX_HOPS}
      ) SELECT node, d FROM w
    )
    SELECT node, CAST(min(d) AS INT) AS dist
    FROM walk GROUP BY node
""")
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (new r7): every part within
    {BFS_MAX_HOPS} co-purchase hops of a seed set (graph nodes with
    id ≡ 0 mod {BFS_SRC_MOD}), labeled with its minimum hop count — the
    seed-expansion / crawl-frontier / blast-radius primitive.

    Scale shape: level-synchronous frontier expansion, the textbook
    distributed BFS (Pregel's canonical example). Each hop is ONE keyed
    equi-join of the previous frontier against the edge list plus a
    min-merge groupBy — hop count is a fixed constant, so the whole
    search is {BFS_MAX_HOPS} bounded shuffles unrolled into one plan,
    no driver-side data movement. The frontier can only shrink relative
    to the reachable set; the hub hazard lives in the edge build, which
    reuses the support-thresholded bounded pair expansion
    (graph_wcc's HAVING) so a mega-basket never mints a mega-hub.
    The oracle is DuckDB's recursive-CTE walk over the same edges —
    (node, depth) state space bounded by nodes × hops, while the Spark
    plan never materializes a walk at all.
    """
    from quackflight_spark.pipeline.frame_cache import shared_frame

    def build_edges() -> DataFrame:
        op = (
            load_table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        a, b = op.alias("a"), op.alias("b")
        e0 = (
            a.join(
                b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
            )
            .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
            .agg(F.count(F.lit(1)).alias("n_co"))
            .filter(F.col("n_co") >= BFS_MIN_CO)
            .select("u", "v")
        )
        return e0.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
            e0.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )

    # the pair-expansion edge build dominates the whole search — stage it
    # once per corpus (the jaccard_edges materialized-staging pattern);
    # every hop then reads the persisted handle
    edges = shared_frame("bfs_edges", sf_dir, build_edges)
    dist = (
        edges.select(F.col("src").alias("node"))
        .filter(F.col("node") % BFS_SRC_MOD == 0)
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    frontier = dist
    for hop in range(1, BFS_MAX_HOPS + 1):
        reached = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"), F.lit(hop).alias("dist"))
        )
        # min-merge keeps the first (shortest) hop label per node; a node
        # re-reached at a deeper hop never overwrites its earlier label
        dist = (
            dist.unionByName(reached)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            # lazy (r12): fixed-hop unroll with no driver decision per
            # hop — the final action materializes the whole checkpoint
            # chain; eager paid one standalone job per hop. Removing
            # the checkpoints entirely was ALSO tried (AQE stage reuse
            # dedups the repeated subtrees at runtime) and looked good
            # in a deep-warm interleaved A/B, but fresh-session
            # bench-protocol runs pay the composed plan's RE-ANALYSIS
            # on every build (closeness/betweenness blew up 1.5 → 9.5 s)
            # — negative recorded, checkpoints kept.
            .localCheckpoint(eager=False)
        )
        # the next frontier is exactly the nodes first labeled this hop
        frontier = dist.filter(F.col("dist") == hop)
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


KCORE_K = 6           # peel threshold (the phase-transition-adjacent value)
KCORE_DEG_DRAWS = 6   # per-node draw count range: 2 + md5 % 6 → 2..7
KCORE_MAX_ROUNDS = 24  # measured peel depth ≤ 12 on all fixture SFs


def _kcore_edge_sql() -> str:
    """Engine-neutral SQL for the deterministic synthetic graph both
    engines build identically (the join_spatial_grid precedent: fixture
    tables carry no usable graph topology at every SF — the support-
    thresholded co-purchase graph collapses to 2 edges at sf0.1 — so the
    topology is md5-derived from the part dimension, constant expected
    degree at any corpus size). Node i draws 2 + md5(i||':d') % 6
    neighbor candidates md5(i||':'||j) % N; self-loops dropped, edges
    canonicalized to (lo, hi) and deduped."""
    return f"""
    n_sz AS (SELECT count(*) AS n FROM part),
    draws AS (
      SELECT p_partkey AS i,
             2 + CAST('0x' || substr(md5(CAST(p_partkey AS VARCHAR) || ':d'), 1, 12)
                 AS BIGINT) % {KCORE_DEG_DRAWS} AS k
      FROM part
    ),
    cand0 AS (
      SELECT i, unnest(range(1, k + 1)) AS j FROM draws
    ),
    cand AS (
      SELECT i,
             CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 12)
             AS BIGINT) % (SELECT n FROM n_sz) AS v
      FROM cand0
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT least(i, v) AS u, greatest(i, v) AS v
      FROM cand WHERE i <> v
    ),
    inc AS MATERIALIZED (
      SELECT u AS node, v AS nb FROM edges UNION ALL SELECT v, u FROM edges
    )"""


def _kcore_peel_sql(rounds: int) -> str:
    """Unroll `rounds` peel rounds as chained CTEs: each round keeps the
    nodes whose degree within the surviving set is ≥ K. Converged rounds
    are no-ops, so a fixed unroll ≥ the true peel depth is exact."""
    parts = [
        "alive0 AS MATERIALIZED (SELECT DISTINCT node FROM inc)"
    ]
    # MATERIALIZED is load-bearing: each round references the previous
    # round twice, so inlining CTEs would expand the chain 2^rounds times
    for r in range(1, rounds + 1):
        parts.append(f"""
    alive{r} AS MATERIALIZED (
      SELECT node FROM (
        SELECT e.node, count(*) AS d
        FROM inc e
        JOIN alive{r - 1} s1 ON s1.node = e.node
        JOIN alive{r - 1} s2 ON s2.node = e.nb
        GROUP BY e.node
      ) WHERE d >= {KCORE_K}
    )""")
    return ",\n".join(parts)


@query("graph_kcore", oracle=f"""
    WITH {_kcore_edge_sql()},
    {_kcore_peel_sql(KCORE_MAX_ROUNDS)}
    SELECT e.node, CAST(count(*) AS BIGINT) AS core_deg
    FROM inc e
    JOIN alive{KCORE_MAX_ROUNDS} s1 ON s1.node = e.node
    JOIN alive{KCORE_MAX_ROUNDS} s2 ON s2.node = e.nb
    GROUP BY e.node
""")
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (new r7): iteratively peel nodes with fewer
    than K = {KCORE_K} surviving neighbors until stable; return the
    K-core's members with their in-core degree. The dense-subgraph
    primitive behind spam-farm detection, community cores, and graph
    sparsification — and the classic example of an iterative algorithm
    whose per-round work SHRINKS.

    Topology: the deterministic md5-synthesized graph (see
    _kcore_edge_sql — the fixture's co-purchase graph collapses to 2
    edges at sf0.1, so like join_spatial_grid's coordinates the
    topology is hash-derived from the part dimension: constant expected
    degree ~9 at every corpus size, heterogeneous 2..7 draw counts so
    K = {KCORE_K} sits at the interesting phase-transition edge —
    measured core sizes 138 / 1,707 / 16,957 and peel depths 12 / 6 / 11
    at sf0.001/0.01/0.1).

    Scale shape: each round is one degree-count agg over the surviving
    edge incidence (map-side combinable) + one semi-join filter —
    work is proportional to SURVIVING edges, monotonically shrinking.
    localCheckpoint truncates per-round lineage (the min_label_components
    contract); convergence within {KCORE_MAX_ROUNDS} rounds is asserted
    loudly, never silently truncated. The oracle unrolls the same
    {KCORE_MAX_ROUNDS} rounds as chained CTEs — converged rounds are
    no-ops, so the fixed unroll is exact.
    """
    n = load_table(spark, sf_dir, "part").count()
    draws = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("i"),
        (
            F.lit(2)
            + F.conv(
                F.substring(F.md5(F.concat(F.col("p_partkey").cast("string"), F.lit(":d"))), 1, 12),
                16, 10,
            ).cast("bigint")
            % KCORE_DEG_DRAWS
        ).alias("k"),
    )
    cand = draws.select(
        "i",
        F.explode(F.sequence(F.lit(1), F.col("k").cast("int"))).alias("j"),
    ).select(
        "i",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("j").cast("string"))),
                    1, 12,
                ),
                16, 10,
            ).cast("bigint")
            % n
        ).alias("v"),
    )
    edges = (
        cand.filter(F.col("i") != F.col("v"))
        .select(F.least("i", "v").alias("u"), F.greatest("i", "v").alias("v"))
        .distinct()
    )
    incidence = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nb"))
        .union(edges.select(F.col("v").alias("node"), F.col("u").alias("nb")))
        # lazy + fused count (r12): the n_alive count materializes
        # incidence AND alive in one cascade; eager paid two extra jobs
        .localCheckpoint(eager=False)
    )
    alive = incidence.select("node").distinct().localCheckpoint(eager=False)
    # One materialization (lazy checkpoint + count) per round. An r11
    # A/B measured the VERDICT-r10 candidate "batch 2 rounds per
    # materialization" a wash on local[32] (2.64 vs 2.79 s, 65 vs 69
    # jobs, same session): the per-round floor is AQE's
    # job-per-shuffle-stage (~4/round: groupBy stage + 2 broadcast
    # builds + final), NOT the count jobs — and batching pays up to 2
    # extra no-op rounds of real semi-join work at scale, so the
    # per-round convergence check (stop ASAP) is the 100 TB-correct
    # shape. The floor amortizes with data volume: see the
    # sf1-equivalent crossover leg in tools/scale_curve_graph.py.

    def peel(state):
        alive, n_alive = state
        # ONE semi-join per round, not two (r12-opt): the node-side
        # filter is provably redundant inside the loop — a node removed
        # in round s had < K alive neighbors then, and alive only
        # shrinks, so its alive-neighbor count can never climb back to
        # K; the d >= K filter below can therefore never resurrect a
        # dead node. Dropping the node-side semi-join removes one
        # broadcast build + probe per round (interleaved A/B min-of-4:
        # 3.21 s vs 3.39 s, identical output). The FINAL output below
        # keeps both joins — it must not emit dead nodes' partial rows.
        deg = (
            incidence.join(
                alive.select(F.col("node").alias("nb")).hint("broadcast"),
                "nb", "left_semi",
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # lazy checkpoint + count: one job materializes the round's
        # survivor set AND returns the convergence count (r10 shave —
        # eager checkpoint then count paid two per-job floors per round)
        new_alive = (
            deg.filter(F.col("d") >= KCORE_K)
            .select("node")
            .localCheckpoint(eager=False)
        )
        n_new = new_alive.count()
        return (new_alive, n_new), n_alive - n_new

    # incidence stays live all loop; each round's alive set is freed
    # by the driver once the next one is counted
    alive, _ = fixpoint(
        "kcore_peel", (alive, alive.count()), peel, KCORE_MAX_ROUNDS
    )
    return (
        incidence.join(alive, "node", "left_semi")
        .join(alive.select(F.col("node").alias("nb")), "nb", "left_semi")
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
    )


AA_MIN_COMMON = 3  # emit pairs sharing at least this many neighbors


@query("graph_adamic_adar", oracle=f"""
    WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    pdeg AS (
      SELECT p, CAST(count(*) AS BIGINT) AS d
      FROM sp GROUP BY p HAVING count(*) >= 2
    ),
    pairs AS (
      SELECT a.s AS s_a, b.s AS s_b,
             CAST(count(*) AS BIGINT) AS n_common,
             sum(1.0 / ln(CAST(pd.d AS DOUBLE))) AS aa_raw
      FROM sp a
      JOIN sp b ON a.p = b.p AND a.s < b.s
      JOIN pdeg pd ON pd.p = a.p
      GROUP BY 1, 2 HAVING count(*) >= {AA_MIN_COMMON}
    )
    SELECT s_a, s_b, n_common, round(aa_raw, 6) AS adamic_adar
    FROM pairs
""")
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction (new r7) over the supplier–part
    bipartite graph: AA(a, b) = Σ_{{p ∈ Γ(a)∩Γ(b)}} 1 / ln(deg(p)) — the
    common-neighbor predictor that discounts promiscuous neighbors
    (a part stocked by every supplier says little; a rare shared part
    says a lot). The standard baseline for recommend-a-link /
    entity-matching candidate scoring, one step up from graph_jaccard's
    unweighted counting.

    Scale shape — identical to graph_jaccard's: the distinct edge list
    self-joins on the shared NEIGHBOR key, so candidate volume is
    Σ_p deg(p)², never |suppliers|²; the degree weight rides the same
    join as a broadcast lookup (|parts| « edges), and each pair's score
    is one map-side-combinable sum. Neighbors with deg = 1 are excluded
    up front (they cannot be common, and ln(1) = 0 would divide by
    zero); the ln/division drift across engines is absorbed by the
    shared round-6 contract (text_entropy precedent).
    """
    from quackflight_spark.pipeline.frame_cache import shared_frame

    sp = shared_frame(
        "jaccard_edges",  # the SAME staged edge list graph_jaccard uses
        sf_dir,
        lambda: load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct(),
    )
    pdeg = (
        sp.groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .filter(F.col("d") >= 2)
    )
    a = sp.select(F.col("s").alias("s_a"), "p")
    b = sp.select(F.col("s").alias("s_b"), "p")
    return (
        a.join(b, "p")
        .filter(F.col("s_a") < F.col("s_b"))
        .join(F.broadcast(pdeg), "p")
        .groupBy("s_a", "s_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(F.lit(1.0) / F.log(F.col("d").cast("double"))).alias("aa_raw"),
        )
        .filter(F.col("n_common") >= AA_MIN_COMMON)
        .select(
            "s_a", "s_b", "n_common",
            F.round("aa_raw", 6).alias("adamic_adar"),
        )
    )


LPA_ROUNDS = 4     # fixed synchronous rounds (deterministic by design)
LPA_MIN_CO = 2     # same support-thresholded co-purchase edges as BFS


def _lpa_oracle() -> str:
    parts = [f"""
    op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {LPA_MIN_CO}
    ),
    inc AS MATERIALIZED (
      SELECT u AS node, v AS nb FROM e0 UNION ALL SELECT v, u FROM e0
    ),
    lbl0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM inc)"""]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(f"""
    lbl{r} AS MATERIALIZED (
      SELECT node, -(max(ROW(c, -lbl))[2]) AS lbl FROM (
        SELECT i.node, p.lbl, CAST(count(*) AS BIGINT) AS c
        FROM inc i JOIN lbl{r - 1} p ON p.node = i.nb
        GROUP BY i.node, p.lbl
      ) GROUP BY node
    )""")
    return ",".join(parts)


@query("graph_lpa_communities", oracle=f"""
    WITH {_lpa_oracle()},
    sizes AS (
      SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
      FROM lbl{LPA_ROUNDS} GROUP BY lbl
    )
    SELECT l.node, l.lbl AS community, s.community_size
    FROM lbl{LPA_ROUNDS} l JOIN sizes s USING (lbl)
""")
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (new r7): every node starts
    as its own community; each synchronous round, a node adopts the
    label most frequent among its NEIGHBORS (ties to the smallest
    label id). After {LPA_ROUNDS} fixed rounds the label is the node's
    community — the near-linear community detector
    (Raghavan–Albert–Kumara 2007) behind recommendation neighborhoods
    and graph-partitioned storage layouts. Runs on the same
    support-thresholded co-purchase edges as graph_bfs.

    Determinism over convergence, by design: async LPA is famously
    run-order-dependent and sync LPA can oscillate on bipartite
    structures, so this is the FIXED-ROUND synchronous variant with a
    total tie order (count desc, label asc) — the output is a pure
    function of the graph on any engine and any partitioning, and the
    oracle unrolls the identical {LPA_ROUNDS} rounds (MATERIALIZED CTEs
    — the graph_kcore exponential-inlining lesson). Production runs
    wanting convergence add rounds + an oscillation damper; the
    per-round operator is what the engine must prove.

    Scale shape: each round is ONE keyed equi-join (labels onto the
    edge incidence) + two map-side-combinable aggs — the per-(node,
    label) count is bounded by edge count, and the per-node argmax is
    the shuffle-once max(struct) idiom, no windows. Community sizes
    join back broadcast."""
    from quackflight_spark.pipeline.frame_cache import shared_frame

    def build_edges() -> DataFrame:
        op = (
            load_table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        a, b = op.alias("a"), op.alias("b")
        e0 = (
            a.join(
                b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
            )
            .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
            .agg(F.count(F.lit(1)).alias("n_co"))
            .filter(F.col("n_co") >= LPA_MIN_CO)
            .select("u", "v")
        )
        return e0.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
            e0.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )

    inc = shared_frame("bfs_edges", sf_dir, build_edges).select(
        F.col("src").alias("node"), F.col("dst").alias("nb")
    )
    labels = inc.select("node").distinct().withColumn("lbl", F.col("node"))
    for _ in range(LPA_ROUNDS):
        votes = (
            inc.join(
                labels.select(F.col("node").alias("nb"), "lbl"), "nb"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        labels = (
            votes.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nlbl"))).alias("w"))
            .select("node", (-F.col("w.nlbl")).alias("lbl"))
            # lazy (r12): fixed LPA_ROUNDS unroll, no per-round driver
            # decision — chain materializes under the final action
            # (checkpoint-free variant re-analyzes the composed plan
            # per build; see graph_bfs note)
            .localCheckpoint(eager=False)
        )
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    return labels.join(F.broadcast(sizes), "lbl").select(
        "node", F.col("lbl").alias("community"), "community_size"
    )


# ---------------------------------------------------------------------------
# Strongly connected components (r9) — the DIRECTED sibling of
# graph_wcc: mutual-reachability classes over an oriented co-purchase
# graph. WCC answers "touches the same cluster"; SCC answers "is in a
# feedback loop with" — link-farm and citation-cycle detection, the
# dependency-cycle primitive.
# ---------------------------------------------------------------------------

SCC_MIN_CO = 2        # support threshold for the co-purchase edge set
SCC_MAX_OUTER = 15    # peel rounds: ≥1 SCC (the remaining-min's) resolves/round
SCC_MAX_INNER = 40    # jumped propagation: bound ≫ observed (17 on the fixture)
# Broadcast gate for the per-round label side (min_label_components
# precedent): 4 M (node, f, b) rows ~ 96 MB — far under the 8 GB cap.
SCC_BROADCAST_NODE_LIMIT = 4_000_000


def _scc_materialize(df: DataFrame, tag: str) -> DataFrame:
    """Parquet round-trip: truncates lineage AND Catalyst statistics.
    localCheckpoint is NOT enough for this loop: its LogicalRDD carries
    the origin plan's stats forward, and a round plan that multiplies k
    leaf sizes (SizeInBytesOnlyStatsPlanVisitor.visitJoin takes the
    PRODUCT of children) compounds sizeInBytes as S^k per round — the
    stat is a BigInt whose bit-length grows exponentially, and by round
    ~12 the driver burns minutes inside BigInteger multiply (measured:
    0.5 s → 108 s/round; jstack showed Thread-3 pinned in
    multiplyToomCook3 under visitJoin). Reading back from parquet
    resets stats to the real file size — the batch analogue of reliable
    checkpointing, and what a cluster deployment would do anyway."""
    import uuid

    path = f"{_SCC_STAGE}/{tag}_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


_SCC_STAGE = stage_root("scc_iter")


def _fb_labels(edges: DataFrame, nodes: DataFrame, n_nodes: int) -> DataFrame:
    """(node, f, b): f = min node id REACHABLE FROM node along edge
    direction, b = min node id REACHING node (both including itself).
    The two propagations share ONE loop (same rounds, one
    materializing action per round — the fixed per-job floor dominates
    at fixture scale, so fusing halves wall-clock vs two legs): per
    round each direction does a one-hop pull (f: u ← min f(v) over
    u→v; b: v ← min b(u) over u→v) then a pointer jump f ← min(f, f[f])
    via the PREVIOUS round's materialized map — valid because
    f(u)=m means u →* m, so anything m reaches, u reaches (directed
    generalization of pipeline/dedup.py:min_label_components). The
    per-round truncation is a parquet round-trip, NOT localCheckpoint
    — see _scc_materialize for the Catalyst-stats compounding this
    avoids; `fixpoint` deletes each superseded round's dir."""
    labels = nodes.select(
        "node", F.col("node").alias("f"), F.col("node").alias("b")
    ).localCheckpoint(eager=False)
    # Size-gated broadcast of the label side (r12-opt, the
    # min_label_components device): the round frames are parquet /
    # checkpoint leaves whose stats don't say the label table is tiny,
    # so the edge set paid per-round shuffle writes into SortMergeJoins.
    # The label row count is constant across rounds; the caller's node
    # count (the peel's convergence check, r13) decides the loop. Past
    # the gate (billions of nodes) the keyed shape below is unchanged.
    bcast = n_nodes <= SCC_BROADCAST_NODE_LIMIT

    def maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast else df

    # The two one-hop pulls share ONE join + ONE aggregation (r13,
    # guide §2.4: two operations keyed the same way share an exchange):
    # tag each edge twice — (tgt=src, key=dst, pulls f) and (tgt=dst,
    # key=src, pulls b) — join the tagged union against the label table
    # ONCE, and take both mins in a single groupBy(tgt) with
    # conditional aggregates. Same 2·|E| rows cross the boundary as
    # the old two-join shape, but through one Exchange instead of two,
    # with one broadcast build instead of two, and the round plan
    # drops a join + an aggregate (the per-round driver-planning floor
    # is 80% of a fixture-scale round — fewer nodes, cheaper floor).
    e2 = edges.select(
        F.col("src").alias("tgt"), F.col("dst").alias("key"),
        F.lit(True).alias("isf"),
    ).unionByName(edges.select(
        F.col("dst").alias("tgt"), F.col("src").alias("key"),
        F.lit(False).alias("isf"),
    ))

    def propagate(labels: DataFrame):
        nm = (
            e2.join(maybe_bcast(labels), F.col("key") == labels.node)
            .groupBy("tgt")
            .agg(
                F.min(F.when(F.col("isf"), F.col("f"))).alias("nf"),
                F.min(F.when(~F.col("isf"), F.col("b"))).alias("nb"),
            )
            .withColumnRenamed("tgt", "node")
        )
        stepped = (
            labels.join(maybe_bcast(nm), "node", "left")
            .select(
                "node",
                F.least("f", F.coalesce("nf", "f")).alias("f"),
                F.least("b", F.coalesce("nb", "b")).alias("b"),
                F.col("f").alias("of"),
                F.col("b").alias("ob"),
            )
        )
        fmap = labels.select(F.col("node").alias("fk"), F.col("f").alias("fv"))
        bmap = labels.select(F.col("node").alias("bk"), F.col("b").alias("bv"))
        new_labels = (
            stepped.join(maybe_bcast(fmap), stepped.f == fmap.fk, "left")
            .join(maybe_bcast(bmap), stepped.b == bmap.bk, "left")
            .select(
                "node",
                F.least("f", F.coalesce("fv", "f")).alias("f"),
                F.least("b", F.coalesce("bv", "b")).alias("b"),
                "of",
                "ob",
            )
        )
        # r13 (guide §1.2/§5: don't buy a second job for a number the
        # first one already saw): the convergence count rides the
        # parquet write as an OBSERVED METRIC — CollectMetrics
        # aggregates the exact rows the write commits, so the separate
        # read-back count job per inner round disappears (2 jobs → 1)
        # AND the materialized payload slims from (node,f,b,of,ob) to
        # (node,f,b): the comparison columns never hit disk (24 → 40%
        # fewer bytes per round at any scale). Exactness: failed-task
        # accumulator updates are ignored by the DAGScheduler, so the
        # sum is exact in batch local mode. It is exact ONLY without
        # speculative execution: on a cluster with spark.speculation
        # on, a speculative duplicate of a successful task can add its
        # update too and inflate `changed`. Labels stay correct (they
        # come from the committed files), but a spurious nonzero count
        # can delay the stop up to the SCC_MAX_INNER raise.
        obs = Observation()
        slim = new_labels.observe(
            obs,
            F.sum(
                ((F.col("f") != F.col("of")) | (F.col("b") != F.col("ob")))
                .cast("long")
            ).alias("changed"),
        ).select("node", "f", "b")
        labels = _scc_materialize(slim, "lab")
        return labels, int(obs.get["changed"] or 0)

    return fixpoint("scc_fb_inner", labels, propagate, SCC_MAX_INNER)


@query("graph_scc", oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {SCC_MIN_CO}
    ),
    ed AS (
      SELECT CASE WHEN CAST('0x' || substr(md5(CAST(u AS VARCHAR) || ','
                    || CAST(v AS VARCHAR)), 1, 1) AS INT) % 2 = 0
                  THEN u ELSE v END AS src,
             CASE WHEN CAST('0x' || substr(md5(CAST(u AS VARCHAR) || ','
                    || CAST(v AS VARCHAR)), 1, 1) AS INT) % 2 = 0
                  THEN v ELSE u END AS dst
      FROM e0
    ),
    nodes AS (SELECT src AS n FROM ed UNION SELECT dst FROM ed),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT src, dst FROM ed
        UNION
        SELECT r.a, e.dst FROM r JOIN ed e ON e.src = r.b
      ) SELECT a, b FROM r UNION SELECT n, n FROM nodes
    ),
    scc AS (
      SELECT r1.a AS node, min(r1.b) AS scc_id
      FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
      GROUP BY r1.a
    )
    SELECT s.node, s.scc_id, z.scc_size
    FROM scc s JOIN (
      SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
      FROM scc GROUP BY scc_id
    ) z USING (scc_id)
""")
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components over the md5-oriented co-purchase
    graph (support ≥ {SCC_MIN_CO}; each undirected pair gets a
    deterministic direction from its md5 parity, so both engines see
    the identical digraph). scc_id = the component's min node id.

    Algorithm (forward-backward min-label peel, the distributed-SCC
    coloring family of Orzan 2004 / FW-BW): per outer round compute
    f(u) = min id reachable FROM u and b(u) = min id reaching u (two
    pointer-jumped propagations); f(u) = b(u) = m certifies u ↔ m, and
    since f,b are constant on an SCC whose min member's own f=b=min,
    ENTIRE components match at once and matched components can be
    removed safely (any two survivors mutually reachable only through
    a removed SCC would belong to it). The remaining-minimum's SCC
    always matches, so each peel assigns ≥1 component; loud bound
    {SCC_MAX_OUTER}.

    Oracle: exact mutual-reachability closure (recursive CTE) over the
    same digraph — tractable because the support threshold keeps the
    fixture closure small, while the Spark path needs no closure.

    Scale shape: every step is keyed equi-joins + min-groupBys on the
    (shrinking) node/edge frames; pointer jumping makes each
    propagation O(log diameter) shuffles; no windows, no driver-side
    data plane (counts only). The edge build reuses the bounded
    support-thresholded pair expansion (hub explosion filtered in the
    HAVING, as graph_wcc)."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    e0 = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= SCC_MIN_CO)
        .select("u", "v")
    )
    par = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("u").cast("string"),
                        F.lit(","),
                        F.col("v").cast("string"),
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        % 2
        == 0
    )
    edges = e0.select(
        F.when(par, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(par, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint(eager=False)
    # The support-thresholded graph is orders of magnitude smaller than
    # the fact table; the iterative phase runs dozens of tiny keyed
    # shuffles where 32 partitions is pure scheduling overhead. Narrow
    # to 8 for the loop (still executor-parallel), restore after — at
    # real scale size this to nodes/partition-budget, same one knob.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return _scc_peel(spark, edges)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _scc_peel(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Trim + forward/backward min-label peel over a checkpointed edge
    frame (see graph_scc docstring)."""
    remaining = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges_rem = edges
    assigned = None
    ROUND_TRACE["scc_outer"] = 0
    ROUND_TRACE["scc_fb_inner"] = 0
    for _ in range(SCC_MAX_OUTER):
        ROUND_TRACE["scc_outer"] += 1
        # TRIM (the standard FW-BW accelerator): a remaining node with
        # no outgoing or no incoming edge lies on no cycle — it is a
        # singleton SCC, assigned immediately without any propagation.
        # Each peel exposes a fresh layer of sources/sinks, so DAG
        # remnants drain via cheap anti-joins instead of f/b rounds.
        # one degree-flag rollup instead of two DISTINCTs + two semi
        # joins (r12 floor shave: the post-threshold graph is tiny, so
        # every extra shuffle here is pure scheduling floor — measured
        # 9.2 -> 8.7 s min-of-3 at sf0.1 on a noisy host: within
        # noise, kept because it is strictly fewer shuffles per outer
        # round); nodes absent from edges_rem entirely are trimmed by
        # the same anti join.
        deg = (
            edges_rem.select(
                F.col("src").alias("node"),
                F.lit(1).alias("o"),
                F.lit(0).alias("i"),
            )
            .unionByName(
                edges_rem.select(
                    F.col("dst").alias("node"),
                    F.lit(0).alias("o"),
                    F.lit(1).alias("i"),
                )
            )
            .groupBy("node")
            .agg(F.max("o").alias("has_out"), F.max("i").alias("has_in"))
        )
        core_nodes = deg.filter(
            (F.col("has_out") == 1) & (F.col("has_in") == 1)
        ).select("node")
        trimmed = remaining.join(core_nodes, "node", "anti").select(
            "node", F.col("node").alias("scc_id")
        )
        # lazy checkpoints + fused counts (r12 floor shave): every
        # eager checkpoint here was its own job; the convergence count
        # that immediately follows materializes the same blocks, so
        # lazy+count halves the per-phase job count. `assigned` has no
        # following count — it materializes inside the next action's
        # cascade.
        assigned = (
            trimmed if assigned is None else assigned.unionByName(trimmed)
        ).localCheckpoint(eager=False)
        remaining = core_nodes.localCheckpoint(eager=False)
        n_remaining = remaining.count()
        if n_remaining == 0:
            break
        keep = remaining.withColumnRenamed("node", "k")
        edges_rem = (
            edges_rem.join(keep, edges_rem.src == keep.k)
            .drop("k")
            .join(keep, edges_rem.dst == keep.k)
            .drop("k")
            .localCheckpoint(eager=False)
        )
        # fused f/b match on the trimmed core (n_remaining reuses the
        # convergence count above — no duplicate gate-count job)
        fb = _fb_labels(edges_rem, remaining, n_remaining)
        done = fb.filter(F.col("f") == F.col("b")).select(
            "node", F.col("f").alias("scc_id")
        )
        assigned = assigned.unionByName(done).localCheckpoint(eager=False)
        remaining = (
            fb.filter(F.col("f") != F.col("b"))
            .select("node")
            .localCheckpoint(eager=False)
        )
        if remaining.count() == 0:
            break
        keep = remaining.withColumnRenamed("node", "k")
        edges_rem = (
            edges_rem.join(keep, edges_rem.src == keep.k)
            .drop("k")
            .join(keep, edges_rem.dst == keep.k)
            .drop("k")
            .localCheckpoint(eager=False)
        )
    else:
        raise RuntimeError(
            f"graph_scc: peel did not converge in {SCC_MAX_OUTER} rounds"
        )
    sizes = assigned.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("scc_size")
    )
    return assigned.join(F.broadcast(sizes), "scc_id").select(
        "node", "scc_id", "scc_size"
    )


CLOSE_MAX_HOPS = 6
CLOSE_SRC_MOD = 400  # seeds = graph nodes with part id ≡ 0 (mod this)


@query("graph_closeness", oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {BFS_MIN_CO}
    ),
    edges AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
    src AS (SELECT DISTINCT a AS seed FROM edges
            WHERE a % {CLOSE_SRC_MOD} = 0),
    walk AS (
      WITH RECURSIVE w(seed, node, d) AS (
        SELECT seed, seed, 0 FROM src
        UNION
        SELECT w.seed, e.b, w.d + 1
        FROM w JOIN edges e ON e.a = w.node
        WHERE w.d < {CLOSE_MAX_HOPS}
      ) SELECT seed, node, d FROM w
    ),
    dist AS (
      SELECT seed, node, CAST(min(d) AS BIGINT) AS d
      FROM walk GROUP BY 1, 2
    ),
    per_d AS (
      SELECT seed, d, CAST(count(*) AS BIGINT) AS n_d
      FROM dist WHERE d >= 1 GROUP BY 1, 2
    )
    SELECT seed,
           CAST(sum(n_d) AS BIGINT) AS n_reached,
           CAST(sum(d * n_d) AS BIGINT) AS sum_dist,
           round(CAST(sum(n_d) AS DOUBLE) / CAST(sum(d * n_d) AS DOUBLE), 8)
             AS closeness,
           round(  CAST(sum(CASE WHEN d = 1 THEN n_d ELSE 0 END) AS DOUBLE)
                 + CAST(sum(CASE WHEN d = 2 THEN n_d ELSE 0 END) AS DOUBLE) / 2.0
                 + CAST(sum(CASE WHEN d = 3 THEN n_d ELSE 0 END) AS DOUBLE) / 3.0
                 + CAST(sum(CASE WHEN d = 4 THEN n_d ELSE 0 END) AS DOUBLE) / 4.0
                 + CAST(sum(CASE WHEN d = 5 THEN n_d ELSE 0 END) AS DOUBLE) / 5.0
                 + CAST(sum(CASE WHEN d = 6 THEN n_d ELSE 0 END) AS DOUBLE) / 6.0,
                 8) AS harmonic
    FROM per_d GROUP BY seed
""")
def graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated closeness + harmonic centrality per seed (new r9):
    for every seed (graph nodes ≡ 0 mod {CLOSE_SRC_MOD}), BFS out to
    {CLOSE_MAX_HOPS} hops on the co-purchase graph and report
    |reached| / Σdist (closeness over the hop-bounded ball — the
    Wasserman–Faust style truncation that makes centrality computable
    without all-pairs shortest paths) and Σ 1/d (harmonic centrality,
    the disconnected-graph-safe variant Boldi–Vigna recommend). This is
    the hub/influence scorer the graph family lacked — pagerank ranks
    by link mass, closeness ranks by REACH per hop.

    Exactness: the multi-seed BFS carries exact (seed, node, hop)
    labels with min-merge (graph_bfs's device keyed by seed); the
    per-distance node counts n_d are exact BIGINTs, closeness is one
    double division of exact integers, and harmonic unrolls to the
    FIXED {CLOSE_MAX_HOPS}-term expression n1/1 + n2/2 + … — identical
    literal order in both texts, so no float accumulation order exists
    at all.

    Scale shape: {CLOSE_MAX_HOPS} bounded level-synchronous joins over
    the shared staged edge list (the graph_bfs plan, state keyed by
    seed×node — bounded by |seeds|·|reachable|, and |seeds| is modulus-
    bounded); the rollup to (seed, d) counts is map-side combinable.
    The oracle replays the same walk as a recursive CTE."""
    from quackflight_spark.pipeline.frame_cache import shared_frame

    def build_edges() -> DataFrame:
        op = (
            load_table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        a, b = op.alias("a"), op.alias("b")
        e0 = (
            a.join(
                b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
            )
            .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
            .agg(F.count(F.lit(1)).alias("n_co"))
            .filter(F.col("n_co") >= BFS_MIN_CO)
            .select("u", "v")
        )
        return e0.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
            e0.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )

    edges = shared_frame("bfs_edges", sf_dir, build_edges)
    seeds = (
        edges.select(F.col("src").alias("seed"))
        .filter(F.col("seed") % CLOSE_SRC_MOD == 0)
        .distinct()
    )
    dist = seeds.select(
        "seed", F.col("seed").alias("node"), F.lit(0).alias("d")
    )
    frontier = dist
    for hop in range(1, CLOSE_MAX_HOPS + 1):
        reached = frontier.join(edges, frontier.node == edges.src).select(
            "seed", F.col("dst").alias("node"), F.lit(hop).alias("d")
        )
        dist = (
            dist.unionByName(reached)
            .groupBy("seed", "node")
            .agg(F.min("d").alias("d"))
            # lazy (r12): fixed-hop unroll — see graph_bfs
            .localCheckpoint(eager=False)
        )
        frontier = dist.filter(F.col("d") == hop)
    per_d = (
        dist.filter(F.col("d") >= 1)
        .groupBy("seed", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_d"))
    )
    harmonic = None
    for k in range(1, CLOSE_MAX_HOPS + 1):
        term = (
            F.sum(F.when(F.col("d") == k, F.col("n_d")).otherwise(0))
            .cast("double")
            / float(k)
        )
        harmonic = term if harmonic is None else harmonic + term
    return per_d.groupBy("seed").agg(
        F.sum("n_d").cast("bigint").alias("n_reached"),
        F.sum(F.col("d") * F.col("n_d")).cast("bigint").alias("sum_dist"),
        F.round(
            F.sum("n_d").cast("double")
            / F.sum(F.col("d") * F.col("n_d")).cast("double"),
            8,
        ).alias("closeness"),
        F.round(harmonic, 8).alias("harmonic"),
    )


BETW_MAX_HOPS = 3     # truncated (k-)betweenness radius
BETW_SRC_MOD = 200    # seeds = graph nodes with part id ≡ 0 (mod this)


def _betw_edges_sql() -> str:
    return f"""
    op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {BFS_MIN_CO}
    ),
    edges AS MATERIALIZED (
      SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0
    ),
    src AS (SELECT DISTINCT a AS seed FROM edges
            WHERE a % {BETW_SRC_MOD} = 0)"""


def _betw_forward_sql() -> str:
    """Unrolled level-synchronous σ-BFS: lv{d} = (seed, v, sigma)."""
    parts = ["lv0 AS MATERIALIZED (SELECT seed, seed AS v, CAST(1 AS BIGINT) AS sigma FROM src)",
             "vis0 AS MATERIALIZED (SELECT seed, v FROM lv0)"]
    for d in range(1, BETW_MAX_HOPS + 1):
        parts.append(f"""
    lv{d} AS MATERIALIZED (
      SELECT f.seed, e.b AS v, CAST(sum(f.sigma) AS BIGINT) AS sigma
      FROM lv{d - 1} f JOIN edges e ON e.a = f.v
      WHERE NOT EXISTS (SELECT 1 FROM vis{d - 1} x
                        WHERE x.seed = f.seed AND x.v = e.b)
      GROUP BY 1, 2
    )""")
        parts.append(f"""
    vis{d} AS MATERIALIZED (
      SELECT seed, v FROM vis{d - 1} UNION ALL SELECT seed, v FROM lv{d}
    )""")
    return ",\n".join(parts)


def _betw_backward_sql() -> str:
    """Unrolled dependency accumulation: del{d} = (seed, v, delta) for
    nodes at level d, folding contributions over the w-sorted list."""
    deepest = BETW_MAX_HOPS
    parts = [f"del{deepest} AS MATERIALIZED (SELECT seed, v, 0.0 AS delta FROM lv{deepest})"]
    for d in range(BETW_MAX_HOPS - 1, 0, -1):
        parts.append(f"""
    del{d} AS MATERIALIZED (
      SELECT v0.seed, v0.v,
             COALESCE((
               SELECT list_reduce(
                 list_transform(
                   list_sort(list({{'w': w.v,
                     'c': (CAST(v0.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE))
                          * (1.0 + dw.delta)}})),
                   x -> x.c),
                 (p, q) -> p + q)
               FROM lv{d + 1} w
               JOIN edges e ON e.a = v0.v AND e.b = w.v
               JOIN del{d + 1} dw ON dw.seed = w.seed AND dw.v = w.v
               WHERE w.seed = v0.seed
             ), 0.0) AS delta
      FROM lv{d} v0
    )""")
    return ",\n".join(parts)


@query("graph_betweenness", oracle=f"""
    WITH {_betw_edges_sql()},
    {_betw_forward_sql()},
    {_betw_backward_sql()},
    alldel AS (
      {" UNION ALL ".join(f"SELECT seed, v, delta FROM del{d}"
                          for d in range(1, BETW_MAX_HOPS))}
    )
    SELECT * FROM (
      SELECT v AS node,
             CAST(count(*) AS BIGINT) AS n_seeds_reaching,
             round(list_reduce(
               list_transform(list_sort(list({{'s': seed, 'd': delta}})),
                              x -> x.d),
               (p, q) -> p + q), 6) AS betweenness
      FROM alldel GROUP BY v
    ) WHERE betweenness > 0
""")
def graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-truncated betweenness centrality (new r9) — Brandes'
    algorithm bounded to {BETW_MAX_HOPS} hops from a modulus-sampled
    seed set (k-betweenness / ego-betweenness, the standard making the
    all-pairs definition computable at scale): forward level-synchronous
    BFS accumulates exact shortest-path COUNTS σ per (seed, node);
    backward sweep folds the dependency recursion
    δ(v) = Σ_w (σ_v/σ_w)(1+δ_w) level by level; betweenness(v) sums
    δ over seeds. Brokers — nodes many shortest paths must cross —
    score high; pagerank ranks by mass, closeness by reach, this by
    CONTROL.

    Exactness: σ values are exact BIGINT sums (level-synchronous, no
    float); every float fold (the per-node dependency sum and the
    cross-seed final sum) runs over a KEY-SORTED array so both engines
    add identical doubles (each term is one exact-integer division ×
    (1+δ) chain) in identical order; round-6 absorbs nothing ulp-wise
    because there is nothing unordered left.

    Scale shape: {BETW_MAX_HOPS} forward joins (frontier×edges with
    visited anti-join — graph_bfs's plan keyed by seed) and
    {BETW_MAX_HOPS}−1 backward joins (level d × edges × level d+1);
    state bounded by |seeds|·|ball|. The per-node contribution lists
    are bounded by forward-degree into the next level. The oracle
    unrolls the identical levels as MATERIALIZED CTEs."""
    from quackflight_spark.pipeline.frame_cache import shared_frame

    def build_edges() -> DataFrame:
        op = (
            load_table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        a, b = op.alias("a"), op.alias("b")
        e0 = (
            a.join(
                b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
            )
            .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
            .agg(F.count(F.lit(1)).alias("n_co"))
            .filter(F.col("n_co") >= BFS_MIN_CO)
            .select("u", "v")
        )
        return e0.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
            e0.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )

    edges = shared_frame("bfs_edges", sf_dir, build_edges)
    seeds = (
        edges.select(F.col("src").alias("seed"))
        .filter(F.col("seed") % BETW_SRC_MOD == 0)
        .distinct()
    )
    lv = {0: seeds.select("seed", F.col("seed").alias("v"),
                          F.lit(1).cast("bigint").alias("sigma"))}
    visited = lv[0].select("seed", "v")
    for d in range(1, BETW_MAX_HOPS + 1):
        nxt = (
            lv[d - 1]
            .join(edges, lv[d - 1].v == edges.src)
            .select("seed", F.col("dst").alias("v"), "sigma")
            .join(visited, ["seed", "v"], "left_anti")
            .groupBy("seed", "v")
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            # lazy (r12): fixed-depth Brandes unroll, no driver
            # decisions — the chain materializes under the final action
            # (checkpoint-free variant re-analyzes per build; see
            # graph_bfs note)
            .localCheckpoint(eager=False)
        )
        lv[d] = nxt
        visited = visited.unionByName(nxt.select("seed", "v")).localCheckpoint(
            eager=False
        )
    delta = {
        BETW_MAX_HOPS: lv[BETW_MAX_HOPS].select(
            "seed", "v", F.lit(0.0).alias("delta")
        )
    }
    for d in range(BETW_MAX_HOPS - 1, 0, -1):
        succ = (
            lv[d].alias("v0")
            .join(edges, F.col("v0.v") == edges.src)
            .join(
                lv[d + 1].alias("w"),
                (F.col("dst") == F.col("w.v"))
                & (F.col("v0.seed") == F.col("w.seed")),
            )
            .join(
                delta[d + 1].alias("dw"),
                (F.col("w.seed") == F.col("dw.seed"))
                & (F.col("w.v") == F.col("dw.v")),
            )
            .select(
                F.col("v0.seed").alias("seed"),
                F.col("v0.v").alias("v"),
                F.col("w.v").alias("w"),
                (
                    (F.col("v0.sigma").cast("double")
                     / F.col("w.sigma").cast("double"))
                    * (F.lit(1.0) + F.col("dw.delta"))
                ).alias("c"),
            )
        )
        folded = succ.groupBy("seed", "v").agg(
            F.aggregate(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(F.col("w").alias("w"), F.col("c").alias("c"))
                        )
                    ),
                    lambda x: x["c"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("delta")
        )
        delta[d] = (
            lv[d]
            .join(folded, ["seed", "v"], "left")
            .select(
                "seed",
                "v",
                F.coalesce(F.col("delta"), F.lit(0.0)).alias("delta"),
            )
            .localCheckpoint(eager=False)
        )
    alldel = None
    for d in range(1, BETW_MAX_HOPS):
        alldel = delta[d] if alldel is None else alldel.unionByName(delta[d])
    bc = alldel.groupBy(F.col("v").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seeds_reaching"),
        F.round(
            F.aggregate(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("seed").alias("s"),
                                F.col("delta").alias("d"),
                            )
                        )
                    ),
                    lambda x: x["d"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("betweenness"),
    )
    return bc.filter(F.col("betweenness") > 0)


# ---------------------------------------------------------------------------
# graph_ktruss — edge-support peel (r10)
# ---------------------------------------------------------------------------

KTRUSS_K = 5            # edges must sit in >= K-2 triangles to survive
KTRUSS_MAX_ROUNDS = 12  # measured peel rounds: 3 (sf0.01) / 8 (sf0.1)
# Broadcast the forward-adjacency only while the ORIENTED edge count
# (= total adjacency entries, an upper bound that only shrinks as the
# peel drops edges) fits comfortably in driver/executor memory; past
# this the same plan key-shuffles the two adjacency lookups instead.
# 20 M int64 pairs ~ 320 MB serialized — under Spark's 8 GB broadcast
# hard cap with wide margin, and the gate is evaluated from a count
# the peel already takes (zero extra jobs).
KTRUSS_BROADCAST_EDGE_LIMIT = 20_000_000


def _ktruss_round_sql(rounds: int) -> str:
    """Unroll `rounds` edge-peel rounds as chained CTEs: each round
    recomputes per-edge triangle support on the surviving edge set and
    keeps edges with support >= K-2. Converged rounds are no-ops, so
    the fixed unroll is exact (the _kcore_peel_sql contract, applied to
    EDGES instead of nodes). MATERIALIZED: each round is referenced by
    three triangle roles in the next — inlining would expand 3^rounds."""
    parts = []
    for r in range(1, rounds + 1):
        p = f"e{r - 1}"
        parts.append(f"""
    tri{r} AS MATERIALIZED (
      SELECT a.u AS x, a.v AS y, b.v AS z
      FROM {p} a JOIN {p} b ON b.u = a.v
                 JOIN {p} c ON c.u = a.u AND c.v = b.v
    ),
    sup{r} AS MATERIALIZED (
      SELECT u, v, CAST(count(*) AS BIGINT) AS s FROM (
        SELECT x AS u, y AS v FROM tri{r}
        UNION ALL SELECT x, z FROM tri{r}
        UNION ALL SELECT y, z FROM tri{r}
      ) GROUP BY 1, 2
    ),
    e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM {p} e
      JOIN sup{r} s ON s.u = e.u AND s.v = e.v
      WHERE s.s >= {KTRUSS_K - 2}
    )""")
    return ",".join(parts)


@query("graph_ktruss", oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    ),
    {_ktruss_round_sql(KTRUSS_MAX_ROUNDS)},
    ftri AS (
      SELECT a.u AS x, a.v AS y, b.v AS z
      FROM e{KTRUSS_MAX_ROUNDS} a
      JOIN e{KTRUSS_MAX_ROUNDS} b ON b.u = a.v
      JOIN e{KTRUSS_MAX_ROUNDS} c ON c.u = a.u AND c.v = b.v
    )
    SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS support
    FROM e{KTRUSS_MAX_ROUNDS} e
    JOIN (
      SELECT x AS u, y AS v FROM ftri
      UNION ALL SELECT x, z FROM ftri
      UNION ALL SELECT y, z FROM ftri
    ) t ON t.u = e.u AND t.v = e.v
    GROUP BY e.u, e.v
""")
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-truss decomposition (new r10): iteratively remove EDGES lying
    in fewer than K−2 triangles until stable — the edge-grained sibling
    of graph_kcore (a k-truss is a stricter cohesion certificate than a
    k-core: every surviving edge has K−2 common-neighbor witnesses, the
    community-defensible subgraph Cohen's original k-truss paper and
    the MapReduce follow-ups peel for). Returns the surviving edges
    with their final in-truss support. Graph: the DENSE co-purchase
    pair set (every pair of parts sharing an order — no support
    threshold, unlike graph_triangles' n_co >= 2, because truss peeling
    IS the noise filter here; measured 1.20 M edges at sf0.1 peeling to
    917 k in 9 rounds, 116 k→115 k in 4 at sf0.01).

    The peel runs entirely in ORIENTED space (r10 rework — the first
    cut re-oriented and re-joined per round and measured 104 s at
    sf0.1): edges orient ONCE by initial (degree, id) — any fixed
    acyclic orientation stays valid as edges drop, and the O(√m)
    forward-degree bound only improves on subgraphs. Triangles are
    enumerated ONCE (compact-forward over the gated
    broadcast/shuffled adjacency; each triangle appears exactly once,
    from its unique base edge) into a materialized triangle LEDGER;
    supports are the per-edge role counts over it. An edge in zero
    triangles has no support row and is dropped by construction —
    precisely the K≥3 rule.

    Rounds after the first work on the LEDGER, not the graph (r12
    rework — the r10 loop rebuilt adjacency and re-enumerated all
    triangles of the surviving set every round, 16.7 s at sf0.1 and
    badly steal-sensitive on a shared host): a triangle dies exactly
    when one of its edges drops, so each round marks the ledger rows
    containing a dropped edge (three gated-broadcast joins of the
    dropped set), filters them out, and recounts per-edge roles over
    the survivors — identical to re-enumeration round-for-round, with
    no per-round adjacency shuffle or array-intersect work.
    Convergence via the lazy-checkpoint + count fold (one job per
    round); loud non-convergence at {KTRUSS_MAX_ROUNDS} rounds — the
    oracle unrolls the same bound over id-ordered pairs (the triangle
    SET is orientation-invariant, so supports agree pair-for-pair).

    Scale shape: one full triangle enumeration (the unavoidable pass),
    then per-round work ∝ the surviving ledger (3·|tri| thin int
    rows, monotonically shrinking) with the dropped set riding the
    same size gate as the adjacency broadcast; the ledger is ∝ total
    triangles — the state the distributed truss-maintenance
    literature also keeps, staged to reliable storage on a cluster.
    (An explicit support-decrement variant — per-round work ∝ dead
    triangles only — measured WORSE here: the extra checkpointed
    join layer per round outweighs recounting thin rows; negative
    kept in OPTIMIZATION_r12.md.)"""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    und = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    edges = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()
    # Size gate (ADVICE r10): oriented-edge count == adjacency entries,
    # monotonically shrinking, so the initial count bounds every round.
    use_broadcast = n_edges <= KTRUSS_BROADCAST_EDGE_LIMIT

    def maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if use_broadcast else df

    # --- One-shot triangle enumeration (compact-forward, Latapy) -----
    # Triangles at base edge (x, y) are N+(x) ∩ N+(y), computed by
    # exploding array_intersect over the forward-adjacency table
    # (broadcast under the size gate, key-shuffled past it) — the
    # Θ(Σ fdeg²) 2-path intermediate of the naive three-way join never
    # materializes, only the actual triangles do. Under the fixed
    # acyclic orientation each triangle {a,b,c} (a→b, a→c, b→c) is
    # emitted EXACTLY once, from its unique base (a, b) — so the
    # materialized table is the distinct triangle set, usable as a
    # support ledger.
    adj = edges.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    ax = maybe_bcast(adj.select(F.col("src").alias("x"), F.col("nbrs").alias("ax")))
    ay = maybe_bcast(adj.select(F.col("src").alias("y"), F.col("nbrs").alias("ay")))
    tri = (
        edges.select(F.col("src").alias("x"), F.col("dst").alias("y"))
        .join(ax, "x")
        .join(ay, "y")
        .select("x", "y", F.explode(F.array_intersect("ax", "ay")).alias("z"))
        .localCheckpoint(eager=False)
    )

    def role_sup(t: DataFrame) -> DataFrame:
        # 3-way union, NOT an explode-of-structs (r13 negative, kept):
        # a generator pass over array(struct(x,y),struct(x,z),
        # struct(y,z)) "reads the ledger once instead of three times",
        # but the per-row struct/array allocations cost more than the
        # three clean columnar scans of the checkpointed blocks —
        # interleaved per-round-unit min-of-4: union 1.80 s vs explode
        # 2.29 s (and 2.37 s combined with the anti-join variant).
        roles = (
            t.select(F.col("x").alias("src"), F.col("y").alias("dst"))
            .unionByName(t.select(F.col("x").alias("src"), F.col("z").alias("dst")))
            .unionByName(t.select(F.col("y").alias("src"), F.col("z").alias("dst")))
        )
        return roles.groupBy("src", "dst").agg(
            F.count(F.lit(1)).cast("bigint").alias("support")
        )

    sup = role_sup(tri).localCheckpoint(eager=False)

    # --- Incremental peel over the triangle ledger (r12 rework) ------
    # The r10 peel re-derived adjacency and re-enumerated ALL triangles
    # of the surviving edge set every round (9 rounds × full
    # enumeration at sf0.1 = 16.7 s in BENCH_r12's close). But a
    # synchronous peel round only CHANGES the support of edges that
    # shared a triangle with a dropped edge, so the rounds after the
    # first need to touch only the delta: a triangle DIES when any of
    # its three edges drops, and each surviving edge of a dead
    # triangle loses exactly one support. Maintaining (live triangles,
    # supports) under those decrements reproduces the full recompute
    # round-for-round — the standard support-maintenance formulation
    # of truss peeling — while shuffling only decrement rows
    # (∝ dead triangles this round) instead of the whole edge set.
    # Convergence: one count job per round (lazy checkpoint + count,
    # the min_label_components device); the dropped-edge and decrement
    # tables ride the same broadcast size gate as the adjacency.
    surv = F.col("support") >= KTRUSS_K - 2

    def peel(state):
        tri, sup, n_keep, *_ = state
        dropped = sup.filter(~surv).select("src", "dst")
        d1 = dropped.select(
            F.col("src").alias("x"), F.col("dst").alias("y"), F.lit(1).alias("m1")
        )
        d2 = dropped.select(
            F.col("src").alias("x"), F.col("dst").alias("z"), F.lit(1).alias("m2")
        )
        d3 = dropped.select(
            F.col("src").alias("y"), F.col("dst").alias("z"), F.lit(1).alias("m3")
        )
        # A triangle dies when any of its three edges dropped; supports
        # for the next round are the role counts over the SURVIVING
        # ledger — identical to re-enumerating triangles of the
        # surviving edge set, without rebuilding adjacency. (An A/B
        # against explicit per-edge support decrements measured the
        # decrement bookkeeping WORSE — an extra checkpointed join
        # layer per round costs more than recounting 3·|tri| tiny rows;
        # min-of-3 interleaved 15.0 s vs 24.4 s — so the recount is the
        # kept shape. A r13 variant replacing these marker left-joins
        # with three LEFT ANTI joins against one identically-projected
        # dropped set ALSO measured worse — per-round unit min-of-4
        # interleaved: marker+union 1.80 s, anti+union 2.06 s,
        # anti+explode 2.37 s; full-key A/B old 18.2 s vs new 22.4 s at
        # ≤0.4% steal — so the marker shape is the kept one, too.)
        tri = (
            tri.join(maybe_bcast(d1), ["x", "y"], "left")
            .join(maybe_bcast(d2), ["x", "z"], "left")
            .join(maybe_bcast(d3), ["y", "z"], "left")
            .filter(
                F.col("m1").isNull()
                & F.col("m2").isNull()
                & F.col("m3").isNull()
            )
            .select("x", "y", "z")
            .localCheckpoint(eager=False)
        )
        sup = role_sup(tri).localCheckpoint(eager=False)
        # One job: materializes this round's sup (and, chained through
        # its lineage, the surviving-triangle blocks) and returns the
        # survivor count.
        n_new = sup.filter(surv).count()
        return (tri, sup, n_new), n_keep - n_new

    # `edges` rides the entry state: read only until the count below
    # materializes tri/sup, it is freed with round 1's superseded ledger
    _, sup, _ = fixpoint(
        "ktruss_peel", (tri, sup, sup.filter(surv).count(), edges), peel,
        KTRUSS_MAX_ROUNDS,
    )
    return sup.filter(surv).select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
        "support",
    )


# ---------------------------------------------------------------------------
# graph_random_walk — deterministic node2vec-style walk sampling (r10)
# ---------------------------------------------------------------------------

WALK_LEN = 4        # steps per walk (output has WALK_LEN + 1 positions)
WALKS_PER_SEED = 2
WALK_SRC_MOD = 100  # seeds = graph nodes with part id ≡ 0 (mod this)


def _walk_adj_sql() -> str:
    return f"""
    op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {BFS_MIN_CO}
    ),
    edges AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0
    ),
    adj AS MATERIALIZED (
      SELECT src, dst,
             CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
                  AS BIGINT) AS idx,
             CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
      FROM edges
    ),
    walks0 AS (
      SELECT seed * {WALKS_PER_SEED} + j AS walk_id, seed AS node
      FROM (SELECT DISTINCT src AS seed FROM adj
            WHERE src % {WALK_SRC_MOD} = 0),
           UNNEST(range(0, {WALKS_PER_SEED})) AS t(j)
    )"""


def _walk_step_sql(rounds: int) -> str:
    parts = []
    for t in range(1, rounds + 1):
        p = t - 1
        parts.append(f"""
    walks{t} AS (
      SELECT w.walk_id, a.dst AS node
      FROM walks{p} w JOIN adj a ON a.src = w.node
       AND a.idx = 1 + CAST('0x' || substr(md5(
             CAST(w.walk_id AS VARCHAR) || ':' || CAST({t} AS VARCHAR)
           ), 1, 8) AS BIGINT) % a.deg
    )""")
    return ",".join(parts)


@query("graph_random_walk", oracle=f"""
    WITH {_walk_adj_sql()},
    {_walk_step_sql(WALK_LEN)}
    SELECT walk_id, CAST(step AS INT) AS step, node FROM (
      {" UNION ALL ".join(
          f"SELECT walk_id, {t} AS step, node FROM walks{t}"
          for t in range(0, WALK_LEN + 1)
      )}
    )
""")
def graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus over the co-purchase graph
    (new r10) — the SAMPLING stage of DeepWalk/node2vec: the walks are
    the 'sentences' a skip-gram embedding trains on, and generating
    them is a pure data-engine job (the embedding fit is not). Each
    seed (nodes ≡ 0 mod {WALK_SRC_MOD}) starts {WALKS_PER_SEED} walks
    of {WALK_LEN} steps; step t of walk w moves to neighbor index
    1 + md5(w ‖ ':' ‖ t) mod deg(v) in the id-ordered adjacency — the
    md5-as-RNG device (sample_random's contract): reproducible,
    seedable, and exactly replayable in SQL, where a real RNG could
    never be driver-hash-checked.

    Exactness: adjacency indices are row_number over (src, dst id
    order); the neighbor draw is integer md5 arithmetic; every output
    cell is a BIGINT.

    Scale shape: the adjacency index is built once ({WALK_LEN} reuses);
    each step is ONE equi-join of the walk frontier against adj on
    (node, drawn index) — frontier size is constant (|seeds| ×
    {WALKS_PER_SEED}), so total work is {WALK_LEN} keyed lookups,
    never frontier × neighborhood fan-out (contrast BFS, which must
    expand). At 100 TB adjacency is bucketed by src and each step is a
    co-located join; walks shard embarrassingly by walk_id."""
    from quackflight_spark.pipeline.frame_cache import shared_frame

    def build_adj() -> DataFrame:
        op = (
            load_table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        a, b = op.alias("a"), op.alias("b")
        e0 = (
            a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
            .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
            .agg(F.count(F.lit(1)).alias("n_co"))
            .filter(F.col("n_co") >= BFS_MIN_CO)
            .select("u", "v")
        )
        edges = e0.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
            e0.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        from pyspark.sql import Window as W

        return edges.select(
            "src",
            "dst",
            F.row_number()
            .over(W.partitionBy("src").orderBy("dst"))
            .cast("bigint")
            .alias("idx"),
            F.count(F.lit(1))
            .over(W.partitionBy("src"))
            .cast("bigint")
            .alias("deg"),
        )

    adj = shared_frame("walk_adj", sf_dir, build_adj)
    seeds = (
        adj.select(F.col("src").alias("seed"))
        .filter(F.col("seed") % WALK_SRC_MOD == 0)
        .distinct()
    )
    frontier = seeds.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(WALKS_PER_SEED - 1)),
                lambda j: F.col("seed") * WALKS_PER_SEED + j,
            )
        ).alias("walk_id"),
        F.col("seed").alias("node"),
    )
    out = frontier.select("walk_id", F.lit(0).cast("int").alias("step"), "node")
    for t in range(1, WALK_LEN + 1):
        draw = 1 + F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("walk_id").cast("string"),
                        F.lit(":"),
                        F.lit(str(t)),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint") % F.col("deg")
        frontier = (
            frontier.join(adj, frontier.node == adj.src)
            .filter(F.col("idx") == draw)
            .select("walk_id", F.col("dst").alias("node"))
        )
        out = out.unionByName(
            frontier.select(
                "walk_id", F.lit(t).cast("int").alias("step"), "node"
            )
        )
    return out


# ---------------------------------------------------------------------------
# graph_assortativity — degree assortativity coefficient (r11)
# ---------------------------------------------------------------------------

@query("graph_assortativity", oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {BFS_MIN_CO}
    ),
    edges AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY 1),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS m_directed,
             CAST(sum(CAST(da.d AS DECIMAL(38,0))) AS BIGINT) AS sx,
             CAST(sum(CAST(da.d AS DECIMAL(38,0)) * db.d) AS BIGINT) AS sxy,
             CAST(sum(CAST(da.d AS DECIMAL(38,0)) * da.d) AS BIGINT) AS sx2
      FROM edges e
      JOIN deg da ON da.node = e.a
      JOIN deg db ON db.node = e.b
    )
    SELECT m_directed, sx, sxy, sx2,
           round((CAST(m_directed AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (CAST(m_directed AS DOUBLE) * CAST(sx2 AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS assortativity
    FROM mo
""")
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (new r11) — Newman (2002)'s
    one-number mixing summary: the Pearson correlation of endpoint
    degrees over the directed edge list (each undirected co-purchase
    edge contributes both orientations, which makes the x and y
    marginals identical by symmetry, so r = (M·Sxy − Sx²)/(M·Sx2 −
    Sx²) from THREE moment sums). Positive = hubs attach to hubs
    (social shape), negative = hubs attach to leaves
    (infrastructure / star shape). Uses full degree (the networkx
    convention) rather than Newman's excess degree, stated here so the
    parity contract is explicit. Complements the structure suite:
    triangles/ktruss measure local closure, kcore global density —
    this measures WHO connects to whom by degree class.

    Exactness: degrees and all three moment sums are exact integers
    accumulated in DECIMAL(38,0) (the agg_ols_multi overflow fix:
    cast INSIDE the aggregate on one product operand) and emitted as
    BIGINT; r is ONE shared-text double expression from those exact
    integers — identical IEEE in both engines.

    Scale shape: the support-thresholded pair-expansion edge build
    (shared bfs_edges staging frame), one degree groupBy, two
    edge-to-degree hash joins (degree table broadcast-size), one
    map-side-combinable 4-moment aggregate. Single pass over edges;
    no iteration, no windows."""
    from quackflight_spark.pipeline.frame_cache import shared_frame

    def build_edges() -> DataFrame:
        op = (
            load_table(spark, sf_dir, "lineitem")
            .select(
                F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
            )
            .distinct()
        )
        a, b = op.alias("a"), op.alias("b")
        e0 = (
            a.join(
                b,
                (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
            )
            .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
            .agg(F.count(F.lit(1)).alias("n_co"))
            .filter(F.col("n_co") >= BFS_MIN_CO)
            .select("u", "v")
        )
        return e0.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).union(e0.select(F.col("v").alias("src"), F.col("u").alias("dst")))

    edges = shared_frame("bfs_edges", sf_dir, build_edges)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("dxa"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("dxb"))
    mo = (
        edges.join(F.broadcast(da), "src")
        .join(F.broadcast(db), "dst")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m_directed"),
            F.sum(F.col("dxa").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("sx"),
            F.sum(F.col("dxa").cast("decimal(38,0)") * F.col("dxb"))
            .cast("bigint")
            .alias("sxy"),
            F.sum(F.col("dxa").cast("decimal(38,0)") * F.col("dxa"))
            .cast("bigint")
            .alias("sx2"),
        )
    )
    md = F.col("m_directed").cast("double")
    sxd = F.col("sx").cast("double")
    return mo.select(
        "m_directed",
        "sx",
        "sxy",
        "sx2",
        F.round(
            (md * F.col("sxy").cast("double") - sxd * sxd)
            / (md * F.col("sx2").cast("double") - sxd * sxd),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# graph_diameter_2sweep — double-sweep BFS diameter lower bound (r11)
# ---------------------------------------------------------------------------

DIAM_MAX_HOPS = 20  # recursion cap, safely above the measured diameter
# (13 at sf0.01; co-purchase graphs DENSIFY with scale, so the true
# diameter shrinks as sf grows — the cap is not a correctness risk, and
# an ecc equal to the cap would be visible on the row)


@query("graph_diameter_2sweep", oracle=f"""
    WITH RECURSIVE op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {BFS_MIN_CO}
    ),
    edges AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
    s1 AS (SELECT min(a) AS node FROM edges),
    walk1(node, d) AS (
      SELECT node, 0 FROM s1
      UNION
      SELECT e.b, w.d + 1 FROM walk1 w JOIN edges e ON e.a = w.node
      WHERE w.d < {DIAM_MAX_HOPS}
    ),
    dist1 AS (SELECT node, CAST(min(d) AS BIGINT) AS d
              FROM walk1 GROUP BY 1),
    far AS (
      SELECT node, d FROM (
        SELECT node, d, row_number() OVER (ORDER BY d DESC, node) AS r
        FROM dist1) WHERE r = 1
    ),
    walk2(node, d) AS (
      SELECT node, 0 FROM far
      UNION
      SELECT e.b, w.d + 1 FROM walk2 w JOIN edges e ON e.a = w.node
      WHERE w.d < {DIAM_MAX_HOPS}
    ),
    dist2 AS (SELECT node, CAST(min(d) AS BIGINT) AS d
              FROM walk2 GROUP BY 1),
    far2 AS (
      SELECT node, d FROM (
        SELECT node, d, row_number() OVER (ORDER BY d DESC, node) AS r
        FROM dist2) WHERE r = 1
    )
    SELECT s1.node AS sweep1_src, f.node AS sweep2_src,
           CAST(f.d AS BIGINT) AS ecc_sweep1,
           f2.node AS far_node, CAST(f2.d AS BIGINT) AS diameter_lb,
           (SELECT CAST(count(*) AS BIGINT) FROM dist1) AS n_reached,
           (SELECT CAST(count(*) AS BIGINT) FROM dist2) AS n_reached2
    FROM s1, far f, far2 f2
""")
def graph_diameter_2sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diameter lower bound by the double-sweep heuristic (new
    r11; Magnien/Latapy/Habib 2009 — the standard cheap diameter
    estimator, exact on trees and near-exact on real-world graphs):
    BFS from a deterministic seed (the minimum node id), take the
    farthest node (tie: min id), BFS again from it — the second
    eccentricity is a certified LOWER bound on the diameter for the
    cost of two traversals instead of |V|. Completes the global-
    distance story: graph_closeness averages distances per node,
    graph_bfs answers reachability from a seed set; this bounds the
    graph's extent. Both reached-node counts are emitted so the bound
    is auditable (connected component fully swept, ecc < cap).

    Exactness: hop distances, argmax selections (d DESC, node), and
    the bound are pure integers; nothing floats.

    Scale shape (Spark): two level-synchronous frontier expansions
    over the shared support-thresholded edge staging frame (the
    graph_bfs plan run to exhaustion — each hop one keyed join + one
    min-merge, rounds = eccentricity, empirically ≤13 and SHRINKING
    with scale as the graph densifies). The oracle states the same
    two sweeps as capped recursive walks, the second seeded by the
    first's argmax."""
    from quackflight_spark.pipeline.frame_cache import shared_frame

    def build_edges() -> DataFrame:
        op = (
            load_table(spark, sf_dir, "lineitem")
            .select(
                F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
            )
            .distinct()
        )
        a, b = op.alias("a"), op.alias("b")
        e0 = (
            a.join(
                b,
                (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
            )
            .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
            .agg(F.count(F.lit(1)).alias("n_co"))
            .filter(F.col("n_co") >= BFS_MIN_CO)
            .select("u", "v")
        )
        return e0.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).union(e0.select(F.col("v").alias("src"), F.col("u").alias("dst")))

    edges = shared_frame("bfs_edges", sf_dir, build_edges)

    def sweep(src_node: int):
        """Level-synchronous BFS to exhaustion, fully DISTRIBUTED: the
        dist/frontier tables never leave the cluster — each hop is one
        keyed join + one anti-join, the driver sees only the per-hop
        delta COUNT (the kcore/wcc loop discipline; localCheckpoint
        truncates the growing lineage). Returns (far, ecc, n_reached)
        scalars."""
        dist = spark.createDataFrame(
            [(int(src_node), 0)], "node bigint, d int"
        ).localCheckpoint(eager=False)
        frontier = dist.select("node")
        for hop in range(1, DIAM_MAX_HOPS + 1):
            reached = (
                frontier.withColumnRenamed("node", "src")
                .join(edges, "src")
                .select(F.col("dst").alias("node"))
                .distinct()
            )
            new = (
                reached.join(dist.select("node"), "node", "left_anti")
                .withColumn("d", F.lit(hop))
                # lazy + fused emptiness probe (r12): isEmpty
                # materializes the checkpoint blocks in the same job
                .localCheckpoint(eager=False)
            )
            if new.isEmpty():
                break
            dist = dist.union(new).localCheckpoint(eager=False)
            frontier = new.select("node")
        top = (
            dist.orderBy(F.desc("d"), "node").limit(1).collect()[0]
        )
        n_reached = dist.count()
        return int(top.node), int(top.d), n_reached

    src1 = int(edges.agg(F.min("src")).collect()[0][0])
    far1, ecc1, n1 = sweep(src1)
    far2, ecc2, n2 = sweep(far1)
    return spark.createDataFrame(
        [(int(src1), far1, ecc1, far2, ecc2, n1, n2)],
        "sweep1_src bigint, sweep2_src bigint, ecc_sweep1 bigint, "
        "far_node bigint, diameter_lb bigint, n_reached bigint, "
        "n_reached2 bigint",
    )
