"""Recursive CTE capability — SURVEY.md §4.2.

DuckDB (delegated at reference main.py:231) supports WITH RECURSIVE;
Spark gained native support in 4.0 (SPARK-24497: the UnionLoop /
UnionLoopRef physical operator iterates the recursion engine-side, each
step a distributed plan). This session runs Spark 4.1.2, so the
registered key uses the NATIVE form — the optimizer sees one plan,
anchors/steps get whole-stage codegen, and no driver round-trips happen
between iterations.

`fixpoint_reachability` stays as the documented fallback for engines
without WITH RECURSIVE (Spark <4.0): a driver-side fixpoint loop where
each iteration is one distributed join round and the driver only checks
a scalar is-empty flag — the classic transitive-closure pattern. Both
forms are tested equal (tests/test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quackflight_spark.registry import query
from quackflight_spark.sources.fixtures import load_table, register_all

MAX_ITERATIONS = 50  # safety bound; the fixture hierarchy is depth 2

_RECURSIVE_SQL = """
    WITH RECURSIVE r(start, reach, depth) AS (
      SELECT c_custkey + 100000, CAST(c_nationkey AS BIGINT), 1 FROM customer
      UNION ALL
      SELECT r.start, e.dst, r.depth + 1
      FROM r JOIN (
        SELECT CAST(n_nationkey AS BIGINT) AS src,
               CAST(n_regionkey + 1000 AS BIGINT) AS dst FROM nation
      ) e ON r.reach = e.src
    )
    SELECT start, reach, CAST(depth AS INT) AS depth FROM r
"""


def fixpoint_reachability(seeds: DataFrame, edges: DataFrame) -> DataFrame:
    """UNION ALL-recursive expansion from seed rows (start, reach, depth)
    over edges (src, dst), to fixpoint — WITH RECURSIVE semantics for
    engines without native support. Requires an acyclic edge set (like
    SQL UNION ALL recursion): a frontier still non-empty after
    MAX_ITERATIONS rounds (a cycle) raises, as Spark's native WITH
    RECURSIVE does at its level limit, instead of returning a truncated
    closure."""
    frontier = seeds.persist()
    closure = frontier
    for _ in range(MAX_ITERATIONS):
        nxt = (
            frontier.join(edges, frontier.reach == edges.src)
            .select("start", F.col("dst").alias("reach"), (F.col("depth") + 1).alias("depth"))
            .persist()
        )
        if nxt.isEmpty():
            return closure
        closure = closure.union(nxt)
        frontier = nxt
    raise RuntimeError(
        "fixpoint_reachability: frontier still non-empty after "
        f"{MAX_ITERATIONS} rounds (cyclic edge set?)"
    )


def fixpoint_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-side fixpoint form of recursive_cte — the <4.0
    fallback, kept callable so tests can assert it equals the native
    plan."""
    c = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") + 100000).alias("start"),
        F.col("c_nationkey").cast("bigint").alias("reach"),
        F.lit(1).alias("depth"),
    )
    n_edges = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("src"),
        (F.col("n_regionkey") + 1000).cast("bigint").alias("dst"),
    )
    closure = fixpoint_reachability(c, n_edges)
    return closure.select("start", "reach", F.col("depth").cast("int").alias("depth"))


PR_ITERS = 3
PR_SCALE = 10**12      # fixed-point rank scale (bigint-exact in both engines)
PR_DAMP_NUM = 85       # damping 0.85 as an integer 85/100 multiply-divide


def _pr_edges_sql() -> str:
    """Edge list of the customer→nation→region FK graph (same disjoint
    id offsets as recursive_cte)."""
    return """
    edges AS (
      SELECT c_custkey + 100000 AS src, CAST(c_nationkey AS BIGINT) AS dst
      FROM customer
      UNION ALL
      SELECT CAST(n_nationkey AS BIGINT), CAST(n_regionkey + 1000 AS BIGINT)
      FROM nation
    ),
    nodes AS (
      SELECT DISTINCT v FROM (
        SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY src)"""


def _pr_oracle() -> str:
    # `//` everywhere: DuckDB's `/` on BIGINTs is FLOAT division; the
    # fixed-point contract needs integer division in both engines
    n_expr = "(SELECT count(*) FROM nodes)"
    base = f"CAST({PR_SCALE} AS BIGINT) // {n_expr}"
    parts = [f"""WITH {_pr_edges_sql()},
    r0 AS (SELECT v, {base} AS r FROM nodes)"""]
    for i in range(1, PR_ITERS + 1):
        p = i - 1
        parts.append(f""",
    r{i} AS (
      SELECT n.v,
             ({100 - PR_DAMP_NUM} * ({base})) // 100
             + ({PR_DAMP_NUM} * COALESCE(m.contrib, 0)) // 100 AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS v, CAST(sum(pr.r // d.outdeg) AS BIGINT) AS contrib
        FROM edges e
        JOIN r{p} pr ON pr.v = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
      ) m ON m.v = n.v
    )""")
    parts.append(f"""
    SELECT v AS node, r AS rank_scaled,
           round(CAST(r AS DOUBLE) / {PR_SCALE}, 9) AS rank
    FROM r{PR_ITERS}""")
    return "".join(parts)


@query("graph_pagerank", oracle=_pr_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the customer→nation→region FK graph
    (new r5) — the iterative-graph-analytics primitive, built the same
    way the r5 ANN oracles were made exact: a FIXED iteration count
    unrolls into plain relational algebra, and the rank arithmetic is
    INTEGER fixed-point (scale 10^12, damping as an 85/100
    multiply-divide, integer division throughout), so the result is
    bit-identical in any engine and under any partitioning — no float
    summation order anywhere. Dangling mass follows the simplified
    PageRank convention (dropped, consistent in both engines).

    Scale shape: each iteration is one rank⋈edges equi-join shuffle +
    one dst-keyed partial-agg — the textbook distributed PageRank step;
    iterations compose in ONE Catalyst plan (no driver loop, no
    materialization between rounds at this depth). At true graph scale
    the per-round localCheckpoint pattern of dedup_clusters applies
    unchanged."""
    from pyspark.sql import Window as W

    from quackflight_spark.pipeline.frame_cache import shared_frame

    def build_edges() -> DataFrame:
        c = load_table(spark, sf_dir, "customer").select(
            (F.col("c_custkey") + 100000).alias("src"),
            F.col("c_nationkey").cast("bigint").alias("dst"),
        )
        n = load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("bigint").alias("src"),
            (F.col("n_regionkey") + 1000).cast("bigint").alias("dst"),
        )
        # outdeg rides ON the edge rows (one src-keyed window at build
        # time, pinned with the frame) — deg is node-cardinality, so
        # joining (let alone broadcasting) it per iteration would ship
        # a |V|-sized table every round at graph scale
        return c.unionByName(n).withColumn(
            "outdeg", F.count(F.lit(1)).over(W.partitionBy("src")).cast("bigint")
        )

    # pin the static graph structures once (persisted): without this,
    # every unrolled iteration re-derives edges/nodes from the scan
    # and the plan balloons (23 exchanges measured) — with it, each
    # round is exactly one rank⋈edges shuffle + one dst-keyed agg
    edges = shared_frame("pagerank_edges", sf_dir, build_edges)
    nodes = shared_frame(
        "pagerank_nodes",
        sf_dir,
        lambda: edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct(),
    )
    n_nodes = nodes.count()  # one scalar job; node count is metadata-scale
    base = PR_SCALE // n_nodes
    # exact Python ints == the oracle's integer-division chain
    teleport = ((100 - PR_DAMP_NUM) * base) // 100
    ranks = nodes.withColumn("r", F.lit(base).cast("bigint"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum(F.expr("r DIV outdeg")).cast("bigint").alias("contrib"))
        )
        ranks = nodes.join(contrib, "v", "left").select(
            "v",
            (
                F.lit(teleport).cast("bigint")
                + F.expr(
                    f"({PR_DAMP_NUM} * COALESCE(contrib, CAST(0 AS BIGINT))) DIV 100"
                )
            ).alias("r"),
        )
    return ranks.select(
        F.col("v").alias("node"),
        F.col("r").alias("rank_scaled"),
        F.round(F.col("r").cast("double") / PR_SCALE, 9).alias("rank"),
    )


HITS_ITERS = 3
HITS_SCALE = 10**6  # fixed-point scale; raw·SCALE ≤ |E|·SCALE² must stay
# in int64 (|E|·1e12 here — the pagerank "pre-scale once past ~1e12
# edges" convention applies at real graph scale)
# Broadcast gate for the per-half-round rank frame and the final
# assembly (r13; the MLC/SCC/KTRUSS gate precedent): every rank frame
# is ≤ |nodes| rows by construction (the first half-round broadcasts
# the FULL node set, later rounds only mass-holding nodes), so one
# node count decides the whole unroll. 4 M (v, r) int64 pairs ~ 64 MB
# serialized — far under the 8 GB broadcast cap; past the gate the
# keyed-shuffle join shape is unchanged (correct 100 TB behavior for
# a fat-tailed graph whose mass-holding side is NOT small).
HITS_BROADCAST_NODE_LIMIT = 4_000_000


def _hits_oracle() -> str:
    """HITS hubs/authorities, fixed {HITS_ITERS} rounds, integer
    fixed-point (the graph_pagerank device): a ← Σ_in h, h ← Σ_out a,
    each renormalized to mass HITS_SCALE via integer division — `//`
    in DuckDB, DIV in Spark, bit-identical everywhere."""
    parts = [f"""WITH {_pr_edges_sql()},
    h0 AS (SELECT v, CAST({HITS_SCALE} AS BIGINT) AS r FROM nodes)"""]
    for i in range(1, HITS_ITERS + 1):
        p = i - 1
        parts.append(f""",
    a{i}raw AS (
      SELECT n.v, CAST(COALESCE(s.x, 0) AS BIGINT) AS x
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS v, CAST(sum(h.r) AS BIGINT) AS x
        FROM edges e JOIN h{p} h ON h.v = e.src GROUP BY e.dst
      ) s ON s.v = n.v
    ),
    a{i}tot AS (SELECT CAST(greatest(sum(x), 1) AS BIGINT) AS t
                FROM a{i}raw),
    a{i} AS (
      SELECT v, CAST((x * {HITS_SCALE}) // t.t AS BIGINT) AS r
      FROM a{i}raw CROSS JOIN a{i}tot t
    ),
    h{i}raw AS (
      SELECT n.v, CAST(COALESCE(s.x, 0) AS BIGINT) AS x
      FROM nodes n LEFT JOIN (
        SELECT e.src AS v, CAST(sum(a.r) AS BIGINT) AS x
        FROM edges e JOIN a{i} a ON a.v = e.dst GROUP BY e.src
      ) s ON s.v = n.v
    ),
    h{i}tot AS (SELECT CAST(greatest(sum(x), 1) AS BIGINT) AS t
                FROM h{i}raw),
    h{i} AS (
      SELECT v, CAST((x * {HITS_SCALE}) // t.t AS BIGINT) AS r
      FROM h{i}raw CROSS JOIN h{i}tot t
    )""")
    parts.append(f"""
    SELECT h.v AS node,
           h.r AS hub_scaled, a.r AS auth_scaled,
           round(CAST(h.r AS DOUBLE) / {HITS_SCALE}, 9) AS hub,
           round(CAST(a.r AS DOUBLE) / {HITS_SCALE}, 9) AS auth
    FROM h{HITS_ITERS} h JOIN a{HITS_ITERS} a ON a.v = h.v""")
    return "".join(parts)


@query("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (new r12; Kleinberg 1999) over the
    customer→nation→region FK graph — the OTHER classical link-analysis
    fixpoint next to graph_pagerank, separating pointer-mass (hubs:
    nodes whose out-links reach strong authorities) from pointed-at
    mass (authorities) instead of folding both into one stationary
    score. Built with the pagerank r5 device end-to-end: a FIXED
    {HITS_ITERS}-round unroll, INTEGER fixed-point throughout (scale
    {HITS_SCALE}; the per-round sum-normalization — the place real
    HITS needs floats — is an exact integer multiply-then-divide with
    a shared greatest(·,1) guard), so the result is bit-identical in
    any engine under any partitioning.

    Scale shape: each half-round is one rank⋈edges equi-join shuffle +
    one partial agg keyed on the opposite endpoint, exactly pagerank's
    step with src/dst swapped; the normalization total is a 1-row
    aggregate broadcast back. Edges and nodes pin once via
    shared_frame (the pagerank lesson: without it every unrolled round
    re-derives the graph from the scan)."""
    from quackflight_spark.pipeline.frame_cache import shared_frame

    def build_edges() -> DataFrame:
        c = load_table(spark, sf_dir, "customer").select(
            (F.col("c_custkey") + 100000).alias("src"),
            F.col("c_nationkey").cast("bigint").alias("dst"),
        )
        n = load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("bigint").alias("src"),
            (F.col("n_regionkey") + 1000).cast("bigint").alias("dst"),
        )
        return c.unionByName(n)

    edges = shared_frame("hits_edges", sf_dir, build_edges)
    nodes = shared_frame(
        "hits_nodes",
        sf_dir,
        lambda: edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct(),
    )

    # Size-gated broadcasts (r13; VERDICT r12 what's-wrong #1): the
    # rank frame is ≤ |nodes| rows every half-round — the FIRST
    # half-round carries the full node set, so "mass-holding nodes are
    # few" is a topology-dependent assumption, not a bound. One entry
    # count (nodes is a pinned shared_frame, so this rides the setup)
    # gates every broadcast in the unroll; past the gate the keyed
    # joins below keep their shuffle shape unchanged.
    n_nodes = nodes.count()
    bcast = n_nodes <= HITS_BROADCAST_NODE_LIMIT

    def maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast else df

    def half_round(rank: DataFrame, key: str, other: str) -> DataFrame:
        # ZERO ROWS ARE DROPPED, not carried (r12 rework): the r12
        # first cut left-joined `nodes` every half-round so every node
        # kept an explicit 0 — but a zero rank contributes nothing to
        # the opposite side's sums and nothing to the normalization
        # total (greatest(Σx, 1) over contributors == over all nodes),
        # and (0·S) DIV t = 0, so dropping the zero rows is exact and
        # the full node set is reinstated once at the final output.
        # That shrinks the rank frames to the nodes that actually hold
        # mass and removes one join per half-round. The rank frame is
        # broadcast into the edges join UNDER THE GATE (it is ≤ |nodes|
        # rows — small for THIS FK topology, gated for any other), the
        # total stays IN-PLAN as a broadcast 1-row aggregate (the
        # oracle's a{i}tot CROSS JOIN shape) rather than a driver-side
        # first() — so a half-round is one broadcast join + one partial
        # agg + one tiny re-agg, and the whole 6-deep lazy-checkpoint
        # chain materializes under the single final action with no
        # per-round driver sync. Integer multiply-then-DIV against the
        # broadcast total is the same exact `//` chain as the oracle.
        contrib = (
            edges.join(maybe_bcast(rank.withColumnRenamed("v", other)), other)
            .groupBy(F.col(key).alias("v"))
            .agg(F.sum("r").cast("bigint").alias("x"))
        )
        tot = contrib.agg(
            F.greatest(F.sum("x"), F.lit(1)).cast("bigint").alias("t")
        )
        return (
            contrib.crossJoin(F.broadcast(tot))
            .select(
                "v",
                F.expr(f"(x * {HITS_SCALE}) DIV t").cast("bigint").alias("r"),
            )
            .localCheckpoint(eager=False)
        )

    h = nodes.withColumn("r", F.lit(HITS_SCALE).cast("bigint"))
    a = None
    for _ in range(HITS_ITERS):
        a = half_round(h, "dst", "src")     # authorities gather in-mass
        h = half_round(a, "src", "dst")     # hubs gather out-mass
    return (
        nodes.select(F.col("v").alias("node"))
        # broadcast hints (size-gated like the rounds): the rank frames
        # are ≤ |mass-holding nodes| rows but their checkpointed stats
        # don't say so — without the hint the final assembly planned
        # two SortMergeJoins
        .join(
            maybe_bcast(
                h.select(F.col("v").alias("node"), F.col("r").alias("hs"))
            ),
            "node",
            "left",
        )
        .join(
            maybe_bcast(
                a.select(F.col("v").alias("node"), F.col("r").alias("as_"))
            ),
            "node",
            "left",
        )
        .select(
            "node",
            F.coalesce("hs", F.lit(0)).cast("bigint").alias("hub_scaled"),
            F.coalesce("as_", F.lit(0)).cast("bigint").alias("auth_scaled"),
        )
        .select(
            "node",
            "hub_scaled",
            "auth_scaled",
            F.round(F.col("hub_scaled").cast("double") / HITS_SCALE, 9).alias("hub"),
            F.round(F.col("auth_scaled").cast("double") / HITS_SCALE, 9).alias(
                "auth"
            ),
        )
    )


@query("recursive_cte", oracle=_RECURSIVE_SQL)
def recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure over the customer→nation→region FK hierarchy
    (ids offset into disjoint ranges so the walk is acyclic) — the
    WITH RECURSIVE shape, computed NATIVELY on Spark ≥4.0 (UnionLoop:
    the recursion runs engine-side, no driver round-trips between
    iterations; identical SQL text to the DuckDB oracle). Falls back to
    the distributed driver-side fixpoint on engines without native
    recursion."""
    register_all(spark, sf_dir)
    try:
        return spark.sql(_RECURSIVE_SQL)
    except Exception:  # pragma: no cover - Spark <4.0 fallback
        return fixpoint_recursive_cte(spark, sf_dir)


TRI_MIN_CO = 2  # co-purchase support threshold (same as BASKET_MIN_CO)


@query("graph_triangles", oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {TRI_MIN_CO}
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_tri
    FROM (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
    GROUP BY node
""")
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph (new r6):
    parts are nodes, an edge links parts co-bought in ≥ TRI_MIN_CO
    orders (the basket_pair_lift support rule), and a triangle is three
    mutually co-bought parts — the local-clustering primitive behind
    community detection and recommender neighborhoods.

    Scale shape: the standard DEGREE-ORDERED orientation — each
    undirected edge is directed from its lower-(degree, id) endpoint to
    the higher, so every triangle materializes exactly once as
    (x→y, x→z, y→z) with x ≺ y ≺ z, and the 2-path fan-out per middle
    node is bounded by its FORWARD degree, O(√m) on any graph
    (arboricity bound) — a degree-10^6 hub contributes almost no
    2-paths because nearly all its edges point INTO it. Two equi-join
    shuffles (2-path build, closing-edge semi-check) over the oriented
    edge frame; per-node counts are one explode + map-side-combinable
    agg. The triangle SET is orientation-invariant, so the oracle's
    plain id-ordered SQL counts the identical triangles.

    Reference parity: beyond-reference analytics add-on (SURVEY §2.12),
    same family as graph_pagerank."""
    from quackflight_spark.pipeline.frame_cache import shared_frame

    op = shared_frame(
        "basket_op",
        sf_dir,
        lambda: load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct(),
    )

    def build_oriented() -> DataFrame:
        a, b = op.alias("a"), op.alias("b")
        und = (
            a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
            .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
            .agg(F.count(F.lit(1)).alias("n_co"))
            .filter(F.col("n_co") >= TRI_MIN_CO)
            .select("u", "v")
        )
        deg = (
            und.select(F.col("u").alias("node"))
            .unionByName(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        )
        # orient toward the higher (deg, id) endpoint; deg is
        # node-cardinality (bounded by the part dimension) so AQE
        # broadcasts it at fixture scale and key-shuffles past that
        du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
        dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
        fwd = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        return und.join(du, "u").join(dv, "v").select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )

    oriented = shared_frame("tri_oriented_edges", sf_dir, build_oriented)
    e1 = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = oriented.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    e3 = oriented.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"], "left_semi")
        .select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
        )
    )
    return tri.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))


JACCARD_MIN_COMMON = 3  # emit pairs sharing at least this many neighbors


@query("graph_jaccard", oracle=f"""
    WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM sp GROUP BY s),
    common AS (
      SELECT a.s AS s_a, b.s AS s_b, CAST(count(*) AS BIGINT) AS n_common
      FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2 HAVING count(*) >= {JACCARD_MIN_COMMON}
    )
    SELECT c.s_a, c.s_b, c.n_common,
           CAST(da.d + db.d - c.n_common AS BIGINT) AS n_union,
           round(CAST(c.n_common AS DOUBLE)
                 / (da.d + db.d - c.n_common), 6) AS jaccard
    FROM common c
    JOIN deg da ON da.s = c.s_a
    JOIN deg db ON db.s = c.s_b
""")
def graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity over the supplier–part bipartite
    graph (new r6): similarity(s_a, s_b) = |parts(a) ∩ parts(b)| /
    |parts(a) ∪ parts(b)| — the structural-equivalence primitive behind
    co-occurrence recommenders, entity blocking, and graph dedup
    (SimRank's first hop).

    Scale shape — common-neighbor counting WITHOUT the all-pairs
    product: the distinct edge list self-joins on the shared NEIGHBOR
    (part) key, so candidate volume is Σ_p deg(p)² over parts, bounded
    by neighborhood density, never |suppliers|². The per-part fan-out is
    the hub hazard (one mega-degree part owns a join key at 100 TB) —
    the same bounded-block contract as the fuzzy/basket/semantic
    family; a production run pre-caps part degree or salts the hub
    (join_skew_salted shows the recipe). Degrees join back broadcast
    (|suppliers| « edges); intersection counts ≥ {JACCARD_MIN_COMMON}
    keep the output the interesting-pair set rather than the noise
    floor. All counts are integers; jaccard is the identical
    int/int double division in both engines, round-6."""
    from quackflight_spark.pipeline.frame_cache import shared_frame

    # the distinct edge list feeds BOTH self-join sides and the degree
    # frame — persist it once per corpus (the materialized staging-table
    # pattern) so the fact table is scanned once, not three times
    sp = shared_frame(
        "jaccard_edges",
        sf_dir,
        lambda: load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct(),
    )
    deg = sp.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = sp.select(F.col("s").alias("s_a"), "p")
    b = sp.select(F.col("s").alias("s_b"), "p")
    common = (
        a.join(b, "p")
        .filter(F.col("s_a") < F.col("s_b"))
        .groupBy("s_a", "s_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .filter(F.col("n_common") >= JACCARD_MIN_COMMON)
    )
    da = deg.select(F.col("s").alias("s_a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("s").alias("s_b"), F.col("d").alias("d_b"))
    n_union = F.col("d_a") + F.col("d_b") - F.col("n_common")
    return (
        common.join(F.broadcast(da), "s_a")
        .join(F.broadcast(db), "s_b")
        .select(
            "s_a",
            "s_b",
            "n_common",
            n_union.cast("bigint").alias("n_union"),
            F.round(F.col("n_common").cast("double") / n_union, 6).alias(
                "jaccard"
            ),
        )
    )


WCC_MIN_CO = 3    # co-purchase support threshold for the WCC edge set
WCC_MAX_ROUNDS = 20


@query("graph_wcc", oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {WCC_MIN_CO}
    ),
    edges AS (
      SELECT u AS a, v AS b FROM e0 UNION SELECT v, u FROM e0
    ),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
      ) SELECT a, b FROM r UNION SELECT a, a FROM edges
    ),
    comp AS (SELECT a AS node, min(b) AS component_id FROM reach GROUP BY a)
    SELECT c.node, c.component_id, s.component_size
    FROM comp c JOIN (
      SELECT component_id, CAST(count(*) AS BIGINT) AS component_size
      FROM comp GROUP BY component_id
    ) s USING (component_id)
""")
def graph_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly connected components (new r6) over the co-purchase part
    graph (parts co-ordered with support ≥ {WCC_MIN_CO}) — the
    general-graph sibling of dedup_clusters, exposed as a first-class
    graph operator: community pre-segmentation, entity-resolution
    grouping, reachability partitioning all start here. Returns every
    node with its component id (the component's min node id — a
    canonical, engine-independent labeling) and the component size.

    Runs on the SHARED min-label-propagation kernel
    (pipeline/dedup.py:min_label_components): path-halved pointer
    jumping, O(log diameter) rounds, two keyed shuffles per round,
    localCheckpoint lineage truncation, loud non-convergence. The
    oracle is a DuckDB recursive-CTE transitive closure over the same
    edge set — tractable because the support threshold keeps the
    fixture closure tiny, while the Spark path needs no closure at all.

    Scale shape: the edge build is the bounded pair-expansion self-join
    (same family as basket_pair_lift, support-thresholded so hub
    explosion is filtered in the HAVING); component sizes come from one
    groupBy on the converged labels joined back — no window over the
    full node set."""
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
        .filter(F.col("n_co") >= WCC_MIN_CO)
        .select("u", "v")
    )
    edges = e0.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        e0.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    from quackflight_spark.pipeline.dedup import min_label_components

    labels = min_label_components(edges, WCC_MAX_ROUNDS, "graph_wcc")
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("component_size")
    )
    return labels.join(F.broadcast(sizes), "lbl").select(
        "node",
        F.col("lbl").alias("component_id"),
        "component_size",
    )


@query("graph_modularity_components", oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {WCC_MIN_CO}
    ),
    edges AS (
      SELECT u AS a, v AS b FROM e0 UNION SELECT v, u FROM e0
    ),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
      ) SELECT a, b FROM r UNION SELECT a, a FROM edges
    ),
    comp AS (SELECT a AS node, min(b) AS component_id FROM reach GROUP BY a),
    deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY a),
    vol AS (SELECT c.component_id, CAST(sum(d.d) AS BIGINT) AS vol
            FROM comp c JOIN deg d ON d.node = c.node GROUP BY 1),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
    s AS (SELECT CAST(sum(vol * vol) AS BIGINT) AS sum_vol_sq,
                 CAST(count(*) AS BIGINT) AS n_components FROM vol),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM comp)
    SELECT nn.n_nodes, s.n_components, mm.m AS m_edges, s.sum_vol_sq,
           CAST(4 * mm.m * mm.m - s.sum_vol_sq AS BIGINT) AS q_num,
           CAST(4 * mm.m * mm.m AS BIGINT) AS q_den,
           CAST(4 * mm.m * mm.m - s.sum_vol_sq AS DOUBLE)
             / CAST(4 * mm.m * mm.m AS DOUBLE) AS modularity
    FROM nn, s, mm
""")
def graph_modularity_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the connected-component partition (new r12)
    — the partition-quality audit for the graph family (the
    ann_recall_eval discipline applied to community structure): for
    the WCC partition every edge is intra-community, so Q collapses to
    the exact rational 1 − Σ_c vol_c²/(2m)² — the UPPER BOUND any
    community assignment on this graph can approach from below, the
    yardstick a Louvain/LPA run is judged against (Newman & Girvan
    2004). Emits the exact integer numerator/denominator so the score
    is auditable as a rational on the row, plus the raw double
    quotient.

    Exactness: edge count, degrees, component volumes and both Q sides
    are exact BIGINTs (4m² at fixture scale ≤ ~1e10; the pagerank
    pre-scale convention applies past ~1e9 edges); modularity is the
    RAW quotient of those exact integers.

    Scale shape: the same support-thresholded edge build and shared
    min-label CC kernel as graph_wcc, one degree rollup, one
    volume rollup on converged labels, then single-row arithmetic —
    nothing beyond what wcc already pays."""
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
        .filter(F.col("n_co") >= WCC_MIN_CO)
        .select("u", "v")
        # lazy (r12): materialized by the CC kernel's first fused job
        .localCheckpoint(eager=False)
    )
    edges = e0.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        e0.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    from quackflight_spark.pipeline.dedup import min_label_components

    labels = min_label_components(edges, WCC_MAX_ROUNDS, "graph_modularity")
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    vol = (
        labels.join(deg, "node")
        .groupBy("lbl")
        .agg(F.sum("d").cast("bigint").alias("vol"))
    )
    s = vol.agg(
        F.sum(F.col("vol") * F.col("vol")).cast("bigint").alias("sum_vol_sq"),
        F.count(F.lit(1)).cast("bigint").alias("n_components"),
    )
    mm = e0.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    nn = labels.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    qn = 4 * F.col("m") * F.col("m") - F.col("sum_vol_sq")
    qd = 4 * F.col("m") * F.col("m")
    return (
        nn.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(mm))
        .select(
            "n_nodes",
            "n_components",
            F.col("m").alias("m_edges"),
            "sum_vol_sq",
            qn.cast("bigint").alias("q_num"),
            qd.cast("bigint").alias("q_den"),
            (qn.cast("double") / qd.cast("double")).alias("modularity"),
        )
    )
