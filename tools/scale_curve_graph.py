"""Scaling evidence for the r9 iterative-graph additions (graph_scc,
graph_closeness, graph_betweenness) the way kcore/wcc/dbscan got curves
(VERDICT r9 task 5): wall-clock at sf0.001/0.01/0.1 alongside the
STRUCTURAL volumes each algorithm actually moves —

- scc: nodes/edges of the synthesized order-part digraph, OUTER peel
  rounds and total fused f/b inner rounds (from operators.graph
  ROUND_TRACE), plus the parquet-truncation share (bytes left per run
  under the scc_iter staging root, one dir per outer round once the
  superseded inner rounds are deleted — the price of dodging the
  Catalyst sizeInBytes S^k compounding, graph.py:_scc_materialize).
- closeness: seeds, edges, and the (seed,node,hop) state volume — the
  quantity the level-synchronous join shuffles per hop; hops are FIXED
  (CLOSE_MAX_HOPS), so the curve should scale with state volume, not
  rounds.
- betweenness: seeds, edges, forward-pass path-count rows — hops fixed
  (BETW_MAX_HOPS); dependency sums fold over key-sorted lists.

Any super-linear term shows up as time growing faster than the named
volume column. Usage: python tools/scale_curve_graph.py  (one JSON
line per SF; paste into PERF.md)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SFS = ("0.001", "0.01", "0.1")


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    import __spark_entry__ as e

    import quackflight_spark.operators.graph as g
    from quackflight_spark.pipeline.frame_cache import clear_frames
    from quackflight_spark.session import get_spark
    from quackflight_spark.sources.fixtures import load_table

    spark = get_spark(app_name="scale_curve_graph")
    queries = e.queries()

    for sf in SFS:
        sf_dir = f"/root/testdata/sf{sf}"
        rec: dict = {"sf": sf}

        # shared co-purchase topology volumes (closeness/betweenness)
        op = (
            load_table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        a, b = op.alias("a"), op.alias("b")
        und = (
            a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
            .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
            .agg(F.count(F.lit(1)).alias("n_co"))
            .filter(F.col("n_co") >= g.BFS_MIN_CO)
        )
        rec["und_edges"] = und.count()

        for key, extras in (
            ("graph_scc", "scc"),
            ("graph_closeness", "close"),
            ("graph_betweenness", "betw"),
            ("graph_ktruss", "ktruss"),
        ):
            clear_frames()
            spark.catalog.clearCache()
            g.ROUND_TRACE.clear()
            before_bytes = _du(g._SCC_STAGE) if extras == "scc" else 0
            t0 = time.perf_counter()
            out = queries[key](spark, sf_dir)
            n_out = out.count()
            wall = round(time.perf_counter() - t0, 2)
            rec[f"{extras}_sec"] = wall
            rec[f"{extras}_rows_out"] = n_out
            if extras == "ktruss":
                rec["ktruss_rounds"] = g.ROUND_TRACE.get("ktruss_peel")
            if extras == "scc":
                rec["scc_outer_rounds"] = g.ROUND_TRACE.get("scc_outer")
                rec["scc_fb_inner_rounds"] = g.ROUND_TRACE.get("scc_fb_inner")
                rec["scc_ckpt_mb_left"] = round(
                    (_du(g._SCC_STAGE) - before_bytes) / 1e6, 1
                )
        # state volumes for the fixed-hop walks (recomputed structurally,
        # outside the timed runs)
        edges = und.select("u", "v")
        bidir = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
            edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        seeds_c = (
            bidir.select(F.col("src").alias("seed"))
            .filter(F.col("seed") % g.CLOSE_SRC_MOD == 0)
            .distinct()
        )
        dist = seeds_c.select("seed", F.col("seed").alias("node"), F.lit(0).alias("d"))
        frontier = dist
        for hop in range(1, g.CLOSE_MAX_HOPS + 1):
            reached = frontier.join(bidir, frontier.node == bidir.src).select(
                "seed", F.col("dst").alias("node"), F.lit(hop).alias("d")
            )
            dist = (
                dist.unionByName(reached)
                .groupBy("seed", "node")
                .agg(F.min("d").alias("d"))
                .localCheckpoint()
            )
            frontier = dist.filter(F.col("d") == hop)
        rec["close_seeds"] = seeds_c.count()
        rec["close_state_rows"] = dist.count()
        print(json.dumps(rec))


if __name__ == "__main__":
    main()
