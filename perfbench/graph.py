"""``graph`` workload: ETL and iterative algorithms over one seeded graph.

One pass runs the reference's single-pass join/shuffle surface
(``query_nodes`` closure, ``apply_node_features``, ``condense``,
``groupby_nodes().size_edges()``, 1-hop neighbour aggregate,
``save_graph``/``load_graph``) and then the iterative loops
(weak components of a weight-thresholded subgraph, fixed-iteration
PageRank, k-core).  Every step is materialized to the noop sink inside
its span.  Outputs of the last pass are checked against DuckDB,
networkx and a numpy PageRank over the same generated parquet.
"""

from __future__ import annotations

import os
import sys

import duckdb
import networkx as nx
import numpy as np

import gen

# Sizes fixed by the benchmark; ``toy`` keeps the smoke test fast.
SIZES = {
    "full": dict(n_nodes=10_000, n_edges=100_000, hub_skew=3.0),
    "toy": dict(n_nodes=300, n_edges=2_000, hub_skew=3.0),
}
MIN_SCORE = 100  # query_nodes keeps ~90% of nodes
MIN_WEIGHT = 90  # weak components run on the ~10% heaviest edges
PR_ITER = 5
K_CORE = 5

# Order-insensitive digest of a table: row count plus the sum of a
# per-row integer mix.  The same SQL runs in Spark and DuckDB; every
# input column is an integer (means are scaled and rounded first), so
# both engines compute it exactly.
_P, _M = 1_000_003, 2_147_483_647


def digest_sql(cols: list[str]) -> list[str]:
    mix = " + ".join(f"(coalesce({c}, 0) % {_P}) * {101 + 2 * i}" for i, c in enumerate(cols))
    return ["count(*) AS n", f"coalesce(sum(({mix}) % {_M}), 0) AS h"]


def spark_digest(df, cols: list[str]) -> tuple[int, int]:
    row = df.selectExpr(*digest_sql(cols)).collect()[0]
    return int(row["n"]), int(row["h"])


def duck_digest(con, sql: str, cols: list[str]) -> tuple[int, int]:
    n, h = con.execute(f"SELECT {', '.join(digest_sql(cols))} FROM ({sql})").fetchone()
    return int(n), int(h)


def _mean_cols(df, names: list[str]):
    """Scale mean columns to integers so the digest is exact."""
    from pyspark.sql import functions as F

    return df.select(
        "id", *[F.round(F.col(n) * 1000).cast("long").alias(n) for n in names]
    )


class Graph:
    """A pass is one operation; its rows are the input edges."""

    latency_kind = "pass"
    rows_kind = "pass"

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]
        self.dir = ctx.workdir
        self.rows = self.size["n_edges"]
        self.outputs = {}

    # -- set-up -------------------------------------------------------------
    def generate(self) -> None:
        gen.graph(self.ctx.seed, out_dir=self.dir, **self.size)

    def prepare(self) -> None:
        pass

    def warm_up(self) -> None:
        self.run_pass()

    def ops(self):
        while True:
            yield "pass", self.run_pass, self.rows

    def recall(self) -> dict[str, float]:
        return {"functions.dedup.recall": 0.0, "functions.similarity.recall_at_10": 0.0}

    # -- one pass -------------------------------------------------------------
    def run_pass(self) -> None:
        from networkframe_spark import NetworkFrame, algorithms, sources

        spark, span, noop = self.ctx.spark, self.ctx.tracer.span, self.ctx.noop
        out = {}
        with span("sources.read_table"):
            nodes = sources.read_table(spark, self.dir, "nodes")
            edges = sources.read_table(spark, self.dir, "edges")
        nf = NetworkFrame(nodes, edges)
        with span("frame.query_nodes"):
            q = nf.query_nodes("score >= @s", local_dict={"s": MIN_SCORE})
            noop(q.edges)
        out["query"] = q.edges
        with span("frame.apply_node_features"):
            f = q.apply_node_features(["grp", "score"])
            noop(f.edges)
        out["features"] = f.edges
        with span("frame.condense"):
            c = q.condense("grp", func="sum", columns=["weight"])
            noop(c.edges)
        out["condense"] = c.edges
        with span("groupby.size_edges"):
            g = q.groupby_nodes("grp").size_edges()
            noop(g)
        out["size_edges"] = g
        with span("frame.k_hop_aggregation"):
            k = q.k_hop_aggregation(1, aggregations=["mean"])
            noop(k)
        out["k_hop"] = k
        path = os.path.join(self.dir, "condensed")
        with span("sources.save_graph"):
            sources.save_graph(c, path, mode="overwrite")
        with span("sources.load_graph"):
            loaded = sources.load_graph(spark, path)
            noop(loaded.edges)
        out["reload"] = loaded.edges
        with span("frame.query_edges"):
            heavy = nf.query_edges("weight > @w", local_dict={"w": MIN_WEIGHT})
        with span("algorithms.connected_component_labels"):
            labels = algorithms.connected_component_labels(heavy, directed=False)
            labels = labels.localCheckpoint(eager=True)
        out["components"] = labels
        with span("algorithms.pagerank"):
            pr = algorithms.pagerank(nf, n_iter=PR_ITER).localCheckpoint(eager=True)
        out["pagerank"] = pr
        with span("algorithms.k_core"):
            kc = algorithms.k_core(nf, K_CORE).localCheckpoint(eager=True)
        out["k_core"] = kc
        if self.ctx.corrupt:
            out["condense"] = out["condense"].selectExpr("source", "target", "weight + 1 AS weight")
        self.outputs = out

    # -- checks -------------------------------------------------------------
    def check(self, n_ok: int) -> int:
        """Every pass runs the same plans over the same input, so a wrong
        output of the last pass makes all ``n_ok`` passes wrong."""
        bad = self.wrong_steps()
        if bad:
            print(f"graph: wrong output of {', '.join(bad)}", file=sys.stderr)
        return n_ok if bad else 0

    def wrong_steps(self) -> list[str]:
        """Names of the steps whose output of the last pass is wrong."""
        out = self.outputs
        nodes_pq = os.path.join(self.dir, "nodes.parquet")
        edges_pq = os.path.join(self.dir, "edges.parquet")
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW nodes AS SELECT * FROM read_parquet('{nodes_pq}')")
            con.execute(f"CREATE VIEW edges AS SELECT * FROM read_parquet('{edges_pq}')")
            con.execute(
                f"CREATE VIEW q AS SELECT * FROM nodes WHERE score >= {MIN_SCORE}"
            )
            con.execute(
                "CREATE VIEW qe AS SELECT e.* FROM edges e "
                "WHERE source IN (SELECT id FROM q) AND target IN (SELECT id FROM q)"
            )
            cond = (
                "SELECT s.grp AS source, t.grp AS target, sum(e.weight) AS weight FROM qe e "
                "JOIN q s ON s.id = e.source JOIN q t ON t.id = e.target GROUP BY 1, 2"
            )
            und = "SELECT DISTINCT least(source, target) a, greatest(source, target) b FROM qe"
            khop = (
                f"WITH u AS ({und}), p AS (SELECT a AS node, b AS nb FROM u WHERE a <> b "
                "UNION ALL SELECT b, a FROM u WHERE a <> b) "
                "SELECT node AS id, CAST(round(avg(n.grp) * 1000) AS BIGINT) AS g, "
                "CAST(round(avg(n.score) * 1000) AS BIGINT) AS s "
                "FROM p JOIN q n ON n.id = p.nb GROUP BY node"
            )
            expected = {
                "query": ("SELECT source, target, weight FROM qe", ["source", "target", "weight"]),
                "features": (
                    "SELECT e.source, e.target, e.weight, s.grp, s.score, t.grp, t.score "
                    "FROM qe e JOIN q s ON s.id = e.source JOIN q t ON t.id = e.target",
                    ["source", "target", "weight", "source_grp", "source_score",
                     "target_grp", "target_score"],
                ),
                "condense": (cond, ["source", "target", "weight"]),
                "size_edges": (
                    "SELECT source, target, count(*) FROM "
                    "(SELECT s.grp AS source, t.grp AS target FROM qe e "
                    "JOIN q s ON s.id = e.source JOIN q t ON t.id = e.target) GROUP BY 1, 2",
                    ["source_grp", "target_grp", "size"],
                ),
                "k_hop": (khop, ["id", "grp_neighbor_mean", "score_neighbor_mean"]),
                "reload": (cond, ["source", "target", "weight"]),
            }
            bad = []
            for name, (sql, cols) in expected.items():
                df = out[name]
                if name == "k_hop":
                    df = _mean_cols(df, cols[1:])
                ref_cols = [f"c{i}" for i in range(len(cols))]
                ref_sql = f"SELECT * FROM ({sql}) AS t({', '.join(ref_cols)})"
                if spark_digest(df, cols) != duck_digest(con, ref_sql, ref_cols):
                    bad.append(name)
            heavy = con.execute(
                f"SELECT source, target FROM edges WHERE weight > {MIN_WEIGHT}"
            ).fetchnumpy()
            src, dst = (con.execute("SELECT source, target FROM edges").fetchnumpy()[c] for c in ("source", "target"))
        finally:
            con.close()
        n = self.size["n_nodes"]
        # weak components: count must match networkx
        g = nx.Graph()
        g.add_nodes_from(range(n))
        g.add_edges_from(zip(heavy["source"].tolist(), heavy["target"].tolist()))
        n_comp = out["components"].select("component").distinct().count()
        if n_comp != nx.number_connected_components(g):
            bad.append("components")
        # pagerank: every node, sums to 1, matches a numpy power iteration
        pr = out["pagerank"].toPandas().set_index("id")["pagerank"]
        if len(pr) != n or abs(pr.sum() - 1.0) > 1e-3 or np.abs(pr.sort_index().to_numpy() - _pagerank(src, dst, n)).max() > 1e-5:
            bad.append("pagerank")
        # k-core of the simple undirected projection
        simple = nx.Graph()
        simple.add_edges_from((a, b) for a, b in zip(src.tolist(), dst.tolist()) if a != b)
        core = set(nx.k_core(simple, K_CORE).nodes)
        got = {r["id"] for r in out["k_core"].select("id").collect()}
        if got != core:
            bad.append("k_core")
        return bad


def _pagerank(src: np.ndarray, dst: np.ndarray, n: int, d: float = 0.85) -> np.ndarray:
    """Reference power iteration with the engine's semantics: parallel
    edges each carry a share, no dangling redistribution (the generator
    leaves no node dangling), ranks rounded to 6 places."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    pr = np.full(n, 1.0 / n)
    for _ in range(PR_ITER):
        pr = (1 - d) / n + d * np.bincount(dst, weights=pr[src] / out_deg[src], minlength=n)
    return np.round(pr, 6)
