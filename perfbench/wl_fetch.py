"""fetch_mix: chain-DSL ``Graph.fetch`` requests over a TPC-H-shaped graph,
with a segment of journaled writes per cycle.

The reads run over ``tpch_graph``; every cycle also holds one of each
``write_read_mix`` operation (bulk inserts and modifies, an edge save, a
cascade delete, an undo and three reads that must see them) on that
workload's item graph, a second ``Graph`` in the same session.

References: a DuckDB twin SQL per fetch template over the same parquet
files, written against the relational tables (not the graph encoding);
the generator's pure-Python model of the item graph for the writes.
"""
from __future__ import annotations

import os

import duckdb

from common import Workload, write_parquet
from gen import FETCH_CYCLE, FETCH_WRITE_CYCLE
from wl_write import WriteReadMix

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# chain, WHERE and the other fetch keywords per template
CHAINS = {
    "one_hop": ("(c:Customer) -(e:Placed)> [o:Order,total]",
                "CAST(o.data.o_totalprice AS DOUBLE) > :min_total",
                {"total": "CAST(o.data.o_totalprice AS DOUBLE)"}),
    "two_hop": ("(r:Region) <(ir:InRegion)- (n:Nation) <(fn:FromNation)- "
                "[c:Customer]", "r.data.r_name = :region",
                {"PROJECT": ["uid"]}),
    "three_hop": ("[c:Customer] -(pl:Placed)> (o:Order) -(ct:Contains)> "
                  "(p:Part)",
                  "CAST(p.data.p_size AS INT) = :size AND "
                  "CAST(ct.data.l_quantity AS DOUBLE) >= :min_qty",
                  {"PROJECT": ["uid"]}),
    "group_top": ("[c:Customer,ordercount] -(pl:Placed)> (o:Order)",
                  "CAST(c.data.c_nationkey AS INT) = :nation",
                  {"GROUP": "c.uid", "ORDER": "ordercount DESC, uid ASC",
                   "ordercount": "COUNT(o.uid)"}),
    "order_topk": ("[o:Order,total]",
                   "o.data.o_orderpriority = :priority AND "
                   "o.data.o_orderstatus = :status",
                   {"ORDER": "total DESC, uid ASC",
                    "total": "CAST(o.data.o_totalprice AS DOUBLE)"}),
    "project_uid": ("[c:Customer]",
                    "c.data.c_mktsegment = :segment AND "
                    "CAST(c.data.c_acctbal AS DOUBLE) > :min_bal",
                    {"PROJECT": ["uid"]}),
}
BINDS = {"one_hop": ("min_total",), "two_hop": ("region",),
         "three_hop": ("size", "min_qty"), "group_top": ("nation",),
         "order_topk": ("priority", "status"),
         "project_uid": ("segment", "min_bal")}
TOPK = {"group_top": ("uid", "ordercount"), "order_topk": ("uid", "total")}
SET_A = ("(c:Customer)", "CAST(c.data.c_nationkey AS INT) = :nation AND "
         "c.data.c_mktsegment = :segment")
SET_B = ("(c:Customer)", "CAST(c.data.c_nationkey AS INT) = :nation AND "
         "CAST(c.data.c_acctbal AS DOUBLE) > :min_bal")

TWINS = {
    "one_hop": "SELECT count(DISTINCT o.o_orderkey) FROM orders o JOIN "
               "customer c ON c.c_custkey = o.o_custkey "
               "WHERE o.o_totalprice > $min_total",
    "two_hop": "SELECT count(DISTINCT c.c_custkey) FROM customer c "
               "JOIN nation n ON c.c_nationkey = n.n_nationkey "
               "JOIN region r ON n.n_regionkey = r.r_regionkey "
               "WHERE r.r_name = $region",
    "three_hop": "SELECT count(DISTINCT c.c_custkey) FROM customer c "
                 "JOIN orders o ON o.o_custkey = c.c_custkey "
                 "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
                 "JOIN part p ON p.p_partkey = l.l_partkey "
                 "WHERE p.p_size = $size AND l.l_quantity >= $min_qty",
    "group_top": "SELECT 'Customer:' || c.c_custkey AS uid, "
                 "count(*) AS n FROM customer c JOIN orders o "
                 "ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = $nation "
                 "GROUP BY c.c_custkey ORDER BY n DESC, uid ASC LIMIT $k",
    "order_topk": "SELECT 'Order:' || o_orderkey AS uid, o_totalprice "
                  "FROM orders WHERE o_orderpriority = $priority AND "
                  "o_orderstatus = $status "
                  "ORDER BY o_totalprice DESC, uid ASC LIMIT $k",
    "project_uid": "SELECT count(*) FROM customer WHERE "
                   "c_mktsegment = $segment AND c_acctbal > $min_bal",
    "sets_a": "SELECT 'Customer:' || c_custkey FROM customer "
              "WHERE c_nationkey = $nation AND c_mktsegment = $segment",
    "sets_b": "SELECT 'Customer:' || c_custkey FROM customer "
              "WHERE c_nationkey = $nation AND c_acctbal > $min_bal",
}


class FetchMix(Workload):
    name = "fetch_mix"
    spark_backed = frozenset(CHAINS) | {"sets"} | WriteReadMix.spark_backed
    cycle_len = sum(FETCH_CYCLE.values()) + sum(FETCH_WRITE_CYCLE.values())

    def __init__(self, spark, inputs, workdir, tracer) -> None:
        super().__init__(spark, inputs, workdir, tracer)
        self.writer = WriteReadMix(spark, inputs["writes"], workdir, tracer)

    def prepare(self) -> None:
        self.src = os.path.join(self.workdir, "tpch")
        for t, cols in self.inputs["tables"].items():
            write_parquet(cols, os.path.join(self.src, f"{t}.parquet"))

    def setup(self) -> None:
        from graphydb_spark.sources.tpch_graph import tpch_graph
        with self.tr.span("sources.encode"):
            self.g = tpch_graph(self.spark, self.src)
            self.g.nodes_df.count()
        self.writer.setup()

    def warmup(self) -> None:
        super().warmup()
        self.writer.warmup()

    # ---------------------------------------------------------- requests
    def _fetch(self, chain, where, kw, binds, **extra):
        g = self.g
        if self.tr.enabled:
            with self.tr.span("chain.compile", traced_only=True):
                g.fetch(chain, where, DEBUG=True, **kw, **binds, **extra)
        return g.fetch(chain, where, **kw, **binds, **extra)

    def execute(self, req: dict):
        t = req["template"]
        if t in FETCH_WRITE_CYCLE:
            return self.writer.execute(req)
        if t == "sets":
            return self._sets(req)
        chain, where, kw = CHAINS[t]
        binds = {b: req[b] for b in BINDS[t]}
        extra = {"LIMIT": req["k"]} if t in TOPK else {}
        with self.tr.span("graph.fetch_plan"):
            df = self._fetch(chain, where, kw, binds, as_df=True, **extra)
        with self.tr.span("spark.action"):
            if t in TOPK:
                return [tuple(r) for r in df.select(*TOPK[t]).collect()]
            return df.count()

    def _sets(self, req: dict):
        binds = {"nation": req["nation"]}
        with self.tr.span("graph.hydrate"):
            a = self._fetch(*SET_A, {}, {**binds, "segment": req["segment"]})
        with self.tr.span("graph.hydrate"):
            b = self._fetch(*SET_B, {}, {**binds, "min_bal": req["min_bal"]})
        with self.tr.span("sets.op"):
            out = getattr(a, req["op"])(b)
        return sorted(out.uids())

    # --------------------------------------------------------- reference
    def _duck(self):
        if not hasattr(self, "_con"):
            self._con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(self.src, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._con

    def expected(self, req: dict):
        con = self._duck()
        t = req["template"]
        if t == "sets":
            a = {r[0] for r in con.execute(TWINS["sets_a"], {
                "nation": req["nation"], "segment": req["segment"]})
                .fetchall()}
            b = {r[0] for r in con.execute(TWINS["sets_b"], {
                "nation": req["nation"], "min_bal": req["min_bal"]})
                .fetchall()}
            return sorted(getattr(a, req["op"])(b))
        params = {b: req[b] for b in BINDS[t]}
        if t in TOPK:
            params["k"] = req["k"]
            return [tuple(r) for r in con.execute(TWINS[t], params)
                    .fetchall()]
        return con.execute(TWINS[t], params).fetchone()[0]

    def verify(self, req: dict, result) -> bool:
        if req["template"] in FETCH_WRITE_CYCLE:
            return self.writer.verify(req, result)
        return result == self.expected(req)

    def perturb(self, req: dict, result):
        if req["template"] in FETCH_WRITE_CYCLE:
            return self.writer.perturb(req, result)
        if isinstance(result, int):
            return result + 1
        if not result:
            return [("Customer:0", 0)]
        if isinstance(result[0], tuple):        # change one score
            uid, v = result[0]
            return [(uid, v + 1)] + result[1:]
        return result[:-1]                      # drop one row
