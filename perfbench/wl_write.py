"""write_read_mix: journaled writes, undo, and reads that must see them.

The graph starts from ``Graph(spark)`` + one ``bulk_save``; the stream
mixes bulk inserts and modifies, single edge saves, cascade deletes,
undo, and ``fetch`` reads.  Reference: the generator's pure-Python model
of the graph (:class:`gen.GraphModel`), which fixes every read's
expected answer when the stream is generated.
"""
from __future__ import annotations

from common import Workload
from gen import WRITE_CYCLE

WRITES = ("insert", "modify", "edge", "delete", "undo")
READS = ("count", "neighbors", "group")


class WriteReadMix(Workload):
    name = "write_read_mix"
    spark_backed = frozenset(READS)
    cycle_len = sum(WRITE_CYCLE.values())

    def setup(self) -> None:
        from graphydb_spark import Graph
        g = Graph(self.spark)
        self.items = {u: g.Node("Person", uid=u, **p)
                      for u, p in self.inputs["nodes"].items()}
        edges = [g.Edge(s, "Knows", e, uid=u)
                 for u, (s, e) in self.inputs["edges"].items()]
        with self.tr.span("graph.bulk_save"):
            g.bulk_save(list(self.items.values()) + edges)
        g.fetch("(p:Person)", COUNT=True)       # flush the initial load
        g.clear_changes()
        self.g = g
        self.dirty = False

    def requests(self) -> list[dict]:
        return self.inputs["ops"]

    def execute(self, req: dict):
        t, g = req["template"], self.g
        if t in WRITES:
            self.dirty = True
            return self._write(t, req)
        span = "graph.read_after_write" if self.dirty else "graph.read"
        self.dirty = False
        with self.tr.span(span):
            if t == "count":
                with self.tr.span("graph.fetch_plan"):
                    self._compile("(p:Person)", "CAST(p.data.score AS INT) "
                                  "> :s", s=req["min_score"], COUNT=True)
                    return g.fetch("(p:Person)",
                                   "CAST(p.data.score AS INT) > :s",
                                   s=req["min_score"], COUNT=True)
            if t == "neighbors":
                chain = "(a:Person) -(k:Knows)> [b:Person]"
                with self.tr.span("graph.fetch_plan"):
                    self._compile(chain, "a.uid = :u", u=req["uid"],
                                  as_df=True, PROJECT=["uid"])
                    df = g.fetch(chain, "a.uid = :u", u=req["uid"],
                                 as_df=True, PROJECT=["uid"])
                with self.tr.span("spark.action"):
                    return sorted(r[0] for r in df.collect())
            if t == "group":
                with self.tr.span("graph.hydrate"):
                    self._compile("(p:Person)",
                                  "CAST(p.data.group AS INT) = :g",
                                  g=req["group"])
                    items = g.fetch("(p:Person)",
                                    "CAST(p.data.group AS INT) = :g",
                                    g=req["group"])
                return sorted((it.uid, it["score"]) for it in items)
        raise ValueError(t)

    def _compile(self, chain, where, **kw):
        if self.tr.enabled:
            with self.tr.span("chain.compile", traced_only=True):
                self.g.fetch(chain, where, DEBUG=True, **kw)

    def _write(self, t: str, req: dict):
        g = self.g
        if t == "insert":
            new = {u: g.Node("Person", uid=u, **p)
                   for u, p in req["nodes"].items()}
            self.items.update(new)
            edges = [g.Edge(s, "Knows", e, uid=u)
                     for u, (s, e) in req["edges"].items()]
            with self.tr.span("graph.bulk_save"):
                g.bulk_save(list(new.values()) + edges)
        elif t == "modify":
            changed = []
            for u, s in req["scores"].items():
                self.items[u]["score"] = s
                changed.append(self.items[u])
            with self.tr.span("graph.bulk_save"):
                g.bulk_save(changed)
        elif t == "edge":
            with self.tr.span("graph.save_edge"):
                g.save_edge(g.Edge(req["start"], "Knows", req["end"],
                                   uid=req["uid"]))
        elif t == "delete":
            with self.tr.span("graph.delete"):
                g.delete_node(req["uid"], disconnect=True)
        elif t == "undo":
            with self.tr.span("graph.undo"):
                g.undo()
        self.tr.count("graph.changes", g.nchanges)
        return None

    def verify(self, req: dict, result) -> bool:
        if req["template"] in WRITES:
            return result is None
        return result == req["expect"]

    def perturb(self, req: dict, result):
        if req["template"] in WRITES:
            return "perturbed"
        if isinstance(result, int):
            return result + 1
        if result and isinstance(result[0], tuple):
            u, s = result[0]
            return [(u, s + 1)] + result[1:]      # change one score
        return result[:-1] if result else ["P000000"]   # drop one row
