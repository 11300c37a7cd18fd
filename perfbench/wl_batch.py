"""batch_analytics: a fixed job list of iterative graph algorithms and a
near-duplicate pipeline.

References: networkx (connected components, BFS, Dijkstra, k-core), exact
Python replays of the engine's PageRank and label propagation rounds
(PageRank within 1e-9 relative), and a pure-Python replay of the salted
MinHash band join, its clusters and the keep-best resolution.
"""
from __future__ import annotations

import hashlib
from collections import Counter

import networkx as nx

from common import Workload, close
from gen import STOPWORDS, tokenize

ALGO = {"max_iter": 64, "lpa_iters": 3, "pr_iters": 4, "kcore_k": 3}
MINHASH = {"k": 3, "num_hashes": 8, "bands": 4}
JOBS = ("cc", "bfs", "sssp", "lpa", "pagerank", "kcore",
        "minhash_pairs", "clusters", "resolve", "quality")
SPAN = {"cc": "graph_algos.cc", "bfs": "graph_algos.bfs",
        "sssp": "graph_algos.sssp", "lpa": "graph_algos.lpa",
        "pagerank": "graph_algos.pagerank", "kcore": "graph_algos.kcore",
        "minhash_pairs": "dedup.minhash_pairs", "clusters": "dedup.clusters",
        "resolve": "dedup.resolve", "quality": "text.quality"}


class BatchAnalytics(Workload):
    name = "batch_analytics"
    spark_backed = frozenset(JOBS)
    streaming = False

    def requests(self) -> list[dict]:
        return [{"id": i, "template": j} for i, j in enumerate(JOBS)]

    def setup(self) -> None:
        inp, sp = self.inputs, self.spark
        self.nodes = sp.createDataFrame([(u,) for u in inp["nodes"]],
                                        "uid string").localCheckpoint()
        self.edges = sp.createDataFrame(
            [(a, b, float(w)) for (a, b), w in zip(inp["edges"],
                                                   inp["weights"])],
            "startuid string, enduid string, w double").localCheckpoint()
        c = inp["corpus"]
        self.docs = sp.createDataFrame(list(zip(c["doc_id"], c["text"])),
                                       "doc_id long, text string"
                                       ).localCheckpoint()

    def execute(self, req: dict):
        from pyspark.sql import functions as F

        from graphydb_spark.operators import dedup, graph_algos as ga, text
        j = req["template"]
        seed = self.spark.createDataFrame([(self.inputs["seed_uid"],)],
                                          "uid string")
        with self.tr.span(SPAN[j]):
            if j == "cc":
                df = ga.connected_components(self.nodes, self.edges,
                                             max_iter=ALGO["max_iter"])
            elif j == "bfs":
                df = ga.bfs_distances(self.edges, seed,
                                      max_depth=ALGO["max_iter"])
            elif j == "sssp":
                e = self.edges
                both = e.select(F.col("startuid").alias("src"),
                                F.col("enduid").alias("dst"), "w").unionByName(
                    e.select(F.col("enduid").alias("src"),
                             F.col("startuid").alias("dst"), "w"))
                df = ga.sssp(both, seed, max_hops=ALGO["max_iter"])
            elif j == "lpa":
                df = ga.label_propagation(self.nodes, self.edges,
                                          iters=ALGO["lpa_iters"])
            elif j == "pagerank":
                df = ga.pagerank(self.nodes, self.edges,
                                 iters=ALGO["pr_iters"])
            elif j == "kcore":
                return sorted(r[0] for r in ga.k_core(
                    self.nodes, self.edges, ALGO["kcore_k"],
                    max_iter=ALGO["max_iter"]).collect())
            elif j == "minhash_pairs":
                self.pairs = dedup.minhash_lsh_pairs(
                    self.docs, **MINHASH).localCheckpoint()
                out = sorted(tuple(r) for r in self.pairs.collect())
                self.tr.count("dedup.pairs", len(out))
                return out
            elif j == "clusters":
                self.clusters = dedup.dedup_clusters(
                    self.pairs, max_iter=ALGO["max_iter"]).localCheckpoint()
                return sorted(tuple(r) for r in self.clusters.collect())
            elif j == "quality":
                return sorted((r["doc_id"], r["stopword_ratio"]) for r in
                              text.quality_score(self.docs).select(
                                  "doc_id", "stopword_ratio").collect())
            elif j == "resolve":
                return sorted(tuple(r) for r in dedup.resolve_duplicates(
                    self.docs, self.clusters, F.length("text")).collect())
            return sorted(tuple(r) for r in df.collect())

    # --------------------------------------------------------- reference
    def _graph(self):
        if not hasattr(self, "_g"):
            g = nx.Graph()
            g.add_nodes_from(self.inputs["nodes"])
            for (a, b), w in zip(self.inputs["edges"], self.inputs["weights"]):
                g.add_edge(a, b, w=w)
            self._g = g
        return self._g

    def supersteps(self) -> dict[str, int]:
        """Supersteps the long-diameter graph forces: min-label CC runs
        until the label of each component's minimum uid has crossed the
        component (plus one round that changes nothing); BFS runs to the
        seed's eccentricity plus the empty-frontier round."""
        g = self._graph()
        cc = max(nx.eccentricity(g.subgraph(c), v=min(c))
                 for c in nx.connected_components(g)) + 1
        bfs = nx.eccentricity(
            g.subgraph(nx.node_connected_component(
                g, self.inputs["seed_uid"])), v=self.inputs["seed_uid"]) + 1
        return {"graph_algos.cc": cc, "graph_algos.bfs": bfs}

    def _sig(self, text: str):
        toks = tokenize(text)
        k, nh = MINHASH["k"], MINHASH["num_hashes"]
        sh = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        if not sh:
            return None
        return [min(hashlib.md5(f"{i}:{s}".encode()).hexdigest()
                    for s in sh) for i in range(nh)]

    def _pairs(self):
        if not hasattr(self, "_pairs_ref"):
            c = self.inputs["corpus"]
            r = MINHASH["num_hashes"] // MINHASH["bands"]
            buckets: dict = {}
            for i, t in zip(c["doc_id"], c["text"]):
                s = self._sig(t)
                if s is None:
                    continue
                for b in range(MINHASH["bands"]):
                    h = hashlib.md5("|".join(s[b * r:(b + 1) * r])
                                    .encode()).hexdigest()
                    buckets.setdefault((b, h), []).append(i)
            pairs = set()
            for ids in buckets.values():
                for a in ids:
                    for b in ids:
                        if a < b:
                            pairs.add((a, b))
            self._pairs_ref = sorted(pairs)
        return self._pairs_ref

    def _quality(self) -> dict[int, float]:
        c = self.inputs["corpus"]
        sw = set(STOPWORDS)
        out = {}
        for i, t in zip(c["doc_id"], c["text"]):
            toks = tokenize(t)
            out[i] = sum(x in sw for x in toks) / max(len(toks), 1)
        return out

    def _clusters(self) -> dict[int, int]:
        g = nx.Graph(self._pairs())
        return {v: min(comp) for comp in nx.connected_components(g)
                for v in comp}

    def _pagerank(self) -> dict[str, float]:
        nodes, edges = self.inputs["nodes"], self.inputs["edges"]
        n, d = len(nodes), 0.85
        deg = Counter(a for a, _ in edges)
        rank = dict.fromkeys(nodes, 1.0)
        for _ in range(ALGO["pr_iters"]):
            dangling = sum(rank[u] for u in nodes if u not in deg)
            inc: dict[str, float] = {}
            for a, b in edges:
                inc[b] = inc.get(b, 0.0) + rank[a] / deg[a]
            base = 1.0 - d + d * dangling / n
            rank = {u: base + d * inc.get(u, 0.0) for u in nodes}
        return rank

    def _lpa(self) -> dict[str, str]:
        g = self._graph()
        label = {u: u for u in g.nodes}
        for _ in range(ALGO["lpa_iters"]):
            new = {}
            for u in g.nodes:
                cnt = Counter(label[v] for v in g.neighbors(u))
                new[u] = (min(cnt, key=lambda x: (-cnt[x], x))
                          if cnt else u)
            label = new
        return label

    def expected(self, j: str):
        g, seed = self._graph(), self.inputs["seed_uid"]
        if j == "cc":
            return sorted((v, min(c)) for c in nx.connected_components(g)
                          for v in c)
        if j == "bfs":
            return sorted(nx.single_source_shortest_path_length(g, seed)
                          .items())
        if j == "sssp":
            return sorted((v, int(d)) for v, d in
                          nx.single_source_dijkstra_path_length(
                              g, seed, weight="w").items())
        if j == "kcore":
            return sorted(nx.k_core(g, ALGO["kcore_k"]).nodes)
        if j == "lpa":
            return sorted(self._lpa().items())
        if j == "minhash_pairs":
            return self._pairs()
        if j == "clusters":
            return sorted(self._clusters().items())
        if j == "quality":
            return sorted(self._quality().items())
        if j == "resolve":            # keep the longest text
            c = self.inputs["corpus"]
            q = {i: len(t) for i, t in zip(c["doc_id"], c["text"])}
            members = {}
            for v, c in self._clusters().items():
                members.setdefault(c, []).append(v)
            out = []
            for c, vs in members.items():
                best = max(vs, key=lambda v: (q[v], -v))
                out.append((c, best, q[best], len(vs)))
            return sorted(out)
        raise ValueError(j)

    def verify(self, req: dict, result) -> bool:
        j = req["template"]
        if j == "pagerank":
            ref = self._pagerank()
            got = dict(result)
            return (got.keys() == ref.keys()
                    and all(close(got[u], ref[u]) for u in ref))
        exp = self.expected(j)
        if j == "quality":          # (doc_id, ratio)
            return len(exp) == len(result) and all(
                a[0] == b[0] and close(a[1], b[1])
                for a, b in zip(result, exp))
        return result == exp

    def perturb(self, req: dict, result):
        if req["template"] == "pagerank":
            u, r = result[0]
            return [(u, r * 1.5)] + result[1:]    # change one score
        return result[:-1]                        # drop one row

    def layer_metrics(self) -> dict[str, float]:
        steps = self.supersteps()
        jobs = shuffle = 0.0
        for sp in self.tr.spans:
            if sp.name in steps and sp.spark:
                jobs += sp.spark["jobs"]
                shuffle += (sp.spark["shuffle_read_bytes"]
                            + sp.spark["shuffle_write_bytes"])
        n = sum(steps.values())
        return {"graph_algos.jobs_per_superstep": jobs / n,
                "graph_algos.shuffle_bytes_per_superstep": shuffle / n}
