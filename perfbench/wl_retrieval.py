"""retrieval_serve: standing FTS, IVF and MinHash indexes under a probe mix.

References (all computed outside the timed window):

* BM25 and MATCH: a pure-Python BM25 / boolean evaluation over the
  corpus as of the request (appends included), using the same formula
  as ``fts.bm25_scores`` over ``build_tf_index``, which
  ``probe_fts_table`` documents as value-identical for single-field
  indexes;
* IVF probes and batch ANN: numpy brute force over the probed cells,
  which are chosen from the index's centroids;
* MinHash probes: a pure-Python replay of the ``sliced`` signing scheme
  and the banded candidate join.
"""
from __future__ import annotations

import hashlib
import math
import os
from collections import Counter

import numpy as np

from common import Workload, close, topk_matches, write_parquet
from gen import ANN_BATCH, RETRIEVAL_CYCLE, tokenize

MINHASH = {"k": 3, "num_hashes": 8, "bands": 4, "threshold": 0.5}
IVF = {"k": 8, "iters": 2}


class RetrievalServe(Workload):
    name = "retrieval_serve"
    spark_backed = (frozenset(RETRIEVAL_CYCLE) | set(ANN_BATCH)) - {"append"}
    cycle_len = sum(RETRIEVAL_CYCLE.values())
    #: one cycle (12 requests) leaves p50 and p90 on too few samples
    min_cycles = 2
    no_warmup = frozenset({"append"})

    def prepare(self) -> None:
        self.docs_path = os.path.join(self.workdir, "docs.parquet")
        self.emb_path = os.path.join(self.workdir, "emb.parquet")
        write_parquet(self.inputs["docs"], self.docs_path)
        write_parquet(self.inputs["emb"], self.emb_path)

    def setup(self) -> None:
        from graphydb_spark.operators import persisted_index as pi
        base = os.path.join(self.workdir, "idx")
        self.fts = os.path.join(base, "fts")
        self.ivf = os.path.join(base, "ivf")
        self.mh = os.path.join(base, "minhash")
        docs = self.spark.read.parquet(self.docs_path)
        emb = self.spark.read.parquet(self.emb_path)
        with self.tr.span("persisted_index.build_fts"):
            pi.build_fts_table(docs, self.fts, ["text"], id_col="doc_id")
        with self.tr.span("persisted_index.build_ivf"):
            pi.build_ivf_table(emb, self.ivf, k=IVF["k"], iters=IVF["iters"])
        with self.tr.span("persisted_index.build_minhash"):
            pi.build_minhash_index(docs, self.mh, k=MINHASH["k"],
                                   num_hashes=MINHASH["num_hashes"],
                                   bands=MINHASH["bands"])

    # ---------------------------------------------------------- requests
    def execute(self, req: dict):
        from pyspark.sql import functions as F

        from graphydb_spark.operators import persisted_index as pi
        t, sp = req["template"], self.spark
        if t in ("bm25", "bm25_hot"):
            name = ("persisted_index.fts_hot_probe" if t == "bm25_hot"
                    else "persisted_index.fts_probe")
            with self.tr.span(name):
                rows = (pi.probe_fts_table(sp, self.fts, req["terms"])
                        .orderBy(F.col("score").desc(), F.col("uid"))
                        .limit(req["k"]).collect())
            if self.tr.enabled:
                with self.tr.span("snapshot.files", traced_only=True):
                    for term in req["terms"]:
                        opened, total = pi.fts_probe_files(self.fts, term)
                        self.tr.count("snapshot.files_opened", opened)
                        self.tr.count("snapshot.files_total", total)
            return [(r["uid"], r["score"]) for r in rows]
        if t == "match":
            with self.tr.span("persisted_index.match"):
                return sorted(r[0] for r in pi.match_fts_table(
                    sp, self.fts, req["query"]).select("uid").collect())
        if t == "ivf":
            vec = [float(x) for x in req["vec"]]
            with self.tr.span("persisted_index.ivf_probe"):
                rows = pi.probe_ivf_table(sp, self.ivf, vec, k=req["k"],
                                          nprobe=req["nprobe"]).collect()
            if self.tr.enabled:
                with self.tr.span("snapshot.files", traced_only=True):
                    opened, total = pi.ivf_probe_files(self.ivf, vec,
                                                       req["nprobe"])
                self.tr.count("snapshot.files_opened", opened)
                self.tr.count("snapshot.files_total", total)
            return [(r["vec_id"], r["cosine"]) for r in rows]
        if t in ANN_BATCH:
            import pandas as pd
            with self.tr.span(f"persisted_index.ann_batch.b{ANN_BATCH[t]}"):
                q = sp.createDataFrame(pd.DataFrame({
                    "qid": np.arange(len(req["vecs"]), dtype=np.int64),
                    "qvec": list(req["vecs"])}))
                rows = pi.probe_ivf_table_batch(
                    sp, self.ivf, q, k=req["k"],
                    nprobe=req["nprobe"]).collect()
            return [(r["qid"], r["vec_id"], r["cosine"]) for r in rows]
        if t == "minhash":
            new = sp.createDataFrame(list(zip(req["ids"], req["texts"])),
                                     "doc_id long, text string")
            with self.tr.span("persisted_index.minhash_probe"):
                rows = pi.probe_minhash_index(
                    sp, self.mh, new,
                    threshold=MINHASH["threshold"]).collect()
            return sorted((r["index_id"], r["new_id"], r["est_jaccard"])
                          for r in rows)
        if t == "append":
            new = sp.createDataFrame(list(zip(req["ids"], req["texts"])),
                                     "doc_id long, text string")
            with self.tr.span("persisted_index.append"):
                return pi.append_fts_table(sp, self.fts, new)
        raise ValueError(t)

    # --------------------------------------------------------- reference
    def _corpus_at(self, req_id: int) -> dict[int, Counter]:
        """doc id -> token counts, as the index held them when request
        ``req_id`` ran (the base corpus plus every earlier append)."""
        if not hasattr(self, "_states"):
            d = self.inputs["docs"]
            base = {int(i): Counter(tokenize(t))
                    for i, t in zip(d["doc_id"], d["text"])}
            self._states = [(-1, base)]
            for q in self.requests():
                if q["template"] == "append":
                    nxt = dict(self._states[-1][1])
                    nxt.update({i: Counter(tokenize(t))
                                for i, t in zip(q["ids"], q["texts"])})
                    self._states.append((q["id"], nxt))
        return [c for rid, c in self._states if rid < req_id][-1]

    def _bm25(self, corpus, terms, k1=1.2, b=0.75) -> dict:
        n = len(corpus)
        avgdl = sum(sum(c.values()) for c in corpus.values()) / n
        terms = set(t.lower() for t in terms)
        df = {t: sum(1 for c in corpus.values() if t in c) for t in terms}
        out = {}
        for u, c in corpus.items():
            hit = [t for t in terms if t in c]
            if not hit:
                continue
            dl = sum(c.values())
            out[u] = sum(
                math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                * (c[t] * (k1 + 1)) / (c[t] + k1 * (1 - b + b * dl / avgdl))
                for t in hit)
        return out

    def _match(self, corpus, query: str) -> list[int]:
        toks = query.split()
        if "OR" in toks:
            a, b = toks[0], toks[2]
            return sorted(u for u, s in corpus.items() if a in s or b in s)
        if "NOT" in toks:
            a, b = toks[0], toks[2]
            return sorted(u for u, s in corpus.items()
                          if a in s and b not in s)
        want = [t for t in toks if t != "AND"]
        return sorted(u for u, s in corpus.items()
                      if all(t in s for t in want))

    def _cells(self):
        """Centroids and the cell of every vector, read once from the
        built index (the probe's selection is what is being checked)."""
        if not hasattr(self, "_cent"):
            from graphydb_spark.sources.snapshot import (read_snapshot,
                                                         snapshot_meta)
            self._cent = np.asarray(snapshot_meta(self.ivf)["centroids"])
            pdf = read_snapshot(self.spark, self.ivf).select(
                "cluster", "vec_id").toPandas()
            e = self.inputs["emb"]
            pos = np.searchsorted(e["vec_id"], pdf["vec_id"].to_numpy())
            self._vec_cell = np.full(len(e["vec_id"]), -1)
            self._vec_cell[pos] = pdf["cluster"].to_numpy()
            v = e["embedding"]
            self._unit = v / np.linalg.norm(v, axis=1)[:, None]
        return self._cent, self._vec_cell

    def _ann_ok(self, vecs, got: dict, k: int, nprobe: int) -> bool:
        """Exact-up-to-ties top-k check of every query of a batch against
        numpy cosine over the vectors of its probed cells.  ``got`` maps
        query index -> [(vec_id, cosine)]."""
        cent, vec_cell = self._cells()
        if (vec_cell < 0).any() or set(got) != set(range(len(vecs))):
            return False
        ids = self.inputs["emb"]["vec_id"]
        q = np.asarray(vecs, dtype=np.float64)
        d2 = ((q[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        probed = np.sort(np.argsort(d2, axis=1, kind="stable")[:, :nprobe],
                         axis=1)
        qn = q / np.linalg.norm(q, axis=1)[:, None]
        groups: dict[tuple, list[int]] = {}
        for i, cells in enumerate(map(tuple, probed)):
            groups.setdefault(cells, []).append(i)
        for cells, qi in groups.items():
            cand = np.nonzero(np.isin(vec_cell, cells))[0]
            col = np.full(len(ids), -1)
            col[cand] = np.arange(len(cand))
            cos = qn[qi] @ self._unit[cand].T          # (len(qi), |cand|)
            kk = min(k, len(cand))
            best = -np.sort(-cos, axis=1)[:, :kk]
            for row, i in enumerate(qi):
                g = got[i]
                if len(g) != kk:
                    return False
                gid = np.searchsorted(ids, [x for x, _ in g])
                gsc = np.array([s for _, s in g])
                c = col[np.clip(gid, 0, len(ids) - 1)]
                if ((gid >= len(ids)) | (c < 0)).any() or \
                        len(set(gid.tolist())) != kk:
                    return False
                if not (np.allclose(gsc, cos[row, c], rtol=1e-9, atol=1e-12)
                        and np.allclose(np.sort(gsc)[::-1], best[row],
                                        rtol=1e-9, atol=1e-12)):
                    return False
        return True

    def _minhash_sig(self, text: str):
        k, nh, bands = (MINHASH["k"], MINHASH["num_hashes"],
                        MINHASH["bands"])
        toks = tokenize(text)
        sh = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        if not sh:
            return None
        digs = [[hashlib.md5(f"{j}:{s}".encode()).hexdigest() for s in sh]
                for j in range(-(-nh // 4))]
        sig = [min(d[(i % 4) * 8:(i % 4) * 8 + 8] for d in digs[i // 4])
               for i in range(nh)]
        r = nh // bands
        bh = [hashlib.md5("|".join(sig[b * r:(b + 1) * r]).encode())
              .hexdigest() for b in range(bands)]
        return sig, bh

    def _minhash_ref(self, req) -> list[tuple]:
        if not hasattr(self, "_isig"):
            d = self.inputs["docs"]
            self._isig, self._buckets = {}, {}
            for i, t in zip(d["doc_id"], d["text"]):
                s = self._minhash_sig(t)
                if s:
                    self._isig[int(i)] = s[0]
                    for b, h in enumerate(s[1]):
                        self._buckets.setdefault((b, h), []).append(int(i))
        out = {}
        nh = MINHASH["num_hashes"]
        for nid, text in zip(req["ids"], req["texts"]):
            s = self._minhash_sig(text)
            if not s:
                continue
            for b, h in enumerate(s[1]):
                for iid in self._buckets.get((b, h), ()):
                    est = sum(a == c for a, c in
                              zip(self._isig[iid], s[0])) / nh
                    if est >= MINHASH["threshold"]:
                        out[(iid, nid)] = est
        return sorted((a, b, e) for (a, b), e in out.items())

    def verify(self, req: dict, result) -> bool:
        t = req["template"]
        if t in ("bm25", "bm25_hot"):
            ref = self._bm25(self._corpus_at(req["id"]), req["terms"])
            return topk_matches(result, ref, req["k"])
        if t == "match":
            return result == self._match(self._corpus_at(req["id"]),
                                         req["query"])
        if t == "ivf":
            return self._ann_ok([req["vec"]], {0: result}, req["k"],
                                req["nprobe"])
        if t in ANN_BATCH:
            per_q: dict[int, list] = {}
            for qid, vid, cos in result:
                per_q.setdefault(qid, []).append((vid, cos))
            return self._ann_ok(req["vecs"], per_q, req["k"], req["nprobe"])
        if t == "minhash":
            ref = self._minhash_ref(req)
            return (len(ref) == len(result)
                    and all(a[:2] == b[:2] and close(a[2], b[2])
                            for a, b in zip(result, ref)))
        if t == "append":
            return isinstance(result, int) and result >= 1
        return False

    def perturb(self, req: dict, result):
        t = req["template"]
        if t == "append":
            return None
        if t == "match":
            return result[:-1] if result else [-1]
        if not result:
            return [(-1, -1, 1.0)] if t in ANN_BATCH or t == "minhash" \
                else [(-1, 1.0)]
        first = list(result[0])
        first[-1] += 0.5                       # change one score
        return [tuple(first)] + list(result[1:])
