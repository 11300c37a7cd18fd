"""Seeded input generators for the four workloads.

Everything the engine receives comes from here: tables, corpora, graphs
and request streams are pure functions of the seed.  No Spark: the
workloads turn these plain values into engine calls.

Request streams are built from cycles of fixed composition (each cycle
holds the same multiset of templates, in a seeded order), so every seed
exercises the same mix while the constants inside each request differ.
"""
from __future__ import annotations

import hashlib
import json
import random
import re

import numpy as np

# ------------------------------------------------------------- helpers


def digest(obj) -> str:
    """Stable content hash of generated values (determinism check)."""
    def default(o):
        if isinstance(o, np.ndarray):
            return {"nd": o.dtype.str, "shape": o.shape,
                    "sha": hashlib.sha256(o.tobytes()).hexdigest()}
        if isinstance(o, (np.integer, np.floating)):
            return o.item()
        raise TypeError(type(o))
    return hashlib.sha256(json.dumps(obj, default=default, sort_keys=True)
                          .encode()).hexdigest()


def cycled(rng: random.Random, composition: dict[str, int],
           n_cycles: int) -> list[str]:
    """``n_cycles`` cycles, each a seeded shuffle of the same multiset."""
    out = []
    for _ in range(n_cycles):
        cyc = [t for t, n in composition.items() for _ in range(n)]
        rng.shuffle(cyc)
        out.extend(cyc)
    return out


TOKEN_RE = re.compile(r"[^\w]+|_")


def tokenize(text: str) -> list[str]:
    """The engine's tokenizer on the generated alphabet (lower-cased
    ASCII letters and digits): split on everything else."""
    return [t for t in TOKEN_RE.split(text.lower()) if t]


# ------------------------------------------------------------ fetch_mix

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

#: table sizes of the generated TPC-H-shaped input (sf 0.01)
TPCH_SIZES = {"customer": 1500, "supplier": 100, "part": 2000,
              "orders": 15000, "events": 1000, "documents": 100,
              "embeddings": 100, "users": 100}

FETCH_CYCLE = {"one_hop": 3, "two_hop": 3, "three_hop": 3,
               "group_top": 3, "order_topk": 3, "project_uid": 3,
               "sets": 2}


def tpch_tables(seed: int) -> dict[str, dict]:
    """Column dicts (numpy arrays / lists) for the ten tables tpch_graph
    reads, in the schemas of the TPC-H-ish fixtures."""
    r = np.random.default_rng(seed)
    S = TPCH_SIZES
    t0 = np.datetime64("1992-01-01T00:00:00", "ms")
    span_ms = np.int64(6 * 365 * 86400 * 1000)

    def dates(n):
        return t0 + r.integers(0, span_ms, n).astype("timedelta64[ms]")

    nc, ns, np_, no = S["customer"], S["supplier"], S["part"], S["orders"]
    lines = r.integers(1, 8, no)
    nl = int(lines.sum())
    l_orderkey = np.repeat(np.arange(1, no + 1, dtype=np.int64), lines)
    l_linenumber = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines,
                                              lines) + 1).astype(np.int32)
    words = [f"w{i:03d}" for i in range(300)]
    docs = [" ".join(r.choice(words, int(r.integers(5, 30))))
            for _ in range(S["documents"])]
    return {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": REGIONS},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION{i:02d}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {
            "c_custkey": np.arange(1, nc + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
            "c_nationkey": r.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": list(r.choice(SEGMENTS, nc))},
        "supplier": {
            "s_suppkey": np.arange(1, ns + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
            "s_nationkey": r.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)},
        "part": {
            "p_partkey": np.arange(1, np_ + 1, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(1, np_ + 1)],
            "p_brand": [f"Brand#{a}{b}" for a, b in
                        zip(r.integers(1, 6, np_), r.integers(1, 6, np_))],
            "p_type": list(r.choice(["STANDARD BRASS", "SMALL TIN",
                                     "LARGE COPPER", "PROMO STEEL"], np_)),
            "p_size": r.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": np.round(r.uniform(900, 2100, np_), 2)},
        "orders": {
            "o_orderkey": np.arange(1, no + 1, dtype=np.int64),
            "o_custkey": r.integers(1, nc + 1, no).astype(np.int64),
            "o_orderstatus": list(r.choice(["F", "O", "P"], no)),
            "o_totalprice": np.round(r.uniform(1000, 400000, no), 2),
            "o_orderdate": dates(no),
            "o_orderpriority": list(r.choice(PRIORITIES, no))},
        "lineitem": {
            "l_orderkey": l_orderkey,
            "l_partkey": r.integers(1, np_ + 1, nl).astype(np.int64),
            "l_suppkey": r.integers(1, ns + 1, nl).astype(np.int64),
            "l_linenumber": l_linenumber,
            "l_quantity": r.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900, 100000, nl), 2),
            "l_discount": np.round(r.uniform(0, 0.1, nl), 2),
            "l_tax": np.round(r.uniform(0, 0.08, nl), 2),
            "l_returnflag": list(r.choice(["A", "N", "R"], nl)),
            "l_linestatus": list(r.choice(["F", "O"], nl)),
            "l_shipdate": dates(nl)},
        "events": {
            "event_id": np.arange(1, S["events"] + 1, dtype=np.int64),
            "ts": dates(S["events"]).astype("datetime64[us]"),
            "user_id": r.integers(1, S["users"] + 1,
                                  S["events"]).astype(np.int64),
            "event_type": list(r.choice(["view", "click", "buy"],
                                        S["events"])),
            "value": np.round(r.uniform(0, 100, S["events"]), 2),
            "props": ["{}"] * S["events"]},
        "documents": {
            "doc_id": np.arange(1, S["documents"] + 1, dtype=np.int64),
            "text": docs, "lang": ["en"] * S["documents"],
            "source": list(r.choice(["web", "book"], S["documents"])),
            "n_chars": np.array([len(d) for d in docs], dtype=np.int64)},
        "embeddings": {
            "vec_id": np.arange(1, S["embeddings"] + 1, dtype=np.int64),
            "embedding": [list(v) for v in
                          r.standard_normal((S["embeddings"], 8))
                          .astype(np.float32)],
            "label": r.integers(0, 4, S["embeddings"]).astype(np.int32)},
    }


def fetch_requests(seed: int, n_cycles: int = 40) -> list[dict]:
    """The fetch_mix request stream: template name + seeded constants.
    The first cycle is the warm-up, the rest the timed stream."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for i, t in enumerate(cycled(rng, FETCH_CYCLE, n_cycles)):
        q = {"id": i, "template": t}
        if t == "one_hop":
            q["min_total"] = round(rng.uniform(250000, 395000), 2)
        elif t == "two_hop":
            q["region"] = rng.choice(REGIONS)
        elif t == "three_hop":
            q["size"] = rng.randint(1, 50)
            q["min_qty"] = float(rng.randint(35, 50))
        elif t == "group_top":
            q["nation"] = rng.randrange(25)
            q["k"] = rng.choice([5, 10, 20])
        elif t == "order_topk":
            q["priority"] = rng.choice(PRIORITIES)
            q["status"] = rng.choice(["F", "O", "P"])
            q["k"] = rng.choice([5, 10, 20])
        elif t == "project_uid":
            q["segment"] = rng.choice(SEGMENTS)
            q["min_bal"] = round(rng.uniform(-500, 9000), 2)
        elif t == "sets":
            q["nation"] = rng.randrange(25)
            q["segment"] = rng.choice(SEGMENTS)
            q["min_bal"] = round(rng.uniform(0, 9000), 2)
            q["op"] = rng.choice(["union", "intersection", "difference"])
        out.append(q)
    return out


# ------------------------------------------------------ retrieval_serve

HOT_TERM = "common"
RETRIEVAL_SIZES = {"docs": 1500, "vocab": 1000, "vectors": 2000, "dim": 16,
                   "centers": 24}

RETRIEVAL_CYCLE = {"bm25": 3, "bm25_hot": 2, "match": 2, "ivf": 2,
                   "ann_b1": 1, "minhash": 1, "append": 1}

#: batch ANN sizes (all below DISTRIBUTED_QUERY_MIN): b1 rides in the
#: request stream, the larger batches form the workload's fixed batch job
ANN_BATCH = {"ann_b1": 1, "ann_b1000": 1000, "ann_b16000": 16000}
#: repetitions of the batch job, each with its own query vectors
BATCH_REPS = 1


def _zipf_words(r: np.random.Generator, vocab: list[str], n: int,
                a: float = 1.1) -> list[str]:
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks ** a
    p /= p.sum()
    return list(r.choice(vocab, n, p=p))


def _doc_text(r, vocab, n_tokens) -> str:
    """Half of all tokens are the hot term, the rest Zipf over vocab."""
    toks = _zipf_words(r, vocab, n_tokens)
    hot = r.random(n_tokens) < 0.5
    return " ".join(HOT_TERM if h else w for h, w in zip(hot, toks))


def retrieval_inputs(seed: int, n_cycles: int = 30) -> dict:
    r = np.random.default_rng(seed)
    rng = random.Random(seed * 104729 + 3)
    S = RETRIEVAL_SIZES
    vocab = [f"t{i:04d}" for i in range(S["vocab"])]
    texts = [_doc_text(r, vocab, int(r.integers(8, 41)))
             for _ in range(S["docs"])]
    docs = {"doc_id": np.arange(1, S["docs"] + 1, dtype=np.int64),
            "text": texts}
    centers = r.standard_normal((S["centers"], S["dim"])) * 3.0

    def vecs(n):
        c = r.integers(0, S["centers"], n)
        return np.round(centers[c] + r.standard_normal((n, S["dim"])), 6)

    emb = {"vec_id": np.arange(1, S["vectors"] + 1, dtype=np.int64),
           "embedding": vecs(S["vectors"])}
    mid = vocab[5:400]
    # per-template shapes cycle through fixed lists, so each stream cycle
    # pair holds the same mix of term counts and MATCH forms
    n_terms = {"bm25": [1, 2, 4], "bm25_hot": [2, 3]}
    forms = ["{a} AND {b}", "{a} OR {b}", "{a} NOT {b}", "{a} {b}"]
    seen = {"bm25": 0, "bm25_hot": 0, "match": 0}
    next_doc = S["docs"] + 1
    reqs = []
    for i, t in enumerate(cycled(rng, RETRIEVAL_CYCLE, n_cycles)):
        q = {"id": i, "template": t}
        if t in ("bm25", "bm25_hot"):
            n = n_terms[t][seen[t] % len(n_terms[t])]
            seen[t] += 1
            terms = rng.sample(mid, n)
            if t == "bm25_hot":
                terms[0] = HOT_TERM
            q["terms"], q["k"] = terms, 10
        elif t == "match":
            a, b = rng.sample(vocab[:60], 2)
            q["query"] = forms[seen[t] % len(forms)].format(a=a, b=b)
            seen[t] += 1
        elif t == "ivf":
            q["vec"] = vecs(1)[0]
            q["k"], q["nprobe"] = 10, 2
        elif t == "ann_b1":
            q["vecs"] = vecs(1)
            q["k"], q["nprobe"] = 10, 2
        elif t == "minhash":
            new = []
            for j in range(8):
                if j < 4:       # near-duplicate of a corpus doc
                    src = texts[rng.randrange(len(texts))].split()
                    pos = rng.randrange(len(src))
                    src[pos] = rng.choice(vocab)
                    new.append(" ".join(src))
                else:
                    new.append(_doc_text(r, vocab, int(r.integers(8, 41))))
            q["ids"] = list(range(next_doc, next_doc + 8))
            q["texts"] = new
            next_doc += 8
        elif t == "append":
            q["ids"] = list(range(next_doc, next_doc + 4))
            q["texts"] = [_doc_text(r, vocab, int(r.integers(8, 41)))
                          for _ in range(4)]
            next_doc += 4
        reqs.append(q)
    batch = [[{"id": -1 - 2 * rep - j, "template": t,
               "vecs": vecs(ANN_BATCH[t]), "k": 10, "nprobe": 2}
              for j, t in enumerate(("ann_b1000", "ann_b16000"))]
             for rep in range(BATCH_REPS)]
    n = sum(RETRIEVAL_CYCLE.values())
    return {"docs": docs, "emb": emb, "warmup": reqs[:n], "requests": reqs[n:],
            "batch": batch}


# ------------------------------------------------------ batch_analytics

#: chain of clusters: crossing a cluster takes two hops (port -> hub ->
#: port), so the main component's diameter is 2 + (L-1) + 2(L-2) + 2.
#: Clusters are named by their distance from the middle of the chain
#: (v00 is the middle one), so the minimum uid, where min-label
#: components start, and the BFS/SSSP source both sit at the centre:
#: CC and BFS take about 17 supersteps instead of 33, which keeps the
#: job list inside the benchmark's time budget.  At 525 nodes a
#: superstep costs its ~10 Spark jobs' floor, not its join volume.
GRAPH_SHAPE = {"clusters": 11, "cluster_size": 40, "side_clusters": 2,
               "isolated": 5, "extra_edges": 20}
DEDUP_SIZES = {"docs": 1500, "bases": 120}
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]


def batch_inputs(seed: int) -> dict:
    rng = random.Random(seed * 65537 + 5)
    G = GRAPH_SHAPE
    m = G["cluster_size"]
    edges: set[tuple[str, str]] = set()
    nodes: list[str] = []

    def add(a, b):
        if a != b and (a, b) not in edges and (b, a) not in edges:
            edges.add((a, b) if rng.random() < 0.5 else (b, a))

    def chain(prefix: str, names: list[int]):
        prev = None
        for c in names:
            cl = [f"{prefix}{c:02d}_{i:03d}" for i in range(m)]
            nodes.extend(cl)
            for v in cl[1:]:
                add(cl[0], v)                       # the cluster hub
            for _ in range(G["extra_edges"]):       # intra-cluster noise
                a, b = rng.sample(cl[3:], 2)
                add(a, b)
            if prev is not None:
                add(prev, cl[1])                    # bridge
            prev = cl[2]
    L = G["clusters"]
    mid = L // 2
    # position p along the chain -> name by distance from the middle
    rank = sorted(range(L), key=lambda p: (abs(p - mid), p))
    name = {p: i for i, p in enumerate(rank)}
    chain("v", [name[p] for p in range(L)])
    chain("s", list(range(G["side_clusters"])))
    nodes.extend(f"z{i:03d}" for i in range(G["isolated"]))
    edge_list = sorted(edges)
    weights = [rng.randint(1, 5) for _ in edge_list]
    center = "v00_000"

    # near-duplicate corpus: bases with planted near-copies + noise docs
    D = DEDUP_SIZES
    words = [f"d{i:03d}" for i in range(400)]

    def text(n):
        return " ".join(rng.choice(STOPWORDS) if rng.random() < 0.3
                        else rng.choice(words) for _ in range(n))

    docs = []
    for b in range(D["bases"]):
        base = text(rng.randint(20, 40)).split()
        docs.append(" ".join(base))
        for _ in range(rng.randint(1, 3)):
            cp = list(base)
            cp[rng.randrange(len(cp))] = rng.choice(words)
            docs.append(" ".join(cp))
    while len(docs) < D["docs"]:
        docs.append(text(rng.randint(20, 40)))
    order = list(range(len(docs)))
    rng.shuffle(order)
    corpus = {"doc_id": [i + 1 for i in range(len(docs))],
              "text": [docs[j] for j in order]}
    return {"nodes": nodes, "edges": edge_list, "weights": weights,
            "seed_uid": center, "corpus": corpus}


# ------------------------------------------------------- write_read_mix

WRITE_SIZES = {"people": 300, "knows": 600, "groups": 12}
WRITE_CYCLE = {"insert": 2, "modify": 2, "edge": 2, "delete": 1,
               "undo": 2, "count": 4, "neighbors": 4, "group": 3}
#: the write segment of every fetch_mix cycle, in this fixed order: one of
#: each write_read_mix operation on that workload's item graph beside the
#: TPC-H graph.  Every read is the first after a write (and pays its
#: flush).  The undo reverts a modify, the undo path that runs a Spark
#: join (undoing a delete only re-buffers rows for the next flush), and
#: the group read after it sees the restored scores
FETCH_WRITE_ORDER = ("insert", "neighbors", "edge", "delete", "count",
                     "modify", "undo", "group")
FETCH_WRITE_CYCLE = {t: 1 for t in FETCH_WRITE_ORDER}


class GraphModel:
    """Pure-Python model of the item graph: what every read must see."""

    def __init__(self):
        self.nodes: dict[str, dict] = {}
        self.edges: dict[str, tuple[str, str]] = {}
        self.undo: list[tuple[dict, dict]] = []

    def snapshot(self):
        self.undo.append(({k: dict(v) for k, v in self.nodes.items()},
                          dict(self.edges)))

    def count(self, min_score: int) -> int:
        return sum(1 for v in self.nodes.values() if v["score"] > min_score)

    def neighbors(self, uid: str) -> list[str]:
        return sorted({e for s, e in self.edges.values() if s == uid})

    def group(self, g: int) -> list[tuple[str, int]]:
        return sorted((u, v["score"]) for u, v in self.nodes.items()
                      if v["group"] == g)


def write_inputs(seed: int, n_cycles: int = 40,
                 order: tuple[str, ...] = ()) -> dict:
    """The write_read_mix inputs; ``order``: every cycle runs these
    templates in this order instead of a seeded shuffle of WRITE_CYCLE."""
    rng = random.Random(seed * 31337 + 7)
    W = WRITE_SIZES
    model = GraphModel()
    seq = [0]

    def new_uid(prefix):
        seq[0] += 1
        return f"{prefix}{seq[0]:06d}"

    def person():
        return {"name": f"p{rng.randrange(10**6)}",
                "score": rng.randrange(1000),
                "group": rng.randrange(W["groups"])}

    init_nodes = {new_uid("P"): person() for _ in range(W["people"])}
    uids = sorted(init_nodes)
    init_edges = {}
    while len(init_edges) < W["knows"]:
        a, b = rng.sample(uids, 2)
        init_edges[new_uid("K")] = (a, b)
    model.nodes = {k: dict(v) for k, v in init_nodes.items()}
    model.edges = dict(init_edges)

    warmup = [{"id": -1, "template": "count", "min_score": 500},
              {"id": -2, "template": "neighbors", "uid": uids[0]},
              {"id": -3, "template": "group", "group": 0}]
    ops = []
    restored: list[str] = []
    templates = (list(order) * n_cycles if order
                 else cycled(rng, WRITE_CYCLE, n_cycles))
    for i, t in enumerate(templates):
        op = {"id": i, "template": t}
        live = sorted(model.nodes)
        if t == "undo" and not model.undo:
            t = op["template"] = "count"
        if t == "insert":
            model.snapshot()
            new = {new_uid("P"): person() for _ in range(10)}
            model.nodes.update({k: dict(v) for k, v in new.items()})
            knows = {}
            for u in new:
                knows[new_uid("K")] = (u, rng.choice(live))
            model.edges.update(knows)
            op["nodes"], op["edges"] = new, knows
        elif t == "modify":
            model.snapshot()
            changed = {}
            for u in rng.sample(live, 20):
                s = model.nodes[u]["score"]
                changed[u] = (s + rng.randint(1, 999)) % 1000
                model.nodes[u]["score"] = changed[u]
            op["scores"] = changed
        elif t == "edge":
            model.snapshot()
            a, b = rng.sample(live, 2)
            uid = new_uid("K")
            model.edges[uid] = (a, b)
            op["uid"], op["start"], op["end"] = uid, a, b
        elif t == "delete":
            model.snapshot()
            u = rng.choice(live)
            model.nodes.pop(u)
            model.edges = {k: (s, e) for k, (s, e) in model.edges.items()
                           if u not in (s, e)}
            op["uid"] = u
        elif t == "undo":
            model.nodes, model.edges = model.undo.pop()
            restored = sorted(set(model.nodes) - set(live))
        elif t == "count":
            op["min_score"] = rng.randrange(1000)
            op["expect"] = model.count(op["min_score"])
        elif t == "neighbors":      # a node an undo brought back, if any
            u = restored[0] if restored else rng.choice(live)
            restored = []
            op["uid"] = u
            op["expect"] = model.neighbors(u)
        elif t == "group":
            op["group"] = rng.randrange(W["groups"])
            op["expect"] = model.group(op["group"])
        ops.append(op)
    return {"nodes": init_nodes, "edges": init_edges, "warmup": warmup,
            "ops": ops}


def fetch_inputs(seed: int, n_cycles: int = 40) -> dict:
    """The fetch reads' first cycle is the warm-up; every timed cycle is
    one cycle of fetch reads and one write segment, interleaved in a
    seeded order that keeps the writes' own order (fetch reads do not
    touch the item graph, so the model's answers stay valid)."""
    reads = fetch_requests(seed, n_cycles + 1)
    writes = write_inputs(seed, n_cycles, FETCH_WRITE_ORDER)
    nr, nw = sum(FETCH_CYCLE.values()), sum(FETCH_WRITE_CYCLE.values())
    rng = random.Random(seed * 7919 + 2)
    stream = []
    for c in range(n_cycles):
        r = iter(reads[(c + 1) * nr:(c + 2) * nr])
        w = iter(writes["ops"][c * nw:(c + 1) * nw])
        slots = [r] * nr + [w] * nw
        rng.shuffle(slots)
        stream += [next(s) for s in slots]
    for i, q in enumerate(stream):
        q["id"] = i
    return {"tables": tpch_tables(seed), "warmup": reads[:nr],
            "requests": stream, "writes": writes}


GENERATORS = {
    "fetch_mix": fetch_inputs,
    "retrieval_serve": retrieval_inputs,
    "batch_analytics": batch_inputs,
    "write_read_mix": write_inputs,
}
