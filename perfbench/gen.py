"""Seeded input generator owned by the benchmark.

It writes the pipeline's input table (``doc_id, tokens, n_tok, source``),
the ``pods`` dimension and the ``routes`` map, and keeps the ground truth
beside them: the true level, source, sink, structural damage and
timestamp of every row.  Nothing here imports the program; the token
format (``token = utf8_byte + 1000``) is the input format itself, and
the sink of a row is worked out from the routes table the generator
writes, first match winning, as the routes format defines it.

The make-up follows the reference forwarder's traffic: one hot namespace
holds about 40% of the rows, one source dominates, about 3% of rows name
a pod that the dimension lacks, and about 2% of lines are corrupt (1%
lose their level token and must be quarantined, 0.5% carry NUL bytes and
0.5% an oversized body; both of those must still be delivered).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when any generation rule changes; it keys every input cache
GEN_VERSION = 2

TOKEN_OFFSET = 1000
SOURCES = np.array(["app", "ingress", "sidecar", "batch", "system"])
SOURCE_P = np.array([0.45, 0.20, 0.15, 0.12, 0.08])
LEVELS = np.array(["DEBUG", "INFO", "WARN", "ERROR", "FATAL"])
LEVEL_P = np.array([0.25, 0.45, 0.15, 0.12, 0.03])
NAMESPACES = np.array(["ns-hot"] + [f"ns-{i}" for i in range(1, 12)])
CONTAINERS = np.array(["main", "sidecar-proxy", "init", "logger", "exporter"])
WORKLOADS = np.array(["deployment", "statefulset", "daemonset"])
VOCAB = np.array(
    "request served handler latency cache miss hit retry timeout connection "
    "closed opened queue depth flush batch commit offset replica leader "
    "follower election snapshot compact merge scan token sequence parse "
    "route enrich aggregate shuffle partition".split())
ROUTES = [
    ("app", "ERROR", "logs-app-error"),
    ("app", "FATAL", "logs-app-error"),
    ("app", "*", "logs-app"),
    ("ingress", "*", "logs-ingress"),
    ("sidecar", "ERROR", "logs-sidecar-error"),
    ("sidecar", "*", "logs-sidecar"),
    ("batch", "*", "logs-batch"),
    ("system", "FATAL", "logs-system-fatal"),
    ("*", "*", "logs-default"),
]
N_PODS = 200
HOT_FRAC = 0.40
DIM_MISS_FRAC = 0.03
STRUCT_FRAC = 0.010
NUL_FRAC = 0.005
LONG_FRAC = 0.005
LONG_BODY = 6000
BASE_TS = np.datetime64("2024-03-01T00:00:00", "s")


def sink_of(source: np.ndarray, level: np.ndarray) -> np.ndarray:
    """First-match routing over ``ROUTES``; '*' matches anything."""
    out = np.full(len(source), "", dtype=object)
    todo = np.ones(len(source), dtype=bool)
    for src, lvl, sink in ROUTES:
        hit = todo.copy()
        if src != "*":
            hit &= source == src
        if lvl != "*":
            hit &= level == lvl
        out[hit] = sink
        todo &= ~hit
    return out


def make_pods(seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng([seed, 1])
    j = np.arange(N_PODS)
    ns = NAMESPACES[rng.integers(1, len(NAMESPACES), N_PODS)]
    ns[: N_PODS // 5] = "ns-hot"
    return {
        "pod_id": np.array([f"pid-{x:06x}" for x in j], dtype=object),
        "pod_name": np.array([f"pod-{x}" for x in j], dtype=object),
        "namespace": ns.astype(object),
        "container_name": CONTAINERS[rng.integers(0, len(CONTAINERS),
                                                  N_PODS)].astype(object),
        "node": np.array([f"node-{x % 8}" for x in j], dtype=object),
        "workload_kind": WORKLOADS[rng.integers(0, len(WORKLOADS),
                                                N_PODS)].astype(object),
        "labels_json": np.array(
            [f'{{"team":"t{x % 7}","tier":"{x % 3}"}}' for x in j],
            dtype=object),
    }


def make_rows(seed: int, start: int, n: int, pods: dict[str, np.ndarray],
              step_s: int = 1) -> dict[str, np.ndarray]:
    """Rows ``start .. start+n-1`` of the seed's log stream: the raw
    lines plus ground truth.  Row i is stamped ``BASE_TS + i*step_s``,
    so any slice of the stream is reproducible on its own."""
    rng = np.random.default_rng([seed, 2, start])
    idx = np.arange(start, start + n)
    ts = BASE_TS + (idx * step_s).astype("timedelta64[s]")
    ts_str = np.char.add(np.datetime_as_string(ts, unit="s"), "Z")
    level = LEVELS[rng.choice(len(LEVELS), n, p=LEVEL_P)]
    source = SOURCES[rng.choice(len(SOURCES), n, p=SOURCE_P)]

    hot = np.flatnonzero(pods["namespace"] == "ns-hot")
    pod = rng.integers(0, N_PODS, n)
    is_hot = rng.random(n) < HOT_FRAC
    pod[is_hot] = hot[rng.integers(0, len(hot), int(is_hot.sum()))]
    pod_id = pods["pod_id"][pod].copy()
    miss = rng.random(n) < DIM_MISS_FRAC
    pod_id[miss] = np.array([f"pid-x{k:07x}" for k in idx[miss]], dtype=object)

    n_words = rng.integers(3, 13, n)
    words = VOCAB[rng.integers(0, len(VOCAB), (n, 12))]
    body = np.array([" ".join(w[:k]) for w, k in zip(words, n_words)],
                    dtype=object)
    u = rng.random(n)
    struct = u < STRUCT_FRAC
    nul = (u >= STRUCT_FRAC) & (u < STRUCT_FRAC + NUL_FRAC)
    long_ = ((u >= STRUCT_FRAC + NUL_FRAC)
             & (u < STRUCT_FRAC + NUL_FRAC + LONG_FRAC))
    body[nul] = body[nul] + " \x00\x00corrupt\x00 tail"
    body[long_] = body[long_] + " " + "x" * LONG_BODY

    path = ("/var/log/pods/" + pods["namespace"][pod] + "_"
            + pods["pod_name"][pod] + "_" + pod_id + "/"
            + pods["container_name"][pod] + "/0.log")
    head = ts_str.astype(object) + " "
    line = np.where(struct, head + path + " " + body,
                    head + level.astype(object) + " " + path + " " + body)
    return {
        "doc_id": np.array([f"doc-{i:012d}" for i in idx], dtype=object),
        "line": line,
        "source": source.astype(object),
        # ground truth
        "level": np.where(struct, "", level).astype(object),
        "struct": struct,
        "sink": np.where(struct, "", sink_of(source, level)).astype(object),
        "log_date": np.datetime_as_string(ts, unit="D").astype(object),
        "n_tok": np.array([len(s.encode()) for s in line], dtype=np.int64),
    }


def encode(lines: np.ndarray) -> pa.Array:
    """Lines → ``list<int32>`` tokens, one token per UTF-8 byte."""
    raw = [s.encode() for s in lines]
    offsets = np.zeros(len(raw) + 1, dtype=np.int32)
    np.cumsum([len(b) for b in raw], out=offsets[1:])
    values = np.frombuffer(b"".join(raw), dtype=np.uint8).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets),
                                    pa.array(values + TOKEN_OFFSET))


def write_sequences(path: str, rows: dict[str, np.ndarray]) -> None:
    tokens = encode(rows["line"])
    tbl = pa.table({
        "doc_id": pa.array(rows["doc_id"], pa.string()),
        "tokens": tokens,
        "n_tok": pa.array(rows["n_tok"], pa.int32()),
        "source": pa.array(rows["source"], pa.string()),
    })
    pq.write_table(tbl, path)


def write_dims(out_dir: str, pods: dict[str, np.ndarray]) -> tuple[str, str]:
    """pods.parquet and routes.parquet under ``out_dir``."""
    pods_path = os.path.join(out_dir, "pods.parquet")
    routes_path = os.path.join(out_dir, "routes.parquet")
    pq.write_table(pa.table({k: pa.array(v, pa.string())
                             for k, v in pods.items()}), pods_path)
    pq.write_table(pa.table({
        "source": [r[0] for r in ROUTES],
        "level": [r[1] for r in ROUTES],
        "sink_id": [r[2] for r in ROUTES],
    }), routes_path)
    return pods_path, routes_path


TRUTH_COLUMNS = ("doc_id", "source", "level", "struct", "sink", "log_date",
                 "n_tok")


def truth_table(rows: dict[str, np.ndarray]) -> pa.Table:
    """The ground truth kept beside the inputs (never shown to the
    program)."""
    return pa.table({k: pa.array(rows[k]) for k in TRUTH_COLUMNS})


# --- catalog tables -------------------------------------------------------
# The catalog's inputs do not depend on --seed: the workload's queries
# are fixed, and so is the data their oracles are cached against.  The
# sizes and shapes follow the repository's scale-factor-0.01 test set,
# measured column by column (README.md, "Catalog inputs").
CATALOG_SEED = 42
N_ORDERS = 15_000
N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
N_PARTS = 2_000
LINES_PER_ORDER = 4
N_EVENTS = 10_000
N_USERS = 150
EVENT_GAP_S = 259.0
N_DOCS = 500
#: one document in 20 is a near-duplicate of another, a copy of it with
#: `` dup`` appended
NEAR_DUPS = N_DOCS // 20
N_VECS = 500
VEC_DIM = 64
N_LABELS = 10
DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2_405
SHIP_DAYS = 2_500
DOC_VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_catalog(out_dir: str) -> None:
    """A TPC-H-shaped star schema plus the ``events``, ``documents`` and
    ``embeddings`` tables the catalog queries read, at scale factor
    0.01."""
    rng = np.random.default_rng(CATALOG_SEED)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts = pa.timestamp("us")
    put("region", {"r_regionkey": pa.array(np.arange(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25), i32),
                   "n_name": [f"NATION_{k}" for k in range(25)],
                   "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    put("customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMERS), f64),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], N_CUSTOMERS)})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIERS), f64)})
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    put("part", {
        "p_partkey": pa.array(np.arange(N_PARTS), i64),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(N_PARTS)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, N_PARTS)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                              "STANDARD", "LARGE"], N_PARTS),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), i32),
        "p_retailprice": pa.array(np.round(900 + np.arange(N_PARTS) % 1000 * 0.1, 2), f64)})
    odate = DAY0 + rng.integers(0, ORDER_DAYS, N_ORDERS).astype("timedelta64[D]")
    put("orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, N_ORDERS), f64),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), ts),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)})
    n_li = N_ORDERS * LINES_PER_ORDER
    # line prices, discounts, taxes and ship dates are drawn apart from
    # the quantity and the order, as in the test set
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li), f64),
        "l_discount": pa.array(_money(rng, 0, 0.10, n_li), f64),
        "l_tax": pa.array(_money(rng, 0, 0.08, n_li), f64),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array((DAY0 + rng.integers(1, SHIP_DAYS, n_li)
                                .astype("timedelta64[D]")).astype("datetime64[us]"), ts)})
    gaps = rng.exponential(EVENT_GAP_S, N_EVENTS) * 1e6
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    put("events", {
        "event_id": pa.array(np.arange(N_EVENTS), i64),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], N_EVENTS),
        "value": pa.array(np.maximum(np.round(rng.exponential(50, N_EVENTS), 2), 0.01), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = [" ".join(rng.choice(DOC_VOCAB, int(rng.integers(10, 100))))
             for _ in range(N_DOCS)]
    picked = rng.choice(N_DOCS, 2 * NEAR_DUPS, replace=False)
    for src, dst in zip(picked[:NEAR_DUPS], picked[NEAR_DUPS:]):
        texts[dst] = texts[src] + " dup"
    put("documents", {
        "doc_id": pa.array(np.arange(N_DOCS), i64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], N_DOCS,
                           p=[0.44, 0.15, 0.14, 0.14, 0.13]),
        "source": [f"src{d % 20}" for d in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # unit vectors in random directions; the label is drawn apart
    vec = rng.normal(size=(N_VECS, VEC_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, N_VECS), i32)})
