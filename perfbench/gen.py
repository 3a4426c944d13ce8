"""Seeded input generators for the workloads.

Every input the engine sees is produced here from the workload seed, so
the same seed gives byte-identical files and the engine receives nothing
else. Files are plain parquet (pyarrow) plus tab-separated op streams.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# oltp: TPC-H-shaped tables (scale factor 0.005: 750 customers,
# 7,500 orders, ~30,000 lineitems), the graph TpchGraph derives.
OLTP_SF = 0.005
OLTP_OPS = 4000
USER_BASE = 7_000_000_000  # user node ids written by the workload
FOLLOW_BASE = 70_000_000_000  # follows edge ids: base + user * 1e6 + custkey
N_USERS = 64

# analytics: R-MAT (Graph500 a/b/c = .57/.19/.19) graph versions.
RMAT_SCALE = 10
RMAT_EDGE_FACTOR = 8
GRAPH_VERSIONS = 10  # > the 8-entry GraphX cache in GraphAnalytics

# curation: corpus of short docs with planted duplicates, 64-d embeddings.
DOCS_BASE = 3000
DOCS_PER_BATCH = 200
INGEST_BATCHES = 40
QUERIES_PER_BATCH = 32
KNN_BATCHES = 40
DIM = 64
CLUSTERS = 32
VOCAB = 3000
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05

MKT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUS = ["F", "O", "P"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
BRANDS = ["Brand#%d" % i for i in range(1, 26)]
ADJ = ["cold", "small", "large", "blue", "green", "red", "shiny", "old"]
NOUN = ["widget", "gadget", "bolt", "gear", "panel", "valve", "spring"]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _zipf_index(rng, n, size, s=1.1):
    """Zipf-skewed indexes in [0, n): rank r drawn with weight 1/(r+1)^s,
    ranks shuffled once so hot keys are spread over the key space."""
    w = 1.0 / np.arange(1, n + 1) ** s
    perm = rng.permutation(n)
    return perm[rng.choice(n, size=size, p=w / w.sum())]


# ---------------------------------------------------------------- oltp

def tpch_tables(seed: int, sf: float = OLTP_SF) -> dict:
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": ["REGION_%d" % i for i in range(5)]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": ["NATION_%d" % i for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, i64),
        "c_name": ["Customer#%09d" % k for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [MKT[i] for i in rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, i64),
        "s_name": ["Supplier#%09d" % k for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": ["%s %s" % (ADJ[a], NOUN[b]) for a, b in
                   zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [BRANDS[i] for i in rng.integers(0, 25, n_part)],
        "p_type": ["ECONOMY"] * n_part,
        "p_size": pa.array(rng.integers(1, 50, n_part), i32),
        "p_retailprice": np.round(900 + pk % 1000 / 10.0, 2)})
    ok = np.arange(n_ord)
    dates = np.datetime64("1995-01-01") + rng.integers(0, 2500, n_ord).astype("timedelta64[D]")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(_zipf_index(rng, n_cust, n_ord, 0.6), i64),
        "o_orderstatus": [STATUS[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": pa.array(dates.astype("datetime64[us]")),
        "o_orderpriority": [PRIO[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    lo = np.repeat(ok, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(lo)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lo, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(ln, i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array((np.repeat(dates, lines)
                                + rng.integers(1, 120, n_li).astype("timedelta64[D]"))
                               .astype("datetime64[us]"))})
    return t


def oltp_ops(seed: int, n_cust: int, n_ops: int = OLTP_OPS) -> list:
    """The closed-loop op stream: 55% unique-index lookup + node fetch,
    15% QueryStep, 10% 2-3 step traversals, 20% write transactions.
    Keys are Zipf-skewed. Each op is a list of strings (one TSV line)."""
    rng = np.random.default_rng([seed, 2])
    # stratified: every block of 20 ops holds the exact mix, and a run
    # consumes whole blocks, so its mix is the same whatever the seed.
    # Each fifth of a block holds one write, so how often two writes
    # queue behind each other does not hang on the seed either.
    reads = [0] * 11 + [1] * 3 + [2] * 2

    def block():
        r = rng.permutation(reads)
        return np.concatenate([rng.permutation(np.append(r[i:i + 4], 3)) for i in range(0, 16, 4)])

    kinds = np.concatenate([block() for _ in range(-(-n_ops // 20))])[:n_ops]
    custs = _zipf_index(rng, n_cust, n_ops)
    written = []  # follows edges written so far, candidates for deletes
    ops = []
    for i, (k, c) in enumerate(zip(kinds, custs)):
        c = int(c)
        if k == 0:
            ops.append(["lookup", "Customer#%09d" % c])
        elif k == 1:
            d = ("OUT", "IN", "BOTH")[rng.integers(0, 3)]
            ops.append(["step", str(1_000_000_000 + c), d, str(int(rng.integers(3, 9)))])
        elif k == 2:
            prog = ("orders_parts", "nation_peers", "followers_follow")[rng.integers(0, 3)]
            ops.append(["trav", prog, str(1_000_000_000 + c)])
        else:
            users = [int(u) for u in rng.integers(0, N_USERS, 6)]
            edges = []
            for u in users[:4]:
                tgt = int(_zipf_index(rng, n_cust, 1)[0])
                eid = FOLLOW_BASE + u * 1_000_000 + tgt
                edges.append("%d:%d:%d:0" % (eid, USER_BASE + u, 1_000_000_000 + tgt))
                written.append((eid, u, tgt))
            if len(written) > 8 and rng.random() < 0.5:
                eid, u, tgt = written[int(rng.integers(0, len(written) - 4))]
                edges.append("%d:%d:%d:1" % (eid, USER_BASE + u, 1_000_000_000 + tgt))
                users.append(u)
            ops.append(["write", ",".join(str(USER_BASE + u) for u in users), ";".join(edges)])
    return ops


def gen_oltp(seed: int, out: str) -> None:
    tables = tpch_tables(seed)
    for name, t in tables.items():
        _write(t, os.path.join(out, "tpch", name + ".parquet"))
    ops = oltp_ops(seed, tables["customer"].num_rows)
    with open(os.path.join(out, "ops.tsv"), "w") as f:
        for op in ops:
            f.write("\t".join(op) + "\n")


# ----------------------------------------------------------- analytics

def rmat_edges(rng, scale: int, edge_factor: int, a=0.57, b=0.19, c=0.19):
    """Distinct directed R-MAT edges without self-loops."""
    m = edge_factor << scale
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    for _ in range(scale):
        r = rng.random(m)
        right = (r >= a) & (r < a + b) | (r >= a + b + c)
        down = r >= a + b
        src = src * 2 + down
        dst = dst * 2 + right
    perm = rng.permutation(1 << scale)  # scatter the hubs over the id range
    src, dst = perm[src], perm[dst]
    keep = src != dst
    e = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    return e[:, 0], e[:, 1]


def gen_analytics(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 3])
    params = []
    for v in range(GRAPH_VERSIONS):
        src, dst = rmat_edges(rng, RMAT_SCALE, RMAT_EDGE_FACTOR)
        w = 1 + (src + dst) % 3
        _write(pa.table({"src": src, "dst": dst, "w": w}),
               os.path.join(out, "graphs", "v%d.parquet" % v))
        verts = np.unique(np.concatenate([src, dst]))
        deg = np.bincount(np.concatenate([src, dst]), minlength=1 << RMAT_SCALE)
        hubs = verts[np.argsort(-deg[verts], kind="stable")[:50]]
        params.append({
            "ppr_seed": int(hubs[rng.integers(0, len(hubs))]),
            "msd_sources": [int(x) for x in rng.choice(verts, 4, replace=False)],
            "kcore_k": int(rng.integers(3, 6)),
        })
    with open(os.path.join(out, "params.json"), "w") as f:
        json.dump(params, f, sort_keys=True)


# ------------------------------------------------------------ curation

def _vocab(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, VOCAB)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    return sorted(words)


def _doc(rng, vocab, wz):
    n = int(rng.integers(45, 56))
    return " ".join(vocab[i] for i in rng.choice(len(vocab), n, p=wz))


def _unit(x):
    return (x / np.linalg.norm(x, axis=-1, keepdims=True)).astype(np.float32)


def gen_curation(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab(rng)
    wz = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    wz /= wz.sum()
    centers = rng.normal(size=(CLUSTERS, DIM)) * 3.0

    def vectors(n):
        return _unit(centers[rng.integers(0, CLUSTERS, n)] + rng.normal(size=(n, DIM)))

    texts = [_doc(rng, vocab, wz) for _ in range(DOCS_BASE)]
    embs = vectors(DOCS_BASE)
    ids = np.arange(DOCS_BASE, dtype=np.int64)

    def docs_table(ids, texts, embs):
        return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts,
                         "emb": pa.array(list(embs), pa.list_(pa.float32()))})

    _write(docs_table(ids, texts, embs), os.path.join(out, "corpus.parquet"))
    pool_texts, pool_embs = list(texts), list(embs)  # sources for planted copies
    planted = []
    next_id = DOCS_BASE
    for b in range(INGEST_BATCHES):
        bt, be, bi = [], [], []
        for _ in range(DOCS_PER_BATCH):
            r = rng.random()
            did = next_id
            next_id += 1
            if r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
                j = int(rng.integers(0, len(pool_texts)))
                words = pool_texts[j].split(" ")
                if r >= EXACT_DUP_SHARE:  # near duplicate: one word replaced
                    words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
                    planted.append({"id": did, "kind": "near", "text_of": j})
                else:
                    planted.append({"id": did, "kind": "exact", "text_of": j})
                bt.append(" ".join(words))
                be.append(_unit(pool_embs[j] + rng.normal(size=DIM).astype(np.float32) * 0.01))
            else:
                bt.append(_doc(rng, vocab, wz))
                be.append(vectors(1)[0])
            bi.append(did)
        pool_texts.extend(bt)
        pool_embs.extend(be)
        _write(docs_table(np.array(bi, dtype=np.int64), bt, np.stack(be)),
               os.path.join(out, "batches", "b%d.parquet" % b))
    for q in range(KNN_BATCHES):
        qv = vectors(QUERIES_PER_BATCH)
        _write(pa.table({"q_id": pa.array(np.arange(QUERIES_PER_BATCH) + q * 1000, pa.int64()),
                         "q_vec": pa.array(list(qv), pa.list_(pa.float32()))}),
               os.path.join(out, "queries", "q%d.parquet" % q))
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump(planted, f, sort_keys=True)


def gen_batch(seed: int, out: str) -> None:
    gen_analytics(seed, out)
    gen_curation(seed, out)


GENERATORS = {"oltp": gen_oltp, "batch": gen_batch}


def generate(workload: str, seed: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out)
