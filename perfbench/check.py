"""Correctness checks, run after the timed loop on what the engine returned.

Each checker returns a Verdict: how many results it checked, which were
wrong (with a reason) and the recall@10 of every checked ranked result.
"""
import collections
import hashlib
import heapq
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

from gen import USER_BASE


class Verdict:
    def __init__(self):
        self.checked = 0
        self.wrong = []
        self.recalls = []
        self.notes = {}

    def merge(self, other):
        self.checked += other.checked
        self.wrong += other.wrong
        self.recalls += other.recalls
        self.notes.update(other.notes)
        return self

    def expect(self, what, got, want):
        self.checked += 1
        if got != want:
            self.wrong.append("%s: got %s, want %s" % (what, _short(got), _short(want)))
            return False
        return True


def _short(x, n=160):
    s = repr(x)
    return s if len(s) <= n else s[:n] + "..."


def recall_at_10(got, want):
    """Share of the first ten wanted items found among the first ten got
    items (multisets), or None when nothing is wanted."""
    w = collections.Counter(want[:10])
    if not w:
        return None
    g = collections.Counter(got[:10])
    return sum((w & g).values()) / sum(w.values())


def read_tsv(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


# ---------------------------------------------------------------- oltp

class OltpModel:
    """The published snapshot (read with DuckDB) plus the benchmark's own
    record of the transactions it committed."""

    def __init__(self, snap_dir, writes):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE e AS SELECT id, src, dst, label FROM read_parquet('%s/edges/*/*.parquet', "
            "hive_partitioning = true)" % snap_dir)
        self.con.execute(
            "CREATE TABLE n AS SELECT id, label, props['name'][1][1].vText AS name FROM "
            "read_parquet('%s/nodes/*/*.parquet', hive_partitioning = true)" % snap_dir)
        self.writes = writes  # in commit order
        self._states = {}

    def state(self, k):
        """(follows edges id -> (src, dst), user ids) after k commits."""
        if k not in self._states:
            follows, users = {}, set()
            for w in self.writes[:k]:
                users.update(int(u) for u in w[3].split(","))
                for e in filter(None, w[4].split(";")):
                    eid, s, d, deleted = e.split(":")
                    if deleted == "1":
                        follows.pop(int(eid), None)
                    else:
                        follows[int(eid)] = (int(s), int(d))
            self._states[k] = (follows, users)
        return self._states[k]

    def edges(self, k, col, ids):
        """Live edges (id, src, dst, label) whose `col` is in ids."""
        if not ids:
            return []
        base = self.con.execute(
            "SELECT id, src, dst, label FROM e WHERE %s IN (SELECT unnest(?))" % col,
            [sorted(set(ids))]).fetchall()
        follows, _ = self.state(k)
        want = set(ids)
        extra = [(eid, s, d, "follows") for eid, (s, d) in follows.items()
                 if (s if col == "src" else d) in want]
        return base + extra

    def lookup(self, k, name):
        rows = self.con.execute("SELECT id, label, name FROM n WHERE label = 'customer' AND name = ?",
                                [name]).fetchall()
        return sorted("%d|%s|%s" % r for r in rows)

    def step(self, k, node, direction, limit):
        out = []
        if direction in ("OUT", "BOTH"):
            out += sorted((("OUT", e[0], e[2]) for e in self.edges(k, "src", [node])),
                          key=lambda r: -r[1])
        if direction in ("IN", "BOTH"):
            out += sorted((("IN", e[0], e[1]) for e in self.edges(k, "dst", [node])),
                          key=lambda r: -r[1])
        return ["%s|%d|%d" % r for r in out[:limit]]

    def _hop(self, k, nodes, label, forward):
        col, end = ("src", 2) if forward else ("dst", 1)
        adj = collections.defaultdict(list)
        for e in self.edges(k, col, nodes):
            if e[3] == label:
                adj[e[1] if forward else e[2]].append(e[end])
        _, live_users = self.state(k)
        res = []
        for n in nodes:
            # endpoints join the live nodes: written users exist only
            # once their transaction is visible
            res += [t for t in adj[n] if t < USER_BASE or t in live_users]
        return res

    def trav(self, k, prog, node):
        steps = {"orders_parts": [("placed", True), ("contains", True)],
                 "nation_peers": [("in_nation", True), ("in_nation", False)],
                 "followers_follow": [("follows", False), ("follows", True)]}[prog]
        cur = [node]
        for label, fwd in steps:
            cur = self._hop(k, cur, label, fwd)
        return [str(x) for x in sorted(cur)]


def check_oltp(out_dir, snap_dir):
    v = Verdict()
    writes = read_tsv(os.path.join(out_dir, "oltp_writes.tsv"))
    v.expect("commit order", [int(w[0]) for w in writes], list(range(1, len(writes) + 1)))
    m = OltpModel(snap_dir, writes)
    for r in read_tsv(os.path.join(out_dir, "oltp_reads.tsv")):
        i, k, kind = r[0], int(r[1]), r[2]
        got = r[-1].split(",") if r[-1] else []
        if kind == "lookup":
            want = m.lookup(k, r[3])
        elif kind == "step":
            want = m.step(k, int(r[3]), r[4], int(r[5]))
        else:
            want = m.trav(k, r[3], int(r[4]))
        v.expect("op %s %s" % (i, " ".join(r[2:-1])), got, want)
        rc = recall_at_10(got, want)
        if rc is not None:
            v.recalls.append(rc)
    return v


# ----------------------------------------------------------- analytics

def _graph(input_dir, ver):
    t = pq.read_table(os.path.join(input_dir, "graphs", "v%d.parquet" % ver)).to_pydict()
    return list(zip(t["src"], t["dst"], t["w"]))


def _undirected(edges):
    adj = collections.defaultdict(set)
    for s, d, _ in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    return adj


def ref_components(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d, _ in edges:
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return sorted("%d|%d" % (x, find(x)) for x in parent)


def ref_pagerank(edges, iters=3):
    """GraphX static PageRank, unnormalized: r' = 0.15 + 0.85 sum r/outdeg."""
    verts = sorted({x for e in edges for x in e[:2]})
    outdeg = collections.Counter(s for s, _, _ in edges)
    r = {x: 1.0 for x in verts}
    for _ in range(iters):
        nxt = {x: 0.0 for x in verts}
        for s, d, _ in edges:
            nxt[d] += r[s] / outdeg[s]
        r = {x: 0.15 + 0.85 * nxt[x] for x in verts}
    return r


def ref_ppr(edges, seed, rounds=3, d=850):
    adj = _undirected(edges)
    restart = (1000 - d) * 1000
    r = {x: 0 for x in adj}
    r[seed] = 1_000_000
    for _ in range(rounds):
        m = collections.Counter()
        for u, ru in r.items():
            if ru > 0:
                share = int(np.floor((ru * d) / (len(adj[u]) * 1000)))
                for w in adj[u]:
                    m[w] += share
        r = {x: (restart if x == seed else 0) + m[x] for x in adj}
    return sorted("%d|%d" % (x, s) for x, s in r.items() if s > 0)


def ref_lpa(edges, rounds=2):
    adj = _undirected(edges)
    lab = {x: x for x in adj}
    for _ in range(rounds):
        nxt = {}
        for a, nb in adj.items():
            c = collections.Counter(lab[b] for b in nb)
            nxt[a] = min(c, key=lambda l: (-c[l], l))
        lab = nxt
    return sorted("%d|%d" % kv for kv in lab.items())


def ref_kcore(edges, k):
    adj = {x: set(n) for x, n in _undirected(edges).items()}
    q = [x for x, n in adj.items() if len(n) < k]
    while q:
        x = q.pop()
        if x not in adj:
            continue
        for y in adj.pop(x):
            if y in adj:
                adj[y].discard(x)
                if len(adj[y]) < k:
                    q.append(y)
    return sorted("%d|%d" % (x, len(n)) for x, n in adj.items())


def ref_hits(edges, rounds=2):
    e = sorted({(s, d) for s, d, _ in edges})
    nodes = sorted({x for p in e for x in p})
    h = {x: 1_000_000 for x in nodes}
    a = {}

    def norm(raw):
        tot = sum(raw.values())
        return {x: (v * 1_000_000) // tot for x, v in raw.items()}

    for _ in range(rounds):
        raw = collections.Counter()
        for s, d in e:
            raw[d] += h[s]
        a = norm(raw)
        raw = collections.Counter()
        for s, d in e:
            raw[s] += a[d]
        h = norm(raw)
    return sorted("%d|%d|%d" % (x, h.get(x, 0), a.get(x, 0)) for x in nodes)


def ref_distances(edges, sources):
    adj = collections.defaultdict(dict)
    for s, d, w in edges:
        if s != d:
            for a, b in ((s, d), (d, s)):
                adj[a][b] = min(w, adj[a].get(b, w))
    out = []
    for src in sources:
        dist = {src: 0}
        heap = [(0, src)]
        while heap:
            du, u = heapq.heappop(heap)
            if du > dist[u]:
                continue
            for v, w in adj[u].items():
                if du + w < dist.get(v, 1 << 62):
                    dist[v] = du + w
                    heapq.heappush(heap, (du + w, v))
        if src in adj:
            out += ["%d|%d|%d" % (src, x, dx) for x, dx in dist.items()]
    return sorted(out)


def _balls(adj, rounds):
    """Exact undirected ball sizes |B(v, t)| for t = 0..rounds."""
    out = {}
    for v in adj:
        seen, frontier, sizes = {v}, {v}, [1]
        for _ in range(rounds):
            frontier = {w for u in frontier for w in adj[u]} - seen
            seen |= frontier
            sizes.append(len(seen))
        out[v] = sizes
    return out


def _rank_top10(rows, key_col, val_col):
    parsed = [r.split("|") for r in rows]
    ranked = sorted(parsed, key=lambda p: (-float(p[val_col]), int(p[key_col])))
    return [p[key_col] for p in ranked[:10]]


def analytics_raw_bytes(out_dir, input_dir):
    """Raw bytes of the graph versions the loop published: two 8-byte
    ids per edge and one per vertex."""
    total = 0
    for r in read_tsv(os.path.join(out_dir, "analytics_results.tsv")):
        t = pq.read_table(os.path.join(input_dir, "graphs", "v%s.parquet" % r[1]), columns=["src", "dst"])
        verts = np.unique(np.concatenate([t["src"].to_numpy(), t["dst"].to_numpy()]))
        total += 16 * t.num_rows + 8 * len(verts)
    return total


def check_analytics(out_dir, input_dir):
    v = Verdict()
    with open(os.path.join(input_dir, "params.json")) as f:
        params = json.load(f)
    graphs = {}
    for r in read_tsv(os.path.join(out_dir, "analytics_results.tsv")):
        job, ver = r[0], int(r[1])
        got = sorted(r[2].split(",")) if len(r) > 2 and r[2] else []
        edges = graphs.setdefault(ver, _graph(input_dir, ver))
        p = params[ver]
        what = "%s on v%d" % (job, ver)
        want = None
        if job in ("connectedComponents", "minLabel"):
            want = ref_components(edges)
        elif job == "personalizedPageRank":
            want = ref_ppr(edges, p["ppr_seed"])
        elif job == "labelPropagation":
            want = ref_lpa(edges)
        elif job == "kCore":
            want = ref_kcore(edges, p["kcore_k"])
        elif job == "hits":
            want = ref_hits(edges)
        elif job == "multiSourceDistances":
            want = ref_distances(edges, p["msd_sources"])
        elif job == "pageRank":
            ref = ref_pagerank(edges)
            eng = {int(a): float(b) for a, b in (x.split("|") for x in got)}
            rs, es = sum(ref.values()), sum(eng.values()) or 1.0
            bad = [x for x in ref if abs(eng.get(x, -1.0) / es - ref[x] / rs) > 1e-9 + 1e-6 * ref[x] / rs]
            v.expect(what + " (normalized ranks within 1e-6)", bad[:5] + [len(eng)], [len(ref)])
            want_rows = ["%d|%r" % kv for kv in ref.items()]
            v.recalls.append(recall_at_10(_rank_top10(got, 0, 1), _rank_top10(want_rows, 0, 1)))
            continue
        elif job == "hyperANF":
            balls = _balls(_undirected(edges), 2)
            est = collections.defaultdict(dict)
            for x in got:
                i, t, b = x.split("|")
                est[int(i)][int(t)] = int(b) / 1e6
            errs = [abs(est[i].get(t, 0) - s) / s for i, ss in balls.items() for t, s in enumerate(ss)]
            monotone = all(all(e[t] <= e[t + 1] for t in range(2)) for e in est.values()
                           if len(e) == 3)
            v.expect(what + " (vertices, monotone balls, mean error < 0.35)",
                     (len(est), monotone, float(np.mean(errs)) < 0.35), (len(balls), True, True))
            v.notes.setdefault("hyperANF_mean_rel_error", []).append(float(np.mean(errs)))
            continue
        elif job == "maximalIndependentSet":
            adj = _undirected(edges)
            mis = {int(x) for x in got}
            independent = all(not (adj[x] & mis) for x in mis)
            maximal = all(x in mis or adj[x] & mis for x in adj)
            v.expect(what + " (independent, maximal)", (independent, maximal), (True, True))
            continue
        v.expect(what, got, want)
        if job in ("personalizedPageRank", "hits"):
            v.recalls.append(recall_at_10(_rank_top10(got, 0, 1), _rank_top10(want, 0, 1)))
        else:
            returned = set(got)
            v.recalls.append(recall_at_10([x for x in want[:10] if x in returned], want[:10]))
    return v


# ------------------------------------------------------------ curation

def shingles(text, n=3):
    ts = text.split(" ")
    return {" ".join(ts[i:i + n]) for i in range(max(len(ts) - (n - 1), 1))}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return round(len(sa & sb) / len(sa | sb), 4)


def check_curation(out_dir, input_dir, threshold=0.7):
    v = Verdict()
    t = pq.read_table(os.path.join(input_dir, "corpus.parquet")).to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    emb = dict(zip(t["doc_id"], t["emb"]))
    live = list(t["doc_id"])
    live_at = [list(live)]  # live ids after each ingest
    by_hash = {}
    for i in live:
        h = hashlib.md5(text[i].encode()).hexdigest()
        by_hash[h] = min(by_hash.get(h, i), i)
    with open(os.path.join(input_dir, "planted.json")) as f:
        planted = {p["id"]: p for p in json.load(f)}
    found_near = planted_near = 0
    for r in read_tsv(os.path.join(out_dir, "curation_ingest.tsv")):
        b = int(r[0])
        bt = pq.read_table(os.path.join(input_dir, "batches", "b%d.parquet" % b)).to_pydict()
        btext = dict(zip(bt["doc_id"], bt["text"]))
        bemb = dict(zip(bt["doc_id"], bt["emb"]))
        exact = dict(tuple(map(int, x.split(":"))) for x in r[1].split(",") if x)
        near = [(int(a), int(c), float(j)) for a, c, j in (x.split(":") for x in r[2].split(",") if x)]
        survivors = [int(x) for x in r[3].split(",") if x]
        batch_min = {}
        for i, s in btext.items():
            h = hashlib.md5(s.encode()).hexdigest()
            batch_min[h] = min(batch_min.get(h, i), i)
        want_exact = {}
        for i, s in btext.items():
            h = hashlib.md5(s.encode()).hexdigest()
            want_exact[i] = min(by_hash.get(h, i), batch_min[h])
        v.expect("batch %d exact keepers" % b, exact, want_exact)
        alltext = dict(text)
        alltext.update(btext)
        bad = [(a, c, j) for a, c, j in near
               if a not in alltext or c not in btext or abs(jaccard(alltext[a], alltext[c]) - j) > 1e-4
               or j < threshold]
        v.expect("batch %d near pairs verified" % b, bad, [])
        pairs = {(a, c) for a, c, _ in near}
        for i in btext:
            p = planted.get(i)
            if p and p["kind"] == "near":
                planted_near += 1
                found_near += (p["text_of"], i) in pairs or (i, p["text_of"]) in pairs
        dropped = {i for i, k in exact.items() if k != i} | {c for _, c, _ in near}
        v.expect("batch %d survivors" % b, survivors, sorted(set(btext) - dropped))
        for i in survivors:
            text[i], emb[i] = btext[i], bemb[i]
            h = hashlib.md5(btext[i].encode()).hexdigest()
            by_hash[h] = min(by_hash.get(h, i), i)
        live += survivors
        live_at.append(list(live))
    v.notes["planted_near_found"] = [found_near, planted_near]
    for r in read_tsv(os.path.join(out_dir, "curation_knn.tsv")):
        q, codec, k = int(r[0]), r[1], int(r[2])
        ids = np.array(live_at[k], dtype=np.int64)
        mat = np.array([emb[i] for i in ids], dtype=np.float32)
        qt = pq.read_table(os.path.join(input_dir, "queries", "q%d.parquet" % q)).to_pydict()
        res = collections.defaultdict(list)
        for x in filter(None, r[3].split(",")):
            a, b = x.split(":")
            res[int(a)].append(int(b))
        live_set = set(live_at[k])
        for qid, qv in zip(qt["q_id"], qt["q_vec"]):
            got = res.get(qid, [])
            ok = len(got) == 10 and len(set(got)) == 10 and all(g in live_set for g in got)
            v.expect("knn %s q%d query %d: 10 distinct live ids" % (codec, q, qid), ok, True)
            scores = mat @ np.asarray(qv, dtype=np.float32)
            top = ids[np.argsort(-scores, kind="stable")[:10]]
            v.recalls.append(len(set(got) & set(top.tolist())) / 10.0)
    return v
