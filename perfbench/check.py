"""Output checks: canonical digests, plain-Python references computed
from the generator's records, and the DuckDB cross-check against the
registry's oracle SQL.

Canonical form (as ``tests/oracle.py::_canon``): columns sorted by name,
floats rounded to 6 places, rows sorted. A digest is the SHA-256 of that
form, so two result sets compare by digest.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

import numpy as np


def _norm(v):
    if isinstance(v, float):
        return round(v, 6) + 0.0  # folds -0.0 into 0.0
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def canon(columns: list[str], rows: list) -> list:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[_norm(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: json.dumps(r, default=str))
    return [sorted(columns), out]


def digest(columns: list[str], rows: list) -> str:
    blob = json.dumps(canon(columns, rows), default=str, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()[:20]


# ---------------------------------------------------------------------------
# plain-Python references for the publication pipelines, computed from the
# clean records the generator wrote
# ---------------------------------------------------------------------------

def reference_aggregations(clean: list[dict], hyper_threshold: int) -> dict:
    """(columns, rows) of each of the six aggregations, computed in plain
    Python from the clean records the generator wrote."""
    kw, fos = Counter(), Counter()
    by_year = defaultdict(lambda: [0, 0, 0])  # single, joint, n_authors
    units, hyper = Counter(), Counter()
    for p in clean:
        n = len(p["authors"])
        kw.update(set(p["keywords"]))
        fos.update(set(p["fos"]))
        y = by_year[p["year"]]
        y[0 if n == 1 else 1] += 1
        y[2] += n
        units[n] += 1
        if n >= hyper_threshold:
            hyper[p["year"]] += 1
    ref = {
        "keyword_count": (["keyword_name", "keyword_count"], list(kw.items())),
        "fos_count": (["field_study_name", "field_study_count"], list(fos.items())),
        "authorship_pattern": (["author_unit", "no_articles", "no_authors"],
                               [(u, c, u * c) for u, c in units.items()]),
        "hyper_authorship": (["hyper_authorship_year", "hyper_authorship_count"],
                             list(hyper.items())),
    }
    yr, aap = [], []
    for year, (single, joint, n_auth) in by_year.items():
        total = single + joint
        yr.append((year, single, joint, total, single / total, joint / total))
        aap.append((year, total, n_auth, n_auth / total))
    ref["yrwise_dist"] = (["year", "single", "joint", "total", "single_perc", "joint_perc"], yr)
    ref["avg_authors_per_paper"] = (
        ["year", "no_articles", "no_authors", "avg_author_paper"], aap)
    return ref


def reference_publications(clean: list[dict]) -> tuple[list[str], list]:
    """The validated publications, as the ingest layer must emit them
    (array order is not part of the contract, so arrays are sorted)."""
    cols = ["doi", "title", "publisher", "venue", "year", "keywords", "authors", "fos",
            "dataset"]
    return cols, [tuple(sorted(p[c]) if isinstance(p[c], list) else p[c] for c in cols)
                  for p in clean]


def reference_association(clean: list[dict], keywords: list[str],
                          usage_threshold: int) -> tuple[list[str], list]:
    """collaborator_table(project_top(usage_edges(...))): per author, the
    authors sharing a strongly used keyword with them."""
    usage = Counter()
    for p in clean:
        for kw in set(p["keywords"]) & set(keywords):
            usage.update((a, kw) for a in set(p["authors"]))
    by_kw = defaultdict(set)
    for (a, kw), n in usage.items():
        if n > usage_threshold:
            by_kw[kw].add(a)
    collab = defaultdict(set)
    for authors in by_kw.values():
        for a in authors:
            collab[a] |= authors - {a}
    return (["author", "collaborators", "n_collaborators"],
            [(a, " | ".join(sorted(c)), len(c)) for a, c in collab.items() if c])


# xxHash64 (Spark's ``xxhash64``: seed 42 over the UTF-8 bytes, signed)
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5, _M = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5, 2**64 - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxhash64(s: str, seed: int = 42) -> int:
    data, i = s.encode(), 0
    n = len(data)
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
                 for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M
        h = _rotl(h, 11) * _P1 & _M
    h ^= h >> 33
    h = h * _P2 & _M
    h ^= h >> 29
    h = h * _P3 & _M
    h ^= h >> 32
    return h - 2**64 if h >= 2**63 else h


def spark_round(x: float, places: int) -> float:
    """Spark's ``round`` on a double: half-up on its decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP))


def reference_community(clean: list[dict], keywords: list[str], domains: list[str],
                        iterations: int, delta: float) -> tuple[list[str], list]:
    """The decorated top-3 subgraph of the community pipeline: relevance
    filter, vertex and edge extraction, label propagation with Flink's
    CommunityDetection semantics on the undirected multigraph (message
    sums rounded to 9 places), top-3 communities, induced subgraph."""
    pubs = [p for p in clean
            if set(p["keywords"]) & set(keywords) or set(p["fos"]) & set(domains)]
    vtype: dict = {}
    edges = []
    for p in pubs:
        a, t = p["authors"], p["title"]
        for vid, kind in ([(t, "PAPER"), (p["publisher"], "PUBLISHER"),
                           (p["venue"], "VENUE")] + [(x, "AUTHOR") for x in a]):
            if vid:
                vtype[vid] = min(vtype.get(vid, kind), kind)
        edges += [(t, p[k]) for k in ("publisher", "venue") if p[k]]
        edges += [(x, t) for x in (a if len(a) == 1 else a[:-1])]
        edges += list(combinations(a, 2))
    h = {vid: xxhash64(vid) for vid in vtype}
    # undirected, parallel edges folded into (w_sum, w_max), mirrored
    w = Counter()
    for s, d in edges:
        hs, hd = h[s], h[d]
        w[(min(hs, hd), max(hs, hd))] += 1
    out_edges = defaultdict(list)  # src -> [(dst, w_sum, w_max)]
    for (x, y), n in w.items():
        if x == y:
            out_edges[x].append((x, 2.0 * n, 1.0))
        else:
            out_edges[x].append((y, float(n), 1.0))
            out_edges[y].append((x, float(n), 1.0))
    state = {hv: (hv, 1.0) for hv in h.values()}  # id -> (label, score)
    for step in range(1, iterations + 1):
        sums: dict = defaultdict(float)
        maxes: dict = {}
        for src, (label, score) in state.items():
            for dst, w_sum, w_max in out_edges.get(src, ()):
                key = (dst, label)
                sums[key] += score * w_sum
                maxes[key] = max(maxes.get(key, float("-inf")), score * w_max)
        best: dict = {}
        for (dst, label), total in sums.items():
            cand = (spark_round(total, 9), -label)
            if dst not in best or cand > best[dst][0]:
                best[dst] = (cand, maxes[(dst, label)])
        new = dict(state)
        for vid, ((_, neg_label), max_single) in best.items():
            label = -neg_label
            old_label = state[vid][0]
            new[vid] = (label, max_single - delta / step if label != old_label else max_single)
        state = new
    labels = {vid: state[h[vid]][0] for vid in vtype}
    sizes = Counter(labels.values())
    top = {lab for lab, _ in sorted(((lab, c) for lab, c in sizes.items() if c >= 2),
                                    key=lambda lc: (-lc[1], lc[0]))[:3]}
    kept = {vid for vid, lab in labels.items() if lab in top}
    rows = {(s, vtype[s], labels[s], d, vtype[d], labels[d])
            for s, d in edges if s in kept and d in kept}
    return ["name_a", "type_a", "label_a", "name_b", "type_b", "label_b"], list(rows)


def top_counts(counts: tuple[list[str], list], n: int) -> tuple[list[str], list]:
    cols, rows = counts
    return cols, sorted(rows, key=lambda r: (-r[1], r[0]))[:n]


# ---------------------------------------------------------------------------
# plain-Python references for the pair operators (documents are lowercase
# words over single spaces, so whitespace tokenizing needs no regex)
# ---------------------------------------------------------------------------

def jaccard_pairs(docs: list[tuple[int, str]], threshold: float, k: int = 3) -> list:
    """(doc_a, doc_b, jaccard) with doc_a < doc_b and exact word-k-shingle
    Jaccard (rounded to 6 places) >= threshold."""
    sets = {}
    for d, text in docs:
        t = text.split()
        sets[d] = {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}
    postings = defaultdict(list)
    for d, sh in sets.items():
        for g in sh:
            postings[g].append(d)
    inter = Counter()
    for ds in postings.values():
        inter.update(combinations(sorted(ds), 2))
    out = []
    for (a, b), n in inter.items():
        j = spark_round(n / (len(sets[a]) + len(sets[b]) - n), 6)
        if j >= threshold:
            out.append((a, b, j))
    return out


def components(pairs: list) -> list:
    """(doc, cluster) for every doc in a pair; cluster = smallest doc id
    of its connected component."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return [(d, find(d)) for d in parent]


def knn(ids: np.ndarray, vecs: np.ndarray, queries: list, k: int) -> list:
    """(query_id, vec_id, cosine) exact top-k by cosine, self excluded,
    ties by smaller vec_id."""
    v = vecs.astype(np.float64)
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = []
    for q in queries:
        cos = np.round(unit @ unit[q], 6)
        cand = [(-c, int(i)) for i, c in zip(ids, cos) if i != q]
        out.extend((q, i, -c) for c, i in sorted(cand)[:k])
    return out


# ---------------------------------------------------------------------------
# DuckDB cross-check of the pair operators against the registry's oracle SQL
# ---------------------------------------------------------------------------

def duckdb_rows(names: list[str], inputs: str) -> dict:
    """Run ``__spark_entry__.oracle_sql()[name]`` for each name over the
    generated ``documents``/``embeddings`` tables."""
    import duckdb

    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(inputs, t + '.parquet')}')")
        out = {}
        for name in names:
            cur = con.execute(sql[name])
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()
