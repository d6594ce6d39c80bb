"""Seeded input generator for the scipi-spark benchmark.

Everything is synthesized from ``--seed`` with ``random.Random`` and
``numpy.random.default_rng``; the same seed writes byte-identical files.
Nothing outside the output directory is read.

Publications are raw OAG and DBLP JSON lines (``scipi_batch``) and raw
OAG lines split into stream replay files (``corpus_pairs``), in the
shapes ``scipi_spark.schemas`` parses. Each record is built
from a clean publication and then dirtied in ways the 7-rule validation
cleans back (case, punctuation, padding), so the clean records are the
reference the engine's output is checked against. Poison rows fail the
validation deterministically:

- OAG: ``i % 7 == 0`` -> lang ``fr`` (rule 1); ``i % 11 == 0`` -> year
  ``20x`` (rule 6); ``i % 53 == 0`` -> a truncated, unparseable line.
- DBLP: ``i % 7 == 0`` -> title ``###`` (cleans to NULL, rule 3);
  ``i % 11 == 0`` -> year ``20x`` (rule 6).

Authors belong to communities (papers draw most of their authors from one
community), so label propagation has communities to find, and keywords
are community-skewed so the association layer has repeated usage.

Documents (``corpus_pairs``) are word sequences over a synthetic
vocabulary with planted near-copies (one word substituted per copy, so
every planted pair has word-3-shingle Jaccard >= 0.88). Embeddings are
64-dimensional vectors in tight clusters of 15 (in-cluster cosine ~0.97,
cross-cluster ~0), so every exact top-10 pair is far from any LSH recall
edge.
"""

from __future__ import annotations

import json
import os
import random
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: input sizes: small enough that a whole run takes 40-55 s on a calm
#: 4-core host, so the benchmark's 48 runs fit in its time budget; at
#: these sizes per-job costs take most of the time (see README.md)
BATCH_OAG = 4000
BATCH_DBLP = 2000
STREAM_OAG = 2000
STREAM_FILES = 2
N_DOCS = 300
N_CLUSTERS = 20
CLUSTER_SIZE = 15
DIM = 64

N_COMMUNITIES = 60
AUTHORS_PER_COMMUNITY = 25
RELEVANT_KEYWORDS = ["graph mining", "community detection", "label propagation",
                     "link prediction", "network science"]
RELEVANT_DOMAINS = ["social networks", "graph theory"]
ASSOC_KEYWORDS = ["graph mining", "deep learning", "databases", "stream processing",
                  "information retrieval", "network science"]
HYPER_THRESHOLD = 8


def _word(rng: random.Random, lo: int = 3, hi: int = 9) -> str:
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(lo, hi)))


def _dirty(rng: random.Random, s: str) -> str:
    """A value the validation's clean (strip non-alnum, trim, lowercase)
    maps back to ``s``."""
    r = rng.random()
    if r < 0.2:
        return "  " + s.upper() + " "
    if r < 0.35:
        return s.title() + "!"
    if r < 0.45:
        return "(" + s + ")"
    return s


class Corpus:
    """The clean publications of one seed, plus their raw serializations."""

    def __init__(self, seed: int, n_oag: int, n_dblp: int):
        rng = random.Random(seed)
        topics = sorted({_word(rng, 4, 10) + " " + _word(rng, 3, 8) for _ in range(220)})
        self.keywords = RELEVANT_KEYWORDS + ASSOC_KEYWORDS + topics
        self.keywords = list(dict.fromkeys(self.keywords))
        self.fos = RELEVANT_DOMAINS + sorted({_word(rng, 5, 12) for _ in range(40)})
        self.publishers = sorted({_word(rng, 5, 10) + " press" for _ in range(15)})
        self.venues = sorted({"conf " + _word(rng, 3, 7) for _ in range(60)})
        communities = []
        for c in range(N_COMMUNITIES):
            members = [f"{_word(rng, 3, 8)} {_word(rng, 4, 10)} c{c}x{j}"
                       for j in range(AUTHORS_PER_COMMUNITY)]
            kws = rng.sample(self.keywords, 12)
            communities.append((members, kws))
        # community popularity is skewed so the top-3 are well separated
        weights = [1.0 / (1 + c) ** 0.8 for c in range(N_COMMUNITIES)]
        self.oag_clean, self.oag_raw = [], []
        self.dblp_clean, self.dblp_raw = [], []
        for i in range(n_oag + n_dblp):
            members, ckws = rng.choices(communities, weights)[0]
            n_auth = rng.choice([1, 1, 2, 2, 3, 3, 3, 4, 4, 5, 6]) if rng.random() > 0.03 \
                else rng.randint(HYPER_THRESHOLD, 14)
            authors = rng.sample(members, min(n_auth, len(members)))
            if rng.random() < 0.1:
                authors.append(rng.choice(rng.choice(communities)[0]))
            authors = list(dict.fromkeys(authors))
            keywords = list(dict.fromkeys(
                rng.sample(ckws, rng.randint(1, 4)) + rng.sample(self.keywords, rng.randint(0, 2))))
            fos = list(dict.fromkeys(rng.sample(self.fos, rng.randint(1, 3))))
            year = str(rng.randint(1990, 2019))
            title = f"paper {seed} {i} {_word(rng)} {_word(rng)}"
            publisher = rng.choice(self.publishers)
            venue = rng.choice(self.venues)
            if i < n_oag:
                self._add_oag(rng, i, title, publisher, venue, year, keywords, authors, fos)
            else:
                self._add_dblp(rng, i - n_oag, title, publisher, venue, year, authors)

    def _add_oag(self, rng, i, title, publisher, venue, year, keywords, authors, fos):
        doi = f"10.{1000 + i % 97}/oag{i}"
        lang = "fr" if i % 7 == 0 else "en"
        raw_year = "20x" if i % 11 == 0 else year
        rec = {
            "doi": _dirty(rng, doi.replace(".", "").replace("/", " ")),
            "title": _dirty(rng, title),
            "publisher": _dirty(rng, publisher),
            "venue": _dirty(rng, venue),
            "lang": _dirty(rng, lang),
            "year": raw_year,
            "keywords": [_dirty(rng, k) for k in keywords],
            "authors": [{"name": _dirty(rng, a)} for a in authors],
            "fos": [_dirty(rng, f) for f in fos],
        }
        line = json.dumps(rec, sort_keys=True)
        if i % 53 == 0:
            line = line[: len(line) // 2]
        self.oag_raw.append(line)
        if lang == "en" and raw_year == year and i % 53 != 0:
            self.oag_clean.append({
                "doi": doi.replace(".", "").replace("/", " "), "title": title,
                "publisher": publisher, "venue": venue, "year": year,
                "keywords": keywords, "authors": authors, "fos": fos, "dataset": "oag",
            })

    def _add_dblp(self, rng, i, title, publisher, venue, year, authors):
        key = f"conf d{i}"
        raw_title = "###" if i % 7 == 0 else _dirty(rng, title)
        raw_year = "20x" if i % 11 == 0 else year
        rec = {"key": key, "title": raw_title, "year": raw_year, "conference": venue,
               "publisher": publisher, "authors": [_dirty(rng, a) for a in authors],
               "citations": []}
        self.dblp_raw.append(json.dumps(rec, sort_keys=True))
        if i % 7 != 0 and i % 11 != 0:
            self.dblp_clean.append({
                "doi": key, "title": title, "publisher": publisher, "venue": venue,
                "year": year, "keywords": ["computer science"], "authors": authors,
                "fos": ["computer science"], "dataset": "dblp",
            })


def _write_lines(path: str, lines: list[str]) -> int:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return os.path.getsize(path)


def documents(seed: int) -> list[tuple[int, str]]:
    """(doc_id, text) rows. About one base document in six gets 1-3
    near-copies, each differing from the base by one substituted word."""
    rng = random.Random(seed * 7919 + 1)
    vocab = sorted({_word(rng, 3, 11) for _ in range(8000)})
    docs: list[tuple[int, str]] = []
    while len(docs) < N_DOCS:
        base = [rng.choice(vocab) for _ in range(rng.randint(100, 160))]
        docs.append((len(docs), " ".join(base)))
        if rng.random() < 1 / 6:
            for _ in range(rng.randint(1, 3)):
                words = list(base)
                words[rng.randrange(len(words))] = rng.choice(vocab)
                docs.append((len(docs), " ".join(words)))
    return docs[:N_DOCS]


def embeddings(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(vec_ids, float32 matrix) in tight clusters; rows are shuffled so
    cluster members are spread over the id space."""
    rng = np.random.default_rng(seed * 104729 + 2)
    centers = rng.standard_normal((N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = rng.standard_normal((N_CLUSTERS * CLUSTER_SIZE, DIM)) * 0.03
    vecs = np.repeat(centers, CLUSTER_SIZE, axis=0) + noise
    vecs = vecs[rng.permutation(len(vecs))].astype(np.float32)
    return np.arange(len(vecs), dtype=np.int64), vecs


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the inputs of ``workload`` under ``out``; returns a record of
    seed, row counts and bytes, plus what the reference check needs."""
    os.makedirs(out, exist_ok=True)
    info: dict = {"seed": seed, "rows": {}, "bytes": {}}
    if workload == "scipi_batch":
        c = Corpus(seed, BATCH_OAG, BATCH_DBLP)
        info["bytes"]["oag"] = _write_lines(os.path.join(out, "oag.jsonl"), c.oag_raw)
        info["bytes"]["dblp"] = _write_lines(os.path.join(out, "dblp.jsonl"), c.dblp_raw)
        info["rows"] = {"oag": len(c.oag_raw), "dblp": len(c.dblp_raw)}
        info["clean"] = c.oag_clean + c.dblp_clean
    elif workload == "corpus_pairs":
        docs = documents(seed)
        pq.write_table(pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                                 "text": pa.array([t for _, t in docs], pa.string())}),
                       os.path.join(out, "documents.parquet"))
        ids, vecs = embeddings(seed)
        pq.write_table(pa.table({"vec_id": pa.array(ids),
                                 "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}),
                       os.path.join(out, "embeddings.parquet"))
        info["rows"] = {"documents": len(docs), "embeddings": len(ids)}
        info.update(docs=docs, ids=ids, vecs=vecs)
        info["bytes"] = {n: os.path.getsize(os.path.join(out, f"{n}.parquet"))
                         for n in ("documents", "embeddings")}
        # the stream replay: raw OAG lines split into files, one
        # micro-batch each
        c = Corpus(seed, STREAM_OAG, 0)
        os.makedirs(os.path.join(out, "stream"), exist_ok=True)
        per = -(-len(c.oag_raw) // STREAM_FILES)
        info["bytes"]["stream"] = sum(
            _write_lines(os.path.join(out, "stream", f"part-{f:04d}.jsonl"),
                         c.oag_raw[f * per:(f + 1) * per])
            for f in range(STREAM_FILES))
        info["rows"]["stream"] = len(c.oag_raw)
        info["clean_oag"] = c.oag_clean
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return info
