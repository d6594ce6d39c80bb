"""The two workloads. Each iteration reads its inputs fresh from the
generated files and calls the layers' public functions in turn; the
tracer wraps every layer in a span. Results are collected to the driver
(that is when they are materialized) and returned as
``{name: (columns, rows)}`` for the output check.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

import check
import gen
from measure import MB

from scipi_spark import ingest
from scipi_spark.operators import analytics, association, community, dedup, graph, similarity
from scipi_spark.streaming import pipelines

AGGREGATIONS = ["keyword_count", "fos_count", "yrwise_dist", "authorship_pattern",
                "avg_authors_per_paper", "hyper_authorship"]
TOPICS_MIN_COUNT = 200
TOP_N = 20
USAGE_THRESHOLD = 1
LPA_ITERATIONS = 5
LPA_DELTA = 0.5
KNN_STRIDE = 40  # kNN queries: ids 0-2 (the oracle's) and every 40th vector


def _collect(df):
    return list(df.columns), [tuple(r) for r in df.collect()]


def _sorted_arrays(result):
    if result is None:
        return None
    cols, rows = result
    return cols, [tuple(sorted(v) if isinstance(v, list) else v for v in r) for r in rows]


def _du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB


class Workload:
    name = ""

    def __init__(self, spark, inputs: str, info: dict):
        self.spark = spark
        self.inputs = inputs
        self.info = info

    def iteration(self, tr, work: str, out: dict) -> None:
        """Run once, filling ``out`` with each result as it is
        materialized (so a failure keeps what came before it)."""
        raise NotImplementedError

    def reference_checks(self, first: dict) -> dict:
        """{label: (got, want)}: the first iteration's outputs beside the
        same results computed without Spark, each as (columns, rows)."""
        raise NotImplementedError


class ScipiBatch(Workload):
    name = "scipi_batch"

    def iteration(self, tr, work, out):
        spark = self.spark
        with tr.span("ingest") as sp:
            oag = ingest.ingest_oag(spark.read.text(os.path.join(self.inputs, "oag.jsonl")))
            dblp = ingest.ingest_dblp(spark.read.text(os.path.join(self.inputs, "dblp.jsonl")))
            # the validated table is read by every later layer, as the
            # paper's batch jobs read the stored publications: materialize
            # it once in both traced and untraced runs
            pubs = ingest.union_sources(oag, dblp).localCheckpoint(eager=True)
            n_pubs = pubs.count()
            raw = self.info["rows"]["oag"] + self.info["rows"]["dblp"]
            sp.update(rows_out=n_pubs, reject_ratio=1.0 - n_pubs / raw)
            out["publications"] = _collect(pubs.select(
                "doi", "title", "publisher", "venue", "year",
                F.array_sort("keywords").alias("keywords"),
                F.array_sort("authors").alias("authors"),
                F.array_sort("fos").alias("fos"), "dataset"))
        with tr.span("analytics") as sp:
            # the keyword counts feed T1 and the top-N as well: computed
            # once and materialized, in traced and untraced runs alike
            counts = analytics.keyword_count(pubs).localCheckpoint(eager=True)
            out["keyword_count"] = _collect(counts)
            for name in AGGREGATIONS[1:]:
                fn = getattr(analytics, name)
                df = fn(pubs, threshold=gen.HYPER_THRESHOLD) if name == "hyper_authorship" \
                    else fn(pubs)
                out[name] = _collect(df)
            out["topics_filter"] = _collect(
                analytics.topics_filter(counts, "keyword_count", TOPICS_MIN_COUNT))
            out["top_n"] = _collect(analytics.top_n(counts, "keyword_count", TOP_N))
            sp.update(rows_out=sum(len(out[k][1]) for k in AGGREGATIONS))
        with tr.span("community") as sp:
            relevant = community.relevance_filter(
                pubs, keywords=gen.RELEVANT_KEYWORDS, domains=gen.RELEVANT_DOMAINS)
            vertices = tr.boundary(community.extract_vertices(relevant))
            edges = tr.boundary(community.extract_edges(relevant))
            labels = tr.boundary(community.community_detection(
                vertices, edges, iterations=LPA_ITERATIONS, delta=LPA_DELTA,
                portable_rounding=True))
            sizes = community.community_sizes(labels, min_size=2)
            top = community.top_communities(sizes, n=3)
            kept_v, kept_e = community.subgraph_by_labels(vertices, edges, labels, top)
            out["community"] = _collect(community.decorate_edges(kept_v, kept_e))
            sp.update(rows_out=len(out["community"][1]))
        with tr.span("association") as sp:
            usage = tr.boundary(association.usage_edges(pubs, gen.ASSOC_KEYWORDS,
                                                        usage_threshold=USAGE_THRESHOLD))
            projected = tr.boundary(association.project_top(usage))
            out["association"] = _collect(association.collaborator_table(projected))
            sp.update(rows_out=len(out["association"][1]))

    def reference_checks(self, first):
        clean = self.info["clean"]
        want = check.reference_aggregations(clean, gen.HYPER_THRESHOLD)
        want["publications"] = check.reference_publications(clean)
        counts = want["keyword_count"]
        want["topics_filter"] = (counts[0], [r for r in counts[1] if r[1] >= TOPICS_MIN_COUNT])
        want["top_n"] = check.top_counts(counts, TOP_N)
        want["association"] = check.reference_association(clean, gen.ASSOC_KEYWORDS,
                                                          USAGE_THRESHOLD)
        want["community"] = check.reference_community(
            clean, gen.RELEVANT_KEYWORDS, gen.RELEVANT_DOMAINS, LPA_ITERATIONS, LPA_DELTA)
        return {name: (_sorted_arrays(first.get(name)), w) for name, w in want.items()}


class CorpusPairs(Workload):
    name = "corpus_pairs"

    def iteration(self, tr, work, out):
        spark = self.spark
        docs = spark.read.parquet(os.path.join(self.inputs, "documents.parquet"))
        emb = spark.read.parquet(os.path.join(self.inputs, "embeddings.parquet"))
        with tr.span("dedup") as sp:
            pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.3)
            pairs = pairs.localCheckpoint(eager=True)  # also read by the graph layer
            out["ngram_jaccard_pairs"] = _collect(pairs)
            n = len(out["ngram_jaccard_pairs"][1])
            sp.update(rows_out=n, pairs=n)
        with tr.span("graph") as sp:
            out["dedup_clusters"] = _collect(graph.dedup_clusters(pairs))
            sp.update(rows_out=len(out["dedup_clusters"][1]))
        with tr.span("similarity") as sp:
            out["knn_lsh"] = _collect(similarity.knn_lsh(emb, self.query_ids(), k=10, bits=6,
                                                         tables=16))
            n = len(out["knn_lsh"][1])
            sp.update(rows_out=n, pairs=n)
        # the store layer: build the signature store over 80% of the
        # corpus, then probe it with the remaining 20% as the day's increment
        increment = F.col("doc_id") % 5 == 0
        sig_path, sig_table = os.path.join(work, "sig_store"), f"pb_sig_{tr.iteration}"
        with tr.span("store.write") as sp:
            dedup.write_signature_store(docs.filter(~increment), sig_path, table=sig_table,
                                        k=3, num_perm=64, bands=16)
            sp.update(write_mb=_du_mb(sig_path))
        with tr.span("store.probe") as sp:
            out["store_increment_pairs"] = _collect(dedup.minhash_lsh_increment_from_store(
                spark, sig_path, docs.filter(increment), table=sig_table, threshold=0.3))
            sp.update(rows_out=len(out["store_increment_pairs"][1]))
        spark.sql(f"DROP TABLE IF EXISTS {sig_table}")
        # the write-heavy half: the paper's streaming path, with a sink
        # rewritten on every micro-batch beside the store written above
        with tr.span("streaming") as sp:
            sp.update(self._stream(work))
        out["stream_keyword_count"] = _collect(
            spark.read.parquet(os.path.join(work, "sink", "keyword_count")))

    def _stream(self, work: str) -> dict:
        """The paper's streaming path in miniature: raw OAG lines replayed
        one file per micro-batch through ``read_publications_stream`` into
        the keyword-count query (P7) with its keyed parquet upsert sink.
        Each micro-batch starts when the previous one has committed."""
        pubs = pipelines.read_publications_stream(
            self.spark, os.path.join(self.inputs, "stream"), "oag", max_files_per_trigger=1)
        q = pipelines.run_aggregation_upsert(
            self.spark, pubs, "keyword_count", os.path.join(work, "sink", "keyword_count"),
            os.path.join(work, "ckpt", "keyword_count"))
        try:
            q.processAllAvailable()
        finally:
            batches = [p for p in q.recentProgress if p.numInputRows > 0]
            q.stop()
        state = [o for p in batches[-1:] for o in p.stateOperators]

        def p50(key):
            return statistics.median([p.durationMs.get(key, 0) for p in batches] or [0])

        return {"batches": len(batches), "rows_out": sum(p.numInputRows for p in batches),
                "trigger_ms_p50": p50("triggerExecution"), "add_batch_ms_p50": p50("addBatch"),
                "wal_commit_ms_p50": p50("walCommit"), "planning_ms_p50": p50("queryPlanning"),
                "state_rows": sum(o.numRowsTotal for o in state),
                "state_mem_mb": sum(o.memoryUsedBytes for o in state) / MB,
                "sink_mb": _du_mb(os.path.join(work, "sink", "keyword_count"))}

    def reference_checks(self, first):
        """Every result against plain Python or numpy; the n-gram pairs
        and kNN on the oracle's query ids also against the registry's
        DuckDB oracle SQL run on the generated tables. The
        ``dedup_minhash_lsh`` oracle is the exact word-3-shingle Jaccard
        join at 0.3, the n-gram operator's own computation."""
        import __spark_entry__ as entry

        info = self.info
        duck = check.duckdb_rows(["dedup_minhash_lsh", "knn_cosine_lsh"], self.inputs)
        knn = first.get("knn_lsh")
        oracle_knn = None
        if knn is not None:
            qi = knn[0].index("query_id")
            oracle_knn = (knn[0], [r for r in knn[1] if r[qi] in entry.KNN_QUERY_IDS])
        pair_cols = ["doc_a", "doc_b", "jaccard"]
        pairs = check.jaccard_pairs(info["docs"], 0.3)
        ids, vecs = info["ids"], info["vecs"]
        return {
            "ngram_jaccard_pairs": (first.get("ngram_jaccard_pairs"), (pair_cols, pairs)),
            "ngram_jaccard_pairs_oracle": (first.get("ngram_jaccard_pairs"),
                                           duck["dedup_minhash_lsh"]),
            "knn_lsh_oracle": (oracle_knn, duck["knn_cosine_lsh"]),
            "dedup_clusters": (first.get("dedup_clusters"),
                               (["doc", "cluster"], check.components(pairs))),
            "knn_lsh": (knn, (["query_id", "vec_id", "cosine"],
                              check.knn(ids, vecs, self.query_ids(), 10))),
            "store_increment_pairs": (first.get("store_increment_pairs"), (
                pair_cols, [p for p in pairs if p[0] % 5 == 0 or p[1] % 5 == 0])),
            "stream_keyword_count": (first.get("stream_keyword_count"), check.reference_aggregations(
                info["clean_oag"], gen.HYPER_THRESHOLD)["keyword_count"]),
        }

    def query_ids(self) -> list[int]:
        return [0, 1, 2] + list(range(KNN_STRIDE, self.info["rows"]["embeddings"], KNN_STRIDE))


WORKLOADS = {w.name: w for w in (ScipiBatch, CorpusPairs)}

#: every layer, in pipeline order; ``session`` is read from start-up and
#: the cold iteration rather than from a span
LAYERS = ("session", "ingest", "analytics", "community", "association", "dedup", "graph",
          "similarity", "store.write", "store.probe", "streaming")
