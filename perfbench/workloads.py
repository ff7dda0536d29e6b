"""The benchmark workloads: how ERKG users touch the system.

Each workload sets up (generate the inputs, load them, warm up), then
runs one or more closed-loop clients, each with a fixed, seeded sequence
of operations whose outputs are checked against an independent Python
answer (see ``Workload``).

- ``graph_serve``: an analyst querying the entity graph. One closed-loop
  client issues kHop (k=2 and k=1) and bfs queries with Zipf-skewed,
  hub-heavy seeds over a cached ``PropertyGraph``.
- ``link_docs``: news arriving in micro-batches. Set-up builds the KB with
  ``run_senzing_pipeline`` (checked against the pure-Python oracle) and
  trains IVF centroids over the KB description embeddings, then runs one
  warm-up batch; each batch runs MinHash dedup, ``run_entity_linking`` and
  an IVF top-5 KB lookup.
"""

from __future__ import annotations

import itertools
import math
import os
import random
import sys

import gen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input sizes. Small on purpose: both workloads are dominated by per-query
# and per-batch fixed cost, not data volume.
SERVE_ENTITIES = 10_000
SERVE_HUBS, SERVE_HUB_FANOUT = 4, 200
# One closed-loop client. With two, each query's latency depends on
# whether the other client's query overlapped it, and the run median
# jumped between those cases: on a 4-vCPU VM its spread across seeds was
# 0.14 against 0.06 with one client.
SERVE_CLIENTS = 1
LINK_ENTITIES = 2_000
LINK_HUBS, LINK_HUB_FANOUT = 2, 40
LINK_KB_REACH = 350
# Equal-sized batches: a batch costs about the same at 25 and 400 docs
# (per-batch fixed cost dominates), and only one or two fit in a run, so
# mixed sizes would make docs/s depend on how many batches happened to fit.
LINK_BATCH_SIZE = 100
# The warm-up batch is smaller: it compiles the same plans, and a cold
# batch costs ~5 s less at 25 docs than at 100 on a 4-vCPU VM.
LINK_WARM_DOCS = 25
IVF_CELLS, IVF_NPROBE, IVF_K = 16, 2, 5
EMBED_DIM = 64


class Workload:
    """One set-up repetition is ``prepare(rep)`` (generate the inputs and
    load them) followed by ``warm()`` (the warm-up operations, checked).
    ``ops(c)`` yields client ``c``'s operations afresh, the same for a
    seed on every call; ``run_op`` executes one and checks its output
    against an independent Python answer."""

    name = ""
    clients = 1
    setup_reps = 1

    def __init__(self, spark, workdir: str, seed: int):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.cached: list = []
        self.sizes: dict = {}

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def setup_checks(self) -> list[bool]:
        return []


class GraphServe(Workload):
    name = "graph_serve"
    clients = SERVE_CLIENTS
    setup_reps = 2

    def prepare(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from erkg_tutorials_spark.graph import frames
        from erkg_tutorials_spark.sources import senzing

        self.release()
        self.report = gen.make_report(random.Random(self.seed), SERVE_ENTITIES, SERVE_HUBS, SERVE_HUB_FANOUT)
        path = os.path.join(self.workdir, f"serve-{rep}", "senzing_report.jsonl")
        gen.write_report(path, self.report)
        raw = senzing.read_senzing_report(self.spark, path)
        vertices, edges, _ = senzing.graph_tables(raw)
        v = vertices.select(F.col("entity_uid").alias("id"), "name").cache()
        e = edges.select("src", "dst").cache()
        self.cached += [v, e]
        self.sizes = {"entities": v.count(), "edges": e.count(),
                      "report_mb": round(os.path.getsize(path) / 1e6, 1)}
        self.graph = frames.PropertyGraph(v, e)

    def warm(self) -> list[bool]:
        """One query of each kind, outside the clients' sequences."""
        block = itertools.islice(gen.serve_queries(random.Random(f"{self.seed}/warm"), self.report), 10)
        return [self.run_op(op)[0] for op in {q["op"]: q for q in block}.values()]

    def ops(self, c: int):
        return gen.serve_queries(random.Random(f"{self.seed}/{c}"), self.report)

    def run_op(self, q: dict) -> tuple[bool, int]:
        if q["op"] == "bfs":
            res = self.graph.bfs(f"id = {q['src']}", f"id = {q['dst']}", maxPathLength=4)
            rows = res.collect()
            got = (len(res.columns) - 1) // 2 if rows else None
            return got == gen.shortest_path_len(self.report.adjacency, q["src"], q["dst"], 4), 1
        seeds = self.spark.createDataFrame([(s,) for s in q["seeds"]], "id long")
        got = {r[0] for r in self.graph.kHop(seeds, k=q["k"]).collect()}
        return got == gen.k_hop_reach(self.report.adjacency, q["seeds"], q["k"]), 1


class LinkDocs(Workload):
    name = "link_docs"

    def prepare(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from erkg_tutorials_spark.linking import embed
        from erkg_tutorials_spark.pipelines import senzing_pipeline
        from erkg_tutorials_spark.schemas import ALIAS_SCHEMA, ENTITY_DATA_SCHEMA
        from erkg_tutorials_spark.similarity import kmeans
        from erkg_tutorials_spark.sources import tabular

        self.release()
        rng = random.Random(self.seed)
        report = gen.make_report(rng, LINK_ENTITIES, LINK_HUBS, LINK_HUB_FANOUT)
        d = os.path.join(self.workdir, f"link-{rep}")
        self.paths = gen.write_kb_inputs(d, report, rng, LINK_KB_REACH)
        self.kb_paths = (os.path.join(d, "kb", "entities"), os.path.join(d, "kb", "aliases"))
        senzing_pipeline.run_senzing_pipeline(
            self.spark, self.paths["report"], self.paths["suspicious"], self.paths["countries"],
            *self.kb_paths)
        # the linker reads the KB artifacts back, as the reference does
        ents = tabular.read_jsonl(self.spark, self.kb_paths[0], ENTITY_DATA_SCHEMA).cache()
        als = tabular.read_jsonl(self.spark, self.kb_paths[1], ALIAS_SCHEMA).cache()
        self.kb_names = sorted(r.name for r in ents.select("name").collect())
        vecs = embed.embed_column(ents, "description", "embedding", EMBED_DIM).select(
            F.col("entity_id").alias("vec_id"), "embedding").cache()
        cent = kmeans.kmeans_cosine(vecs, k=IVF_CELLS, iters=2).select(
            F.col("cent_id").alias("vec_id"), F.col("cvec").alias("embedding")).cache()
        self.cached += [ents, als, vecs, cent]
        self.entities, self.aliases, self.kb_vecs, self.centroids = ents, als, vecs, cent
        # the same vectors in Python, for the IVF reference answer
        self.kb_vec_list = {r.vec_id: list(r.embedding) for r in vecs.collect()}
        self.cent_list = {r.vec_id: list(r.embedding) for r in cent.collect()}
        self.sizes = {"report_entities": LINK_ENTITIES, "kb_entities": len(self.kb_names),
                      "kb_aliases": als.count(), "ivf_cells": len(self.cent_list),
                      "batch_docs": LINK_BATCH_SIZE}

    def warm(self) -> list[bool]:
        """One batch from its own seed, so its plans are compiled before
        the clients start."""
        return [self.run_op(next(gen.news_batches(random.Random(f"{self.seed}/warm"), self.kb_names,
                                                  LINK_WARM_DOCS)))[0]]

    def ops(self, c: int):
        return gen.news_batches(random.Random(f"{self.seed}/news"), self.kb_names, LINK_BATCH_SIZE)

    def run_op(self, batch: list[dict]) -> tuple[bool, int]:
        from pyspark.sql import functions as F

        from erkg_tutorials_spark.dedup import clusters, minhash
        from erkg_tutorials_spark.linking import embed
        from erkg_tutorials_spark.pipelines import entity_linking
        from erkg_tutorials_spark.similarity import ivf

        docs = self.spark.createDataFrame([(b["doc_id"], b["text"]) for b in batch],
                                          "doc_id long, text string")
        pairs = minhash.minhash_lsh_dedup(docs)
        verdict = {r.doc_id: (r.cluster, r.is_canonical) for r in
                   clusters.dedup_assign(docs, pairs).select("doc_id", "cluster", "is_canonical").collect()}
        ok = _dedup_ok(batch, verdict)
        # the canonical docs enter the linker as a fresh micro-batch frame
        canon = [b for b in batch if verdict[b["doc_id"]][1]]
        canon_df = self.spark.createDataFrame([(b["doc_id"], b["text"]) for b in canon],
                                              "doc_id long, text string")
        out = entity_linking.run_entity_linking(canon_df, self.entities, self.aliases)
        mentions = out["mentions"].select("doc_id", "text", "kb_id").collect()
        review = out["review"].select("doc_id", "phrase", "text", "kb_id").collect()
        qv = embed.embed_column(canon_df, "text", "embedding", EMBED_DIM).select(
            F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("vec_id"), "embedding")
        knn = ivf.cosine_knn_ivf(self.kb_vecs, qv, self.centroids, nprobe=IVF_NPROBE, k=IVF_K).collect()
        ok = (ok and _mentions_ok(canon, mentions) and _review_ok(review, mentions)
              and _knn_ok(knn, self._ivf_answer(canon)))
        return ok, len(batch)

    def _ivf_answer(self, canon: list[dict]) -> dict[str, list[tuple[str, float]]]:
        from erkg_tutorials_spark.linking.embed import hashing_encode

        mat = hashing_encode([b["text"] for b in canon], EMBED_DIM)
        queries = {f"doc-{b['doc_id']}": row.tolist() for b, row in zip(canon, mat)}
        return gen.ivf_top_k(self.kb_vec_list, self.cent_list, queries, IVF_NPROBE, IVF_K)

    def setup_checks(self) -> list[bool]:
        """The KB artifacts equal the pure-Python oracle's KB."""
        sys.path.insert(0, os.path.join(REPO, "tests"))
        from reference_oracle import oracle_pipeline

        want = oracle_pipeline(self.paths["report"], self.paths["suspicious"], self.paths["countries"])
        ents = {r.entity_id: r.asDict() for r in self.entities.collect()}
        if ents != want["entities"]:
            return [False]
        got = {r.alias: r for r in self.aliases.collect()}
        if got.keys() != want["aliases"].keys():
            return [False]
        for alias, w in want["aliases"].items():
            g = got[alias]
            if list(g.entities) != w["entities"] or not all(
                    math.isclose(a, b, rel_tol=1e-9) for a, b in zip(g.probabilities, w["probabilities"])):
                return [False]
        return [True]


def _dedup_ok(batch: list[dict], verdict: dict) -> bool:
    """Originals stay canonical; each verbatim copy joins its original's
    cluster and is dropped."""
    for b in batch:
        cluster, canonical = verdict[b["doc_id"]]
        if b["copy_of"] is not None:
            if canonical or cluster != verdict[b["copy_of"]][0]:
                return False
        elif b["exact"] and not canonical:
            return False
    return True


def _mentions_ok(canon: list[dict], mentions: list) -> bool:
    """Every planted exact KB name in a canonical doc is found."""
    found: dict[int, set[str]] = {}
    for m in mentions:
        found.setdefault(m.doc_id, set()).add(m.text)
    return all(set(b["exact"]) <= found.get(b["doc_id"], set()) for b in canon)


def _review_ok(review: list, mentions: list) -> bool:
    """Every review row is an unlinked mention of its doc that holds the
    row's phrase as a token."""
    unlinked = {(m.doc_id, m.text) for m in mentions if m.kb_id == ""}
    return all(r.kb_id == "" and (r.doc_id, r.text) in unlinked and r.phrase in r.text.lower().split(" ")
               for r in review)


def _knn_ok(knn: list, want: dict[str, list[tuple[str, float]]]) -> bool:
    """The IVF top-k of every query equals the Python answer: same
    neighbours in the same order, same rounded cosines."""
    got: dict[str, list] = {}
    for r in knn:
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cosine))
    for qid, w in want.items():
        g = [(n, c) for _, n, c in sorted(got.pop(qid, []))]
        if [n for n, _ in g] != [n for n, _ in w] or any(
                not math.isclose(a, b, rel_tol=0, abs_tol=1e-9) for (_, a), (_, b) in zip(g, w)):
            return False
    return not got


WORKLOADS = {w.name: w for w in (GraphServe, LinkDocs)}
