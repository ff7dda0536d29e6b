"""Seeded input generators for the ERKG benchmark.

Everything here is pure Python and deterministic for a given seed, so a
claim made on one seed can be re-checked on another. The program under
test only ever sees the files written by :func:`write_kb_inputs` and the
document batches yielded by :func:`news_batches`.

- Senzing-shaped entity report: the field mix of the test fixture
  (bearer names, empty names, typed features, blank match keys, all four
  match levels) on a ring + random-chord graph, plus a few planted
  high-degree "intermediary" hubs as in the offshore-leaks graph.
- Suspicious-name list: graph names that hit, plus misses.
- Country table.
- News corpus: filler text with planted exact and perturbed KB names,
  unlinkable names, verbatim syndicated copies and lightly edited copies.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import random
from collections import deque
from dataclasses import dataclass

COUNTRY_CODES = [
    ("USA", "United States"), ("DEU", "Germany"), ("FRA", "France"),
    ("VGB", "British Virgin Islands"), ("PAN", "Panama"), ("CHE", "Switzerland"),
    ("CYP", "Cyprus"), ("MLT", "Malta"), ("SGP", "Singapore"), ("HKG", "Hong Kong"),
]
BEARER_NAMES = ["THE BEARER", "bearer shares", "nan", "???", "EL PORTADOR", "Bearer 123"]
FIRST = ["Maria", "John", "Wei", "Fatima", "Igor", "Ana", "Luis", "Kira", "Omar", "Lena"]
LAST = ["Silva", "Smith", "Chen", "Khan", "Petrov", "Costa", "Diaz", "Novak", "Haddad", "Berg"]
ORG_A = ["Global", "Pacific", "Summit", "Apex", "Delta", "Orion", "Vertex", "Nova", "Atlas", "Meridian"]
ORG_B = ["Holdings", "Trading", "Partners", "Ventures", "Capital", "Group", "Trust", "Services"]
LEVELS = ["POSSIBLY_SAME", "POSSIBLY_RELATED", "RESOLVED", "DISCLOSED"]

# Filler vocabulary for news text. No word here is a token of any
# generated name or bearer alias, so a planted name can never be
# extended into a longer dictionary match by its neighbours.
FILLER = (
    "offshore finance company filing report shows money flows through "
    "accounts registered in several jurisdictions while regulators said "
    "investigators found documents linking shell firms to officials who "
    "denied wrongdoing after journalists obtained leaked records from "
    "lawyers and agents that managed trusts for wealthy clients across "
    "tax havens where secrecy laws protect owners from public scrutiny "
    "according to sources familiar with transactions worth millions "
    "routed via intermediaries banks auditors noted unusual transfers "
    "during audit prosecutors opened inquiry into alleged laundering "
    "scheme involving property purchases luxury yachts and art sales"
).split()
UNLINKABLE = [
    "Zephyr Quorum Ltd", "Halvard Ostrem", "Brightwater Lumen Corp",
    "Ingrid Solberg", "Corvid Analytics", "Tobias Wrenfield",
    "Saltmarsh Equities", "Yusuf Demiroglu",
]


@dataclass
class Report:
    rows: list[dict]
    adjacency: dict[int, list[int]]
    hubs: list[int]
    graph_names: dict[int, str]


def make_report(rng: random.Random, n_entities: int, n_hubs: int, hub_fanout: int) -> Report:
    """Senzing-report rows with the test fixture's field mix, wired as a
    ring + 0-3 random chords per entity, plus ``n_hubs`` intermediaries
    that each relate to ``hub_fanout`` entities and are related from
    about as many."""
    rows = []
    graph_names: dict[int, str] = {}
    for uid in range(1, n_entities + 1):
        is_person = rng.random() < 0.4
        if rng.random() < 0.03:
            name = rng.choice(BEARER_NAMES)
        elif is_person:
            name = f"{rng.choice(FIRST)} {rng.choice(LAST)} {uid}"
        else:
            name = f"{rng.choice(ORG_A)} {rng.choice(ORG_B)} {uid} S.A."
        entity_name = "" if rng.random() < 0.05 else name

        features: dict[str, list[dict]] = {"NAME": [{"FEAT_DESC": name}]}
        if rng.random() < 0.7:
            features["RECORD_TYPE"] = [{"FEAT_DESC": "PERSON" if is_person else "ORGANIZATION"}]
        if is_person:
            if rng.random() < 0.6:
                features["DOB"] = [{"FEAT_DESC": f"19{rng.randint(40, 99)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}"}]
            if rng.random() < 0.3:
                features["GROUP_ASSOCIATION"] = [{"FEAT_DESC": f"{rng.choice(ORG_A)} {rng.choice(ORG_B)}"}]
        else:
            if rng.random() < 0.5:
                features["DUNS_NUMBER"] = [{"FEAT_DESC": str(rng.randint(10**8, 10**9 - 1))}]
            if rng.random() < 0.4:
                features["WEBSITE"] = [{"FEAT_DESC": f"www.example{uid}.com"}]
        if rng.random() < 0.5:
            features["ADDRESS"] = [{"FEAT_DESC": f"{rng.randint(1, 999)} Main St, City {rng.randint(1, 50)}"}]
        if rng.random() < 0.3:
            features["PHONE"] = [{"FEAT_DESC": f"+{rng.randint(1, 99)} {rng.randint(100, 999)} {rng.randint(1000, 9999)}"}]
        if rng.random() < 0.6:
            code = rng.choice(COUNTRY_CODES + [("XXX", None)])[0]
            if rng.random() < 0.2:
                code = f" {code} "
            features["COUNTRY_OF_ASSOCIATION"] = [{"FEAT_DESC": code}]
        if rng.random() < 0.2:
            features["NAME"].append({"FEAT_DESC": "IGNORED SECOND NAME"})

        records = []
        for r in range(rng.randint(0, 3)):
            records.append({
                "DATA_SOURCE": rng.choice(["icij", "Icij", "OPEN-SANCTIONS"]),
                "RECORD_ID": f"r{uid}-{r}",
                "MATCH_KEY": "" if rng.random() < 0.1 else f"+NAME+DOB{r}",
                "ENTITY_DESC": "" if rng.random() < 0.1 else name,
                "INTERNAL_ID": rng.randint(1, n_entities),
            })
        graph_names[uid] = next((r["ENTITY_DESC"] for r in records if r["ENTITY_DESC"]), str(uid))
        rows.append({
            "RESOLVED_ENTITY": {
                "ENTITY_ID": uid, "ENTITY_NAME": entity_name,
                "FEATURES": features, "RECORDS": records,
            },
            "RELATED_ENTITIES": [],
        })

    hubs = rng.sample(range(1, n_entities + 1), n_hubs)
    out: dict[int, set[int]] = {}
    for uid in range(1, n_entities + 1):
        nbrs = {(uid % n_entities) + 1}
        for _ in range(rng.randint(0, 3)):
            nbrs.add(rng.randint(1, n_entities))
        out[uid] = nbrs
    for h in hubs:
        out[h].update(rng.sample(range(1, n_entities + 1), hub_fanout))
        for src in rng.sample(range(1, n_entities + 1), hub_fanout):
            out[src].add(h)
    adjacency = {}
    for row in rows:
        uid = row["RESOLVED_ENTITY"]["ENTITY_ID"]
        nbrs = sorted(out[uid] - {uid})
        row["RELATED_ENTITIES"] = [{"ENTITY_ID": n, "MATCH_LEVEL_CODE": rng.choice(LEVELS)} for n in nbrs]
        adjacency[uid] = nbrs
    return Report(rows, adjacency, hubs, graph_names)


def write_report(path: str, report: Report) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in report.rows:
            f.write(json.dumps(r) + "\n")


def write_kb_inputs(dirpath: str, report: Report, rng: random.Random, kb_target: int) -> dict[str, str]:
    """Write report JSONL, suspicious names (hits + misses) and the country
    TSV; returns their paths. Hits are added until their 2-hop reach (the
    KB filter) holds at least ``kb_target`` entities, so the KB size, which
    per-batch linking cost follows, barely varies between seeds."""
    paths = {k: os.path.join(dirpath, f) for k, f in (
        ("report", "senzing_report.jsonl"), ("suspicious", "suspicious.txt"), ("countries", "country.tsv"))}
    write_report(paths["report"], report)
    # hubs stay out of the seed set so the 2-hop reach stays a fraction of
    # the graph rather than all of it; a hit names exactly one entity
    hubs = set(report.hubs)
    uids: dict[str, list[int]] = {}
    for uid, n in report.graph_names.items():
        uids.setdefault(n, []).append(uid)
    candidates = sorted(n for n, us in uids.items() if len(us) == 1 and us[0] not in hubs and not n.isdigit())
    rng.shuffle(candidates)
    hits: list[str] = []
    for n in candidates:
        hits.append(n)
        if len(k_hop_reach(report.adjacency, [uids[h][0] for h in hits], 2)) >= kb_target:
            break
    with open(paths["suspicious"], "w") as f:
        for n in hits + ["No Such Person", "Ghost Corp LLC", "Missing Name 999"]:
            f.write(n + "\n")
    with open(paths["countries"], "w") as f:
        f.write("code\tname\n")
        for code, cname in COUNTRY_CODES:
            f.write(f"{code}\t{cname}\n")
    return paths


def k_hop_reach(adjacency: dict[int, list[int]], seeds: list[int], k: int) -> set[int]:
    """Directed ≤k-hop reach including the seeds (reference oracle for
    ``PropertyGraph.kHop``)."""
    reach = set(seeds)
    frontier = set(seeds)
    for _ in range(k):
        frontier = {n for v in frontier for n in adjacency.get(v, ())} - reach
        reach |= frontier
    return reach


def shortest_path_len(adjacency: dict[int, list[int]], src: int, dst: int, max_len: int) -> int | None:
    """Directed BFS hop count from ``src`` to ``dst`` (None beyond ``max_len``)."""
    if src == dst:
        return 0
    seen = {src}
    q = deque([(src, 0)])
    while q:
        v, d = q.popleft()
        if d == max_len:
            continue
        for n in adjacency.get(v, ()):
            if n == dst:
                return d + 1
            if n not in seen:
                seen.add(n)
                q.append((n, d + 1))
    return None


def zipf_picker(rng: random.Random, items: list, s: float = 1.1):
    """Return a sampler over ``items`` whose rank-r item has weight 1/r^s,
    with the rank order itself shuffled by ``rng``."""
    order = items[:]
    rng.shuffle(order)
    weights = [1.0 / (r + 1) ** s for r in range(len(order))]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)

    def pick() -> object:
        return order[bisect.bisect_left(cum, rng.random() * acc)]

    return pick


def bfs_distances(adjacency: dict[int, list[int]], src: int, max_len: int) -> dict[int, int]:
    """Directed hop count from ``src`` to every vertex within ``max_len``."""
    dist = {src: 0}
    frontier = [src]
    for d in range(1, max_len + 1):
        frontier = [n for v in frontier for n in adjacency.get(v, ()) if n not in dist]
        for n in frontier:
            dist.setdefault(n, d)
    return dist


def serve_queries(rng: random.Random, report: Report):
    """One client's endless query sequence: blocks of ten queries in a
    fixed order, seven 2-hop kHop, two 1-hop kHop and one bfs
    (maxPathLength 4). kHop seed counts cycle 1, 4, 16, and every 16-seed
    query holds exactly one hub; bfs targets sit at a shortest distance
    cycling 2, 3. Only the entities are seeded, so every run issues
    queries of the same kinds and shapes in the same order. Non-hub seeds
    are Zipf-skewed."""
    n = len(report.rows)
    hubs = set(report.hubs)
    pick = zipf_picker(random.Random(rng.random()), [v for v in range(1, n + 1) if v not in hubs])
    block = ["khop2", "khop1", "khop2", "khop2", "bfs", "khop2", "khop2", "khop1", "khop2", "khop2"]
    sizes = [1, 4, 16]
    n_khop = n_bfs = 0
    while True:
        for op in block:
            if op == "bfs":
                want = 2 + n_bfs % 2
                n_bfs += 1
                while True:
                    a = pick()
                    at = sorted(v for v, d in bfs_distances(report.adjacency, a, want).items() if d == want)
                    if at:
                        break
                yield {"op": "bfs", "src": a, "dst": rng.choice(at)}
            else:
                size = sizes[n_khop % 3]
                n_khop += 1
                seeds = {rng.choice(report.hubs)} if size == 16 else set()
                while len(seeds) < size:
                    seeds.add(pick())
                yield {"op": op, "k": 2 if op == "khop2" else 1, "seeds": sorted(seeds)}


def _dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def ivf_top_k(kb: dict[str, list[float]], centroids: dict[int, list[float]],
              queries: dict[str, list[float]], nprobe: int, k: int) -> dict[str, list[tuple[str, float]]]:
    """Reference answer for ``similarity.cosine_knn_ivf``: every KB vector
    sits in the cell of its nearest centroid, each query probes its
    ``nprobe`` nearest cells, and the neighbours are ranked by cosine
    rounded to 6 dp, ties by the smaller id (dot products fold in index
    order, as the program's do). Returns query id -> [(neighbour id,
    cosine)] in rank order."""
    def norm(v):
        return math.sqrt(_dot(v, v))

    def by_cos(q, qn, items):
        return sorted((-round(_dot(q, v) / (qn * vn), 6), i, v, vn) for i, v, vn in items)

    cents = [(c, v, norm(v)) for c, v in centroids.items()]
    cells: dict[int, list] = {}
    for vid, v in kb.items():
        vn = norm(v)
        cells.setdefault(by_cos(v, vn, cents)[0][1], []).append((vid, v, vn))
    out = {}
    for qid, q in queries.items():
        qn = norm(q)
        probed = [c for _, c, _, _ in by_cos(q, qn, cents)[:nprobe]]
        cands = [x for c in probed for x in cells.get(c, ()) if x[0] != qid]
        out[qid] = [(i, -negc) for negc, i, _, _ in by_cos(q, qn, cands)[:k]]
    return out


def _filler(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(FILLER) for _ in range(n)]


def _perturb(rng: random.Random, name: str) -> str:
    toks = name.split()
    if len(toks) > 1 and rng.random() < 0.5:
        toks.pop(rng.randrange(len(toks)))
    else:
        i = rng.randrange(len(toks))
        t = toks[i]
        toks[i] = t[:-1] if len(t) > 3 else t + "x"
    return " ".join(toks)


def news_batches(rng: random.Random, kb_names: list[str], size: int):
    """Endless ``size``-doc batches: each doc is ~60-120 filler words with
    1-3 planted exact KB names, 0-1 perturbed names and 0-1 unlinkable
    names. About 10% of each batch are verbatim syndicated copies of an
    earlier doc in the same batch and 5% are lightly edited copies. Doc
    ids increase, so an original always precedes its copies.

    Doc dicts: ``doc_id, text, exact`` (planted exact names, lowercased),
    ``copy_of`` (original id for verbatim copies, else None)."""
    next_id = 1
    n_copy = max(1, size // 10)
    n_edit = max(1, size // 20)
    n_orig = size - n_copy - n_edit
    while True:
        docs: list[dict] = []
        for _ in range(n_orig):
            words = _filler(rng, rng.randint(60, 120))
            exact = rng.sample(kb_names, rng.randint(1, 3))
            inserts = list(exact)
            if rng.random() < 0.6:
                inserts.append(_perturb(rng, rng.choice(kb_names)))
            if rng.random() < 0.4:
                inserts.append(rng.choice(UNLINKABLE))
            # planted names go at distinct, non-adjacent slots
            slots = sorted(rng.sample(range(1, len(words) // 2), len(inserts)))
            for j, (slot, name) in enumerate(zip(slots, inserts)):
                words.insert(slot * 2 + j, name)
            docs.append({"doc_id": next_id, "text": " ".join(words),
                         "exact": sorted({e.lower() for e in exact}), "copy_of": None})
            next_id += 1
        originals = docs[:]
        for _ in range(n_copy):
            o = rng.choice(originals)
            docs.append({"doc_id": next_id, "text": o["text"], "exact": o["exact"], "copy_of": o["doc_id"]})
            next_id += 1
        for _ in range(n_edit):
            o = rng.choice(originals)
            words = o["text"].split(" ")
            words[rng.randrange(len(words))] = rng.choice(FILLER)
            docs.append({"doc_id": next_id, "text": " ".join(words), "exact": [], "copy_of": None})
            next_id += 1
        yield docs
