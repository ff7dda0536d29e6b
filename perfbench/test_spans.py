"""Unit tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import itertools
import os
import random
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import (  # noqa: E402
    SPAN_FIELDS, SPAN_NAMES, Span, Tracer, extra_mean, per_layer_units, self_times, summarize,
)


def _span(name, sid, parent, start, end, **kw):
    return Span(name, sid, parent, None, start, end, **kw)


class TestEndToEnd:
    def test_median_p90_and_throughput(self):
        from run import end_to_end

        recs = [{"kind": "khop2" if i % 2 else "bfs", "start": float(i), "end": i + (i + 1) / 10.0, "items": 1}
                for i in range(10)]
        metrics, detail = end_to_end(recs, 3.5, 0.0, 100.0)
        assert abs(metrics["op_p50_ms"]["value"] - 550.0) < 1e-9
        assert abs(detail["op_p90_ms"] - 910.0) < 1e-9
        assert abs(metrics["items_per_s"]["value"] - 1.0) < 1e-12
        assert metrics["setup_s"] == {"value": 3.5, "unit": "s"}
        assert detail["by_kind"]["bfs"]["n"] == 5

    def test_single_sample(self):
        from run import end_to_end

        metrics, detail = end_to_end([{"kind": "batch", "start": 1.0, "end": 3.0, "items": 100}], 1.0, 1.0, 0.0)
        assert metrics["op_p50_ms"]["value"] == detail["op_p90_ms"] == 2000.0
        assert metrics["items_per_s"]["value"] == 50.0


class TestSelfTimes:
    def test_leaf_self_is_duration(self):
        assert self_times([_span("a", 1, None, 0.0, 2.5)]) == {1: 2.5}

    def test_children_subtracted(self):
        spans = [_span("p", 1, None, 0.0, 10.0), _span("c1", 2, 1, 1.0, 3.0), _span("c2", 3, 1, 5.0, 6.0)]
        st = self_times(spans)
        assert abs(st[1] - 7.0) < 1e-12
        assert st[2] == 2.0 and st[3] == 1.0

    def test_overlapping_children_not_double_counted(self):
        spans = [_span("p", 1, None, 0.0, 10.0), _span("c1", 2, 1, 1.0, 5.0), _span("c2", 3, 1, 4.0, 6.0)]
        assert abs(self_times(spans)[1] - 5.0) < 1e-12

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [_span("p", 1, None, 0.0, 10.0), _span("c", 2, 1, 2.0, 8.0), _span("g", 3, 2, 3.0, 4.0)]
        st = self_times(spans)
        assert abs(st[1] - 4.0) < 1e-12 and abs(st[2] - 5.0) < 1e-12 and st[3] == 1.0

    def test_child_clipped_to_parent(self):
        spans = [_span("p", 1, None, 0.0, 4.0), _span("c", 2, 1, 3.0, 9.0)]
        assert abs(self_times(spans)[1] - 3.0) < 1e-12


class TestSummarize:
    def test_every_metric_present_and_unopened_spans_read_zero(self):
        out = summarize([])
        assert len(out) == len(SPAN_NAMES) * len(SPAN_FIELDS)
        assert set(out.values()) == {0.0}

    def test_totals_and_self_time(self):
        spans = [
            _span("text.textrank_phrases", 1, None, 0.0, 5.0, rows_out=7, stages=2, tasks=8),
            _span("graph.pagerank", 2, 1, 1.0, 4.0, rows_out=7, stages=30, tasks=120, failed_tasks=1),
            _span("text.textrank_phrases", 3, None, 10.0, 11.0, rows_out=3, stages=1, tasks=4),
            _span("not.a.layer", 4, None, 0.0, 1.0),
        ]
        out = summarize(spans)
        assert out["text.textrank_phrases.calls"] == 2
        assert abs(out["text.textrank_phrases.self_s"] - 3.0) < 1e-12
        assert out["text.textrank_phrases.rows_out"] == 10
        assert out["graph.pagerank.spark_tasks"] == 120
        assert out["graph.pagerank.failed_tasks"] == 1
        assert abs(out["graph.pagerank.self_s"] - 3.0) < 1e-12

    def test_extra_mean(self):
        spans = [_span("graph.k_hop", 1, None, 0, 1, extra={"plan_ms": 2.0}),
                 _span("graph.k_hop", 2, None, 0, 1, extra={"plan_ms": 4.0})]
        assert extra_mean(spans, "graph.k_hop", "plan_ms") == 3.0
        assert extra_mean(spans, "graph.bfs", "plan_ms") == 0.0

    def test_per_layer_units_cover_spans_and_extras(self):
        units = per_layer_units()
        assert len(units) == len(SPAN_NAMES) * len(SPAN_FIELDS) + 6
        assert units["graph.k_hop.self_s"] == "s" and units["graph.k_hop.calls"] == "count"


class TestTracer:
    def test_nesting_and_request_ids_per_thread(self):
        tr = Tracer()

        def work(rid):
            tr.request(rid)
            with tr.span("outer"):
                with tr.span("inner"):
                    pass

        threads = [threading.Thread(target=work, args=(f"r{i}",)) for i in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
            assert not t.is_alive()
        by_id = {s.sid: s for s in tr.spans}
        inner = [s for s in tr.spans if s.name == "inner"]
        assert len(inner) == 4 and len(tr.spans) == 8
        for s in inner:
            parent = by_id[s.parent]
            assert parent.name == "outer" and parent.request == s.request
            assert parent.start <= s.start <= s.end <= parent.end


class TestGenerators:
    def test_same_seed_same_inputs(self):
        a = gen.make_report(random.Random(7), 300, 2, 20)
        b = gen.make_report(random.Random(7), 300, 2, 20)
        assert a.rows == b.rows and a.hubs == b.hubs
        qa = list(itertools.islice(gen.serve_queries(random.Random(1), a), 50))
        qb = list(itertools.islice(gen.serve_queries(random.Random(1), b), 50))
        assert qa == qb
        names = [f"Apex Trust {i} S.A." for i in range(30)]
        ba = list(itertools.islice(gen.news_batches(random.Random(2), names, 20), 2))
        assert ba == list(itertools.islice(gen.news_batches(random.Random(2), names, 20), 2))

    def test_other_seed_other_inputs(self):
        a = gen.make_report(random.Random(7), 300, 2, 20)
        b = gen.make_report(random.Random(8), 300, 2, 20)
        assert a.rows != b.rows

    def test_hubs_have_high_degree(self):
        r = gen.make_report(random.Random(5), 2000, 3, 100)
        degs = sorted(len(v) for v in r.adjacency.values())
        for h in r.hubs:
            assert len(r.adjacency[h]) >= 90 > degs[len(degs) // 2]

    def test_query_shapes_repeat_across_seeds(self):
        shapes = []
        for seed in (1, 2):
            r = gen.make_report(random.Random(seed), 1500, 3, 60)
            qs = itertools.islice(gen.serve_queries(random.Random(seed), r), 40)
            shape = []
            for q in qs:
                if q["op"] == "bfs":
                    shape.append(("bfs", gen.shortest_path_len(r.adjacency, q["src"], q["dst"], 4)))
                else:
                    assert sum(s in r.hubs for s in q["seeds"]) == (len(q["seeds"]) == 16)
                    shape.append((q["op"], len(q["seeds"])))
            shapes.append(shape)
        assert shapes[0] == shapes[1]
        assert [s for s in shapes[0] if s[0] == "bfs"] == [("bfs", 2), ("bfs", 3), ("bfs", 2), ("bfs", 3)]

    def test_reach_and_path_length(self):
        adj = {1: [2], 2: [3], 3: [4], 4: [], 5: [1]}
        assert gen.k_hop_reach(adj, [1], 2) == {1, 2, 3}
        assert gen.k_hop_reach(adj, [5, 3], 1) == {5, 1, 3, 4}
        assert gen.shortest_path_len(adj, 1, 4, 4) == 3
        assert gen.shortest_path_len(adj, 1, 4, 2) is None
        assert gen.shortest_path_len(adj, 4, 1, 4) is None
        assert gen.shortest_path_len(adj, 2, 2, 4) == 0

    def test_news_batches_plant_names_and_copies(self):
        names = [f"Nova Group {i} S.A." for i in range(50)]
        batch = next(gen.news_batches(random.Random(4), names, 100))
        assert len(batch) == 100
        ids = [d["doc_id"] for d in batch]
        assert ids == sorted(ids) and len(set(ids)) == 100
        by_id = {d["doc_id"]: d for d in batch}
        copies = [d for d in batch if d["copy_of"] is not None]
        assert copies
        for d in copies:
            assert d["text"] == by_id[d["copy_of"]]["text"] and d["copy_of"] < d["doc_id"]
        for d in batch:
            toks = d["text"].lower()
            for name in d["exact"]:
                assert f" {name} " in f" {toks} "

    def test_ivf_top_k(self):
        kb = {"a": [1.0, 0.0], "b": [0.9, 0.1], "c": [0.0, 1.0], "d": [0.1, 0.9], "e": [0.6, 0.6]}
        cents = {0: [1.0, 0.0], 1: [0.0, 1.0]}
        # one probe: only the query's own cell is searched
        out = gen.ivf_top_k(kb, cents, {"q": [1.0, 0.2]}, nprobe=1, k=5)
        assert [n for n, _ in out["q"]] == ["b", "a", "e"]
        assert out["q"][1] == ("a", round(1.0 / (1.04 ** 0.5), 6))
        # two probes search both cells; k cuts the ranking; equal cosines rank by id
        out = gen.ivf_top_k(kb, cents, {"q": [1.0, 1.0], "e": [1.0, 0.0]}, nprobe=2, k=3)
        assert out["q"][0] == ("e", 1.0) and len(out["q"]) == 3
        assert [n for n, _ in out["q"][1:]] == ["b", "d"]
        assert "e" not in [n for n, _ in out["e"]]
