"""ERKG benchmark runner.

    python3 perfbench/run.py --workload graph_serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. It generates the
workload's inputs from ``--seed`` under ``.bench_work/`` in the checkout,
starts one local Spark session, sets the workload up (timed), runs its
closed-loop clients for ``--seconds`` seconds while checking every answer,
and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``. With ``--trace 1`` they are the per-layer metrics: the
set-up's loading is traced, then after the warm-up the first operations of
each client run untraced and again traced, with a span around every public
function call (see ``instrument.py``); the per-layer totals of the traced
set-up and pass are reported with the tracing overhead. The line before the result carries
the same numbers under the workload's own names, with sample counts.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# traced runs replay this many operations per client: untraced, then traced
# (ten graph_serve queries are one block of the query mix)
TRACE_OPS = {"graph_serve": 10, "link_docs": 1}


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _host_steal_s() -> float:
    """CPU time the hypervisor gave other guests, summed over all CPUs
    since boot: it shows when a slow run was a busy host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def start_spark(workdir: str):
    """Local session through the package's own factory, with every
    scratch file kept inside the checkout."""
    from erkg_tutorials_spark.session import get_spark

    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        "erkg-perfbench",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it was launched in and wait for
    it: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_clients(wl, n_ops: int | None, deadline: float | None, tracer=None) -> list[dict]:
    """Closed loop: each client thread issues its next operation as soon
    as the previous one returns (or for its first ``n_ops`` operations).
    With a ``deadline``, a client runs at least one operation and starts
    another only if it would end by the deadline at the pace of its last
    one, so the measured window is about as long as asked even when one
    operation takes a good part of it. Returns one record per completed
    operation."""
    records: list[dict] = []
    lock = threading.Lock()

    def client(c: int) -> None:
        last = 0.0
        for i, op in enumerate(itertools.islice(wl.ops(c), n_ops)):
            if deadline is not None and i and time.perf_counter() + last > deadline:
                return
            if tracer is not None:
                tracer.request(f"c{c}-op{i}")
            t0 = time.perf_counter()
            try:
                ok, items = wl.run_op(op)
            except Exception as exc:  # a failed operation is counted, the run goes on
                print(f"op failed: {type(exc).__name__}: {exc}"[:500], file=sys.stderr)
                ok, items = False, 0
            t1 = time.perf_counter()
            last = t1 - t0
            with lock:
                records.append({"client": c, "i": i, "kind": op["op"] if isinstance(op, dict) else "batch",
                                "start": t0, "end": t1, "ok": ok, "items": items})

    threads = [threading.Thread(target=client, args=(c,)) for c in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def end_to_end(records: list[dict], setup_s: float, t_start: float, rss_mb: float) -> tuple[dict, dict]:
    """(metrics, detail): op latency median and p90, throughput, set-up
    time and peak memory. Latencies are over every completed op."""
    lat_ms = [(r["end"] - r["start"]) * 1e3 for r in records]
    elapsed = max(r["end"] for r in records) - t_start
    items = sum(r["items"] for r in records)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": statistics.median(lat_ms), "unit": "ms"},
        "items_per_s": {"value": items / elapsed, "unit": "1/s"},
    }
    by_kind: dict[str, list[float]] = {}
    for r, ms in zip(records, lat_ms):
        by_kind.setdefault(r["kind"], []).append(ms)
    detail = {
        "ops": len(records), "items": items, "elapsed_s": elapsed, "peak_rss_mb": rss_mb,
        "op_p90_ms": _p90(lat_ms),
        "by_kind": {k: {"n": len(v), "p50_ms": statistics.median(v)} for k, v in sorted(by_kind.items())},
    }
    return metrics, detail


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import erkg_tutorials_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout ({exc})", file=sys.stderr)
        return 2
    import workloads
    from instrument import Instrumenter
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # Python workers of pandas UDFs import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    workdir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    os.environ["TMPDIR"] = workdir
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # every JVM (the spark-submit launcher too) keeps its temp files in the
    # checkout and writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={workdir}", "-XX:-UsePerfData") if o)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(workdir)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext)
        inst = Instrumenter(tracer)
        wl = workloads.WORKLOADS[args.workload](spark, workdir, args.seed)

        prep_s = []
        checks: list[bool] = []
        # a traced run sets up once: the spans of its loading are part of
        # the per-layer totals; the warm-up stays untraced
        for rep in range(1 if args.trace else wl.setup_reps):
            t0 = time.perf_counter()
            if args.trace:
                tracer.request("setup")
                with inst.active():
                    wl.prepare(rep)
                inst.release()
            else:
                wl.prepare(rep)
            checks += wl.warm()
            prep_s.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(prep_s)
        checks += wl.setup_checks()

        if args.trace:
            records, metrics, detail = traced_run(spark, wl, tracer, inst, TRACE_OPS[args.workload])
        else:
            steal0 = _host_steal_s()
            t_start = time.perf_counter()
            records = run_clients(wl, None, t_start + args.seconds)
            steal_s = _host_steal_s() - steal0
            rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(str(spark._jvm.java.lang.ProcessHandle.current().pid()))) / 1024
            metrics, detail = end_to_end(records, setup_s, t_start, rss_mb)
            detail["host_steal_s"] = steal_s
        wl.release()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another run still uses it
            pass

    attempted = len(records) + len(checks)
    failed = sum(not r["ok"] for r in records) + sum(not c for c in checks)
    detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "clients": wl.clients, "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": cpus,
        "sizes": wl.sizes, "session_s": session_s, "prepare_s": prep_s,
        "failed_frac": failed / attempted,
    })
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def traced_run(spark, wl, tracer, inst, n: int) -> tuple[list[dict], dict, dict]:
    """Per-layer metrics: each client's first ``n`` operations run twice,
    untraced and traced (the set-up has warmed up). Values are totals over
    the traced set-up and the traced pass; the overhead compares the traced
    pass with the untraced one."""
    from spans import extra_mean, per_layer_units, summarize

    t0 = time.perf_counter()
    records = run_clients(wl, n, None)
    untraced_s = time.perf_counter() - t0
    n_setup_spans = len(tracer.spans)
    t0 = time.perf_counter()
    with inst.active():
        records += run_clients(wl, n, None, tracer)
    traced_s = time.perf_counter() - t0
    inst.release()

    spans = tracer.spans
    layer = summarize(spans)
    layer["graph.k_hop.plan_ms"] = extra_mean(spans, "graph.k_hop", "plan_ms")
    layer["graph.k_hop.exec_ms"] = extra_mean(spans, "graph.k_hop", "exec_ms")
    layer["sources.write_jsonl.bytes_written"] = sum(
        s.extra.get("bytes", 0) for s in spans if s.name == "sources.write_jsonl")
    calls = layer["linking.embed_column.calls"]
    layer["linking.embed_column.rows_per_batch"] = layer["linking.embed_column.rows_out"] / calls if calls else 0.0
    layer["dedup.lsh_precision"] = lsh_precision(spark, wl) if wl.name == "link_docs" else 0.0
    layer["trace.overhead_ratio"] = traced_s / untraced_s - 1.0
    metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_units().items()}
    detail = {"spans": len(spans), "setup_spans": n_setup_spans, "ops_per_client": n,
              "untraced_s": untraced_s, "traced_s": traced_s}
    return records, metrics, detail


def lsh_precision(spark, wl) -> float:
    """Verified near-duplicate pairs ÷ LSH candidate pairs over the first
    traced batch (default MinHash parameters on both sides)."""
    from erkg_tutorials_spark.dedup import minhash

    batch = next(wl.ops(0))
    docs = spark.createDataFrame([(b["doc_id"], b["text"]) for b in batch], "doc_id long, text string")
    cands = minhash.lsh_candidate_pairs(minhash.minhash_signature(minhash.shingles(docs))).count()
    verified = minhash.minhash_lsh_dedup(docs).count()
    return verified / cands if cands else 1.0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
