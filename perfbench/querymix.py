"""Batch query mix: one ``collect()`` per registry query over the sf0.01
fixtures under ``fixtures/``, single client, closed loop.

Each execution is checked against its DuckDB oracle twin.  Oracle
results are stored as digests in ``oracle_digests.json`` (rows
normalised as ``tests/test_oracle_equivalence.py`` compares them:
columns sorted by name, floats rounded to 6 places, dates as ISO
strings, rows sorted); ``refresh_digests`` recomputes them.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import time

from harness import Tracer, live_heap_mb, metric, percentile, tail

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
DIGESTS = os.path.join(HERE, "oracle_digests.json")

# query -> the layer (repo module) it exercises
QUERIES = {
    "sales_per_category": "plans.sales",
    "q5_regional_revenue": "plans.tpch",
    "q18_large_volume_customers": "plans.tpch",
    "rfm_segments": "plans.analytics",
    "asof_last_click": "plans.temporal",
    "lsh_candidate_pairs": "operators.dedup",
    "knn_bruteforce": "operators.similarity",
    "kn_bigram_surprisal": "operators.text",
    "bm25_topk": "operators.retrieval",
    "copurchase_graph_stats": "operators.graph",
    "hll_distinct_users": "operators.sketch",
}
LAYERS = sorted(set(QUERIES.values()))


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def digest(cols: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive fingerprint of a result."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm(r[i]) for i in idx) for r in rows]
    normed.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    blob = json.dumps(normed, default=str, separators=(",", ":"))
    return {
        "columns": sorted(cols),
        "rows": len(rows),
        "sha256": hashlib.sha256(blob.encode()).hexdigest(),
    }


def oracle_digests() -> dict[str, dict]:
    """Run every query's DuckDB oracle over the fixtures."""
    import duckdb

    from flink_ecommerce_spark import registry

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(FIXTURES)):
            name = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{FIXTURES}/{f}')")
        out = {}
        for q in QUERIES:
            res = con.execute(registry.SPECS[q].oracle)
            out[q] = digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def refresh_digests() -> None:
    with open(DIGESTS, "w") as f:
        json.dump(oracle_digests(), f, indent=1, sort_keys=True)
        f.write("\n")


def run_query_mix(spark, ctx) -> None:
    from flink_ecommerce_spark import registry

    with open(DIGESTS) as f:
        expected = json.load(f)
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)
    sc = spark.sparkContext
    tracer: Tracer = ctx.tracer
    executions = failures = 0
    check_s = 0.0
    passes: list[dict[str, float]] = []
    groups: dict[str, str] = {}  # query -> job group of its first timed run
    factors: dict[tuple[str, str], float] = {}  # host speed before each execution

    def one_pass(label: str) -> dict[str, float]:
        """Seconds per query; the oracle checks are not timed."""
        nonlocal executions, failures, check_s
        times = {}
        for q in order:
            factors[label, q] = ctx.speed.probe(spark, "setup" if label == "warmup" else "measure")
            group = f"{label}:{q}"
            groups.setdefault(q, group)
            sc.setJobGroup(group, q)
            cols, rows, err = None, None, None
            with tracer.span("registry.query", ctx.trace_id, query=q, layer=QUERIES[q]):
                t0 = time.perf_counter()
                try:
                    df = registry.SPECS[q].fn(spark, FIXTURES)
                    rows = [tuple(r) for r in df.collect()]
                    cols = df.columns
                except Exception as e:  # counted as a failed operation
                    err = e
                times[q] = time.perf_counter() - t0
            t0 = time.perf_counter()
            with tracer.span("registry.oracle_check", ctx.trace_id, query=q):
                executions += 1
                if err is not None or digest(cols, rows) != expected[q]:
                    failures += 1
                    ctx.problems.append(f"{q} ({label}): " + (repr(err)[:200] if err else "differs from oracle"))
            check_s += time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        return times

    one_pass("warmup")
    ctx.setup_excluded_s += check_s
    ctx.mark_setup_done()
    t_start = time.time()
    groups.clear()
    # closed loop: passes start until ctx.seconds have gone by
    while time.time() - t_start < ctx.seconds:
        times = one_pass(f"pass{len(passes)}")
        passes.append(times)
    ctx.heap_mb = live_heap_mb(spark)
    ctx.attempted, ctx.failed = executions, failures
    lat = [t for p in passes for t in p.values()]
    tail_q, tail_v = tail(lat)
    ctx.notes.update({
        "passes": len(passes), "order": order, "fixtures": "sf0.01",
        "query_p50_s": percentile(lat, 50), "query_tail_s": tail_v, "tail_percentile": tail_q,
        "tail_samples": len(lat), "query_s": {k: percentile([p[k] for p in passes], 50) for k in order},
    })
    scaled_s = sum(t / factors[f"pass{i}", q] for i, p in enumerate(passes) for q, t in p.items())
    ctx.e2e = {"throughput_per_s": metric(len(lat) / scaled_s, "1/s")}
    ctx.aliases = {"query_mix_s": metric(sum(lat) / len(passes), "s"),
                   "query_mix_executions_per_s": metric(len(lat) / sum(lat), "1/s")}
    if tracer.enabled:
        layers = {}
        for q in QUERIES:
            layers[f"query.{q}_s"] = percentile([p[q] for p in passes], 50)
        for layer in LAYERS:
            layers[f"{layer}_s"] = sum(layers[f"query.{q}_s"] for q in QUERIES if QUERIES[q] == layer)
        tracker = sc.statusTracker()
        failed_tasks = 0
        for q, group in groups.items():
            jobs = tracker.getJobIdsForGroup(group)
            stages = [s for j in jobs for s in (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j) else [])]
            infos = [tracker.getStageInfo(s) for s in stages]
            layers[f"spark.{q}.jobs"] = len(jobs)
            layers[f"spark.{q}.stages"] = len(stages)
            layers[f"spark.{q}.tasks"] = sum(i.numTasks for i in infos if i)
            failed_tasks += sum(i.numFailedTasks for i in infos if i)
        layers["spark.failed_tasks"] = failed_tasks
        ctx.layers.update(layers)


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(HERE))
    refresh_digests()
    print(f"wrote {DIGESTS}")
