import json
import os

import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_lists_what_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {m: run.E2E_UNITS[m] for m in run.E2E}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.layer_metrics()


def test_tail_rule():
    from harness import tail

    assert tail([1.0] * 11) == (100.0, 1.0)
    q, _ = tail(list(range(40)))
    assert q == 75.0
    q, _ = tail(list(range(1000)))
    assert q == 99.0


def test_spans_on_concurrent_threads_get_distinct_ids():
    import threading

    from harness import Tracer

    tracer = Tracer(True)

    def work(branch):
        for epoch in range(200):
            with tracer.span("streaming.sinks.write_batch", f"epoch-{epoch}", branch=branch):
                with tracer.span("streaming.sinks.merge", None):
                    pass

    threads = [threading.Thread(target=work, args=(b,)) for b in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len({s["id"] for s in tracer.spans}) == len(tracer.spans) == 1600
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        if s["name"] == "streaming.sinks.merge":
            parent = by_id[s["parent"]]
            assert parent["name"] == "streaming.sinks.write_batch" and parent["trace"] == s["trace"]
    assert all(v >= 0 for v in tracer.self_times().values())


def test_host_speed_factor_is_median_probe_over_reference():
    from harness import PROBE_REF_S, HostSpeed

    speed = HostSpeed()
    speed.samples["measure"] = [PROBE_REF_S * f for f in (0.9, 1.2, 1.1)]
    assert abs(speed.factor("measure") - 1.1) < 1e-9
