import json

import gen


def test_same_seed_same_bytes():
    a = gen.EventStream(7, dup_share=0.02)
    b = gen.EventStream(7, dup_share=0.02)
    start = gen.backlog_start_ms()
    assert a.backlog_lines(2000, start, 730) == b.backlog_lines(2000, start, 730)
    c = gen.EventStream(8, dup_share=0.02)
    assert c.backlog_lines(50, start, 730) != gen.EventStream(7).backlog_lines(50, start, 730)


def test_duplicate_share_and_exact_redelivery():
    s = gen.EventStream(3, dup_share=0.02)
    lines = s.backlog_lines(50_000, gen.backlog_start_ms(), 730)
    dup_share = s.n_dup / len(lines)
    assert abs(dup_share - 0.02) < 0.003
    ids = [json.loads(x)["transactionId"] for x in lines]
    assert len(set(ids)) == s.n_new == len(lines) - s.n_dup
    # a re-delivery repeats an earlier line byte for byte
    seen = {}
    for line, tid in zip(lines, ids):
        assert seen.setdefault(tid, line) == line


def test_backlog_domain_and_span():
    s = gen.EventStream(5, dup_share=0.0)
    events = [json.loads(x) for x in s.backlog_lines(20_000, gen.backlog_start_ms(), 730)]
    days = {e["transactionDate"][:10] for e in events}
    assert len(days) > 700 and min(days) >= "2023-01-01" and max(days) <= "2024-12-31"
    assert {e["productCategory"] for e in events} == set(gen.CATEGORIES)
    for e in events[:500]:
        assert 10 <= e["productPrice"] < 1000 and 1 <= e["productQuantity"] <= 10
        assert e["totalAmount"] == round(e["productPrice"] * e["productQuantity"], 2)
