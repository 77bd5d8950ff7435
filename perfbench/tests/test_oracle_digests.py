import json

import querymix


def test_stored_digests_match_a_fresh_oracle_run():
    with open(querymix.DIGESTS) as f:
        stored = json.load(f)
    assert stored == querymix.oracle_digests()


def test_digest_is_order_and_column_order_insensitive():
    a = querymix.digest(["b", "a"], [(1.0000001, "x"), (2.5, None)])
    b = querymix.digest(["a", "b"], [(None, 2.5), ("x", 1.0)])
    assert a == b
    assert querymix.digest(["a"], [(1.0,)]) != querymix.digest(["a"], [(1.01,)])
