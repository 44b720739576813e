"""The envelope generator's last-write-wins oracle (no Spark needed)."""

import json

from perfbench import envgen


def _row(key, status="O", price=1.0):
    return {"id": key, "o_custkey": 1, "o_orderstatus": status,
            "o_totalprice": price, "o_orderdate": envgen.DAY0_S,
            "o_orderpriority": "2-HIGH"}


def test_oracle_on_a_hand_built_sequence():
    model = envgen.ChangeModel({1: _row(1), 2: _row(2)}, seed=0,
                               n_customers=5)
    model.apply("u", 1, _row(1, "F", 2.0))
    model.apply("c", 3, _row(3))
    model.apply("d", 2, None)
    model.apply("u", 3, _row(3, "P", 9.5))
    model.apply("u", 1, _row(1, "O", 7.0))
    assert sorted(model.rows) == [1, 3]
    assert model.rows[1]["o_totalprice"] == 7.0
    assert model.rows[3]["o_orderstatus"] == "P"
    assert sorted(model.live) == [1, 3]
    assert model.ops == {"c": 1, "u": 3, "d": 1}


def test_generated_changes_replay_to_the_oracle():
    start = {k: _row(k) for k in range(50)}
    model = envgen.ChangeModel(dict(start), seed=3, n_customers=5)
    lines = [envgen.envelope_line(*model.next_change(), 0)
             for _ in range(2000)]
    # replay the envelopes the way the mirror does: per key, the change
    # with the highest offset wins; a delete removes the key
    table = dict(start)
    last = {}
    for env in map(json.loads, lines):
        key = (env["after"] or env["before"])["id"]
        assert env["offset"] > last.get(key, -1)
        last[key] = env["offset"]
        if env["op"] == "d":
            assert key in table
            table.pop(key)
        else:
            assert (env["op"] == "c") == (key not in table)
            after = dict(env["after"])
            after["o_orderdate"] = model.rows.get(key, after)["o_orderdate"]
            table[key] = after
    assert table.keys() == model.rows.keys()
    for key, row in model.rows.items():
        assert {k: v for k, v in table[key].items() if k != "o_orderdate"} \
            == {k: v for k, v in row.items() if k != "o_orderdate"}
    mix = model.ops
    assert 0.05 < mix["c"] / 2000 < 0.15
    assert 0.05 < mix["d"] / 2000 < 0.15


def test_updates_are_skewed_towards_hot_keys():
    model = envgen.ChangeModel({k: _row(k) for k in range(1000)}, seed=1,
                               n_customers=5)
    hits = {}
    for _ in range(5000):
        op, before, after, _ = model.next_change()
        if op == "u":
            hits[after["id"]] = hits.get(after["id"], 0) + 1
    top = sorted(hits.values(), reverse=True)
    assert sum(top[:10]) > 0.3 * sum(top)
