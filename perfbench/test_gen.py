"""Tests of the benchmark's input generator: one seed gives identical
inputs, and the stated shares of bad inputs hold.

    python3 -m pytest perfbench/test_gen.py -q -p no:cacheprovider
"""

from __future__ import annotations

import collections
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _within(count: int, n: int, share: float) -> bool:
    """``count`` of ``n`` is within five binomial sigmas of ``share``."""
    sigma = math.sqrt(n * share * (1.0 - share))
    return abs(count - n * share) <= 5 * sigma


def _parse(payload: str):
    try:
        return json.loads(payload)
    except json.JSONDecodeError:
        return None


def test_same_seed_same_inputs():
    assert gen.owm_batch(7, 3, 40) == gen.owm_batch(7, 3, 40)
    assert gen.owm_batch(7, 3, 10, 30) == gen.owm_batch(7, 3, 10, 30)
    assert gen.task_envelopes(7, 2, 3, 100) == gen.task_envelopes(7, 2, 3, 100)
    a, b = gen.etl_rounds(7, 50, 8, 3), gen.etl_rounds(7, 50, 8, 3)
    assert [next(a) for _ in range(60)] == [next(b) for _ in range(60)]
    assert gen.analytic_tables(7, 0.001) == gen.analytic_tables(7, 0.001)


def test_other_seed_other_inputs():
    assert gen.owm_batch(7, 3, 40) != gen.owm_batch(8, 3, 40)
    assert gen.owm_batch(7, 3, 40) != gen.owm_batch(7, 4, 40)
    assert gen.task_envelopes(7, 2, 3, 100) != gen.task_envelopes(8, 2, 3, 100)
    a, b = gen.etl_rounds(7, 50, 8, 3), gen.etl_rounds(8, 50, 8, 3)
    assert [next(a) for _ in range(20)] != [next(b) for _ in range(20)]
    assert gen.analytic_tables(7, 0.001) != gen.analytic_tables(8, 0.001)


def test_payload_shares_and_truth():
    batch = gen.owm_batch(3, 0, 1500)
    daily = [_parse(p) for _, p in batch["daily"]]
    onecall = [_parse(p) for _, p in batch["onecall"]]
    n = len(daily)
    malformed = sum(d is None for d in daily)
    missing_req = sum(d is not None and "max" not in d["temperature"] for d in daily)
    missing_opt = sum(d is not None and "wind" not in d for d in daily)
    assert _within(malformed, n, gen.DAILY_MALFORMED)
    assert _within(missing_req, n, gen.DAILY_MISSING_REQUIRED)
    assert _within(missing_opt, n, gen.DAILY_MISSING_OPTIONAL)
    assert _within(sum(d is None for d in onecall), len(onecall), gen.ONECALL_MALFORMED)

    items = [i for d in onecall if d is not None for i in d["hourly"]]
    no_temp = sum("temp" not in i for i in items)
    assert _within(no_temp, len(items), gen.HOURLY_MISSING_TEMP)
    assert _within(sum("rain" not in i for i in items), len(items), gen.HOURLY_NO_RAIN)

    # a shard holds exactly its cities
    shard = gen.owm_batch(3, 1, 5, 40)
    assert {c for c, _ in shard["daily"]} == set(range(40, 45))
    assert {f[0] for f in shard["facts"]} <= set(range(40, 45))

    # the ground truth the benchmark checks against adds up
    rejects = malformed + missing_req + sum(d is None for d in onecall) + no_temp
    assert batch["rejects"] == rejects
    accepted_daily = n - malformed - missing_req
    assert len(batch["facts"]) == accepted_daily + len(items) - no_temp


def test_task_shares():
    files = gen.task_envelopes(5, 1, 8, 500)
    rows = [r for f in files for r in f]
    unique = {r[0]: r for r in rows}
    routes = collections.Counter(r[4] for r in unique.values())
    assert _within(len(rows) - len(unique), len(rows), gen.TASK_DUPLICATE)
    assert _within(routes["dlq_poison"], len(unique), gen.TASK_POISON)
    assert _within(routes["dlq_expired"], len(unique), gen.TASK_EXPIRED)
    # a redelivered copy is identical to its first delivery
    assert all(unique[r[0]] == r for r in rows)
    # every enqueue time lies inside the stream's 24-hour watermark
    times = [r[2] for r in rows]
    assert (max(times) - min(times)).total_seconds() < 23 * 3600


def test_zipf_lookup_skew():
    zipf = gen.ZipfKeys(11, 400)
    rng = gen._rng(11, "test")
    draws = collections.Counter(zipf.draw(rng) for _ in range(20000))
    harmonic = sum(1.0 / r**1.1 for r in range(1, 401))
    hottest, count = draws.most_common(1)[0]
    assert hottest == zipf.keys[0]
    assert _within(count, 20000, 1.0 / harmonic)
    assert gen.ZipfKeys(12, 400).keys != zipf.keys


def test_round_plan():
    rounds = gen.etl_rounds(4, 200, 16, 3)
    for _ in range(200):
        first, cities = next(rounds)
        assert 0 <= first <= 200 - 16
        assert len(cities) == 3 and all(0 <= c < 200 for c in cities)
