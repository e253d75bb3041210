"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed (and its size
arguments): the same seed gives byte-identical inputs. The engine only
ever sees the files written from these values, never the generator.

Stated shares (checked by test_gen.py):

* OWM payloads: ``DAILY_MALFORMED`` of day_summary and
  ``ONECALL_MALFORMED`` of onecall payloads are truncated JSON;
  ``DAILY_MISSING_REQUIRED`` of day_summary payloads lack
  ``temperature.max`` (rejected), ``DAILY_MISSING_OPTIONAL`` lack wind and
  precipitation (defaulted to 0.0); ``HOURLY_MISSING_TEMP`` of hourly items
  lack ``temp`` (rejected item), ``HOURLY_NO_RAIN`` lack ``rain``.
* task envelopes: ``TASK_DUPLICATE`` of staged rows are redelivered copies
  of an earlier task, ``TASK_POISON`` of unique tasks exceed the delivery
  limit, ``TASK_EXPIRED`` of unique tasks are older than the expiry age.

The query_mix corpus has the testdata corpus's schemas and row counts;
``DOC_NEAR_DUP`` sets its near-duplicate documents (README.md compares
its shape with the testdata corpus's).
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import random

DAILY_MALFORMED = 0.02
DAILY_MISSING_REQUIRED = 0.03
DAILY_MISSING_OPTIONAL = 0.10
ONECALL_MALFORMED = 0.02
HOURLY_MISSING_TEMP = 0.01
HOURLY_NO_RAIN = 0.30

TASK_DUPLICATE = 0.10
TASK_POISON = 0.05
TASK_EXPIRED = 0.10

#: share of query_mix documents that are near-duplicates of an earlier one
DOC_NEAR_DUP = 0.05

HIST_DAYS = 10
FORECAST_HOURS = 48

#: the pipeline's deterministic "now": the forecast window starts here
ANCHOR = dt.datetime(2024, 3, 1, 0, 0, 0)
_EPOCH = dt.datetime(1970, 1, 1)
#: ANCHOR in seconds since the epoch, read as UTC
ANCHOR_EPOCH = (ANCHOR - _EPOCH) // dt.timedelta(seconds=1)


def _rng(seed: int, *salt) -> random.Random:
    return random.Random(repr((seed,) + salt))


def _truncate(text: str, rng: random.Random) -> str:
    return text[: rng.randrange(1, len(text) // 2)]


# ---------------------------------------------------------------------------
# etl_cycle: OWM day_summary + onecall payloads (fetch-weather)
# ---------------------------------------------------------------------------


def owm_batch(seed: int, batch: int, n_cities: int, first: int = 0) -> dict:
    """One ingestion batch: HIST_DAYS day_summary payloads and one
    48-hour onecall payload for each of the ``n_cities`` cities from
    ``first`` on, plus the ground truth the benchmark checks the engine
    against.

    Returns ``daily`` and ``onecall`` as lists of ``(city_id, payload)``,
    ``facts`` as the weather rows a correct ingestion accepts, and
    ``rejects`` as the number of items a correct ingestion rejects."""
    rng = _rng(seed, "owm", batch)
    daily, onecall, facts = [], [], []
    rejects = 0
    for city in range(first, first + n_cities):
        wet = rng.random() < 0.3  # a share of cities get a rainy spell
        for d in range(HIST_DAYS, 0, -1):
            day = ANCHOR - dt.timedelta(days=d)
            t_max = round(rng.uniform(-12.0, 38.0), 2)
            rain = round(rng.uniform(0.0, 9.0) if wet else rng.uniform(0, 1.5), 2)
            wind = round(rng.uniform(0.0, 20.0), 2)
            doc = {
                "lat": round(rng.uniform(-60, 60), 4),
                "lon": round(rng.uniform(-180, 180), 4),
                "tz": "+00:00",
                "date": day.strftime("%Y-%m-%d"),
                "units": "metric",
                "wind": {"max": {"speed": wind}, "direction": rng.randrange(360)},
                "precipitation": {"total": rain},
                "temperature": {"min": round(t_max - 8.0, 2), "max": t_max},
            }
            u = rng.random()
            if u < DAILY_MALFORMED:
                daily.append((city, _truncate(json.dumps(doc), rng)))
                rejects += 1
                continue
            if u < DAILY_MALFORMED + DAILY_MISSING_REQUIRED:
                del doc["temperature"]["max"]
                rejects += 1
            elif u < DAILY_MALFORMED + DAILY_MISSING_REQUIRED + DAILY_MISSING_OPTIONAL:
                del doc["wind"], doc["precipitation"]
                rain = 0.0
                facts.append((city, day, t_max, rain, "HISTORICAL"))
            else:
                facts.append((city, day, t_max, rain, "HISTORICAL"))
            daily.append((city, json.dumps(doc)))
        base = ANCHOR_EPOCH
        items, item_facts, item_rejects = [], [], 0
        for h in range(FORECAST_HOURS):
            ts = base + h * 3600
            item = {"dt": ts, "wind_speed": round(rng.uniform(0, 25), 2)}
            temp = round(rng.uniform(-15.0, 39.0), 2)
            if rng.random() < HOURLY_MISSING_TEMP:
                item_rejects += 1
            else:
                item["temp"] = temp
            rain = 0.0
            if rng.random() >= HOURLY_NO_RAIN:
                rain = round(rng.uniform(0, 2.0) if wet else rng.uniform(0, 0.2), 2)
                item["rain"] = {"1h": rain}
            if "temp" in item:
                item_facts.append(
                    (city, ANCHOR + dt.timedelta(hours=h), temp, rain, "FORECAST")
                )
            items.append(item)
        doc = {
            "lat": 0.0,
            "lon": 0.0,
            "timezone": "UTC",
            "timezone_offset": 0,
            "hourly": items,
        }
        if rng.random() < ONECALL_MALFORMED:
            onecall.append((city, _truncate(json.dumps(doc), rng)))
            rejects += 1
        else:
            onecall.append((city, json.dumps(doc)))
            facts.extend(item_facts)
            rejects += item_rejects
    return {"daily": daily, "onecall": onecall, "facts": facts, "rejects": rejects}


# ---------------------------------------------------------------------------
# etl_cycle: task envelopes (schedule)
# ---------------------------------------------------------------------------


def task_envelopes(
    seed: int, iteration: int, n_files: int, tasks_per_file: int
) -> list[list[tuple]]:
    """``n_files`` staged files of ``(task_id, city_id, _enqueued_ts,
    _delivery_count, route)`` rows. ``route`` is the expected routing
    (``process`` / ``dlq_poison`` / ``dlq_expired``) and is NOT written to
    the staged files.

    Enqueue times of every row lie within 23 hours of each other, so the
    stream's 24-hour watermark never drops a row as late and the only
    rows removed before routing are the redelivered duplicates."""
    rng = _rng(seed, "tasks", iteration)
    files: list[list[tuple]] = []
    seen: list[tuple] = []
    n = 0
    for _ in range(n_files):
        rows = []
        for _ in range(tasks_per_file):
            if seen and rng.random() < TASK_DUPLICATE:
                rows.append(rng.choice(seen))  # a redelivered copy
                continue
            u = rng.random()
            if u < TASK_POISON:
                route, count = "dlq_poison", rng.randint(7, 9)
                age_h = rng.uniform(7.0, 23.0)
            elif u < TASK_POISON + TASK_EXPIRED:
                route, count = "dlq_expired", rng.randint(1, 6)
                age_h = rng.uniform(24.05, 29.9)
            else:
                route, count = "process", rng.randint(1, 6)
                age_h = rng.uniform(7.0, 23.9)
            enq = ANCHOR - dt.timedelta(seconds=round(age_h * 3600))
            row = (f"s{seed}-i{iteration}-t{n}", rng.randrange(5000), enq, count, route)
            n += 1
            seen.append(row)
            rows.append(row)
        files.append(rows)
    return files


# ---------------------------------------------------------------------------
# etl_cycle: which shard each round fetches, which cities categorize reads
# ---------------------------------------------------------------------------


class ZipfKeys:
    """Zipf(``s``)-skewed draws over ``n`` keys; the popularity order is a
    seeded permutation, so the hot keys differ per seed."""

    def __init__(self, seed: int, n: int, s: float = 1.1):
        rng = _rng(seed, "zipf")
        self.keys = list(range(n))
        rng.shuffle(self.keys)
        acc, self.cdf = 0.0, []
        for rank in range(1, n + 1):
            acc += 1.0 / rank**s
            self.cdf.append(acc)

    def draw(self, rng: random.Random) -> int:
        i = bisect.bisect_left(self.cdf, rng.random() * self.cdf[-1])
        return self.keys[min(i, len(self.keys) - 1)]


def etl_rounds(seed: int, n_cities: int, shard: int, lookups: int):
    """Endless seeded plan of pipeline rounds: ``(first, cities)`` — the
    first city of the ``shard`` consecutive cities the round fetches, and
    the ``lookups`` Zipf-drawn cities whose windows categorize reads
    back."""
    rng = _rng(seed, "rounds")
    zipf = ZipfKeys(seed, n_cities)
    while True:
        first = rng.randrange(0, n_cities - shard + 1)
        yield first, [zipf.draw(rng) for _ in range(lookups)]


# ---------------------------------------------------------------------------
# query_mix: the TPC-H-ish star schema + events / documents / embeddings
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]


def analytic_tables(seed: int, scale: float) -> dict[str, dict[str, list]]:
    """Column dicts of every table the query mix reads, shaped like the
    sf-scaled test data (``scale=0.01`` gives 60k lineitems)."""
    rng = _rng(seed, "tables")
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_events, n_docs, n_vecs = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    day0 = dt.datetime(1995, 1, 1)

    t: dict[str, dict[str, list]] = {}
    t["region"] = {
        "r_regionkey": list(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }
    t["customer"] = {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)],
    }
    t["part"] = {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{rng.choice(_VOCAB)} {rng.choice(_VOCAB)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [
            rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
            for _ in range(n_part)
        ],
        "p_size": [rng.randint(1, 50) for _ in range(n_part)],
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n_part)],
    }
    odates = [day0 + dt.timedelta(days=rng.randrange(2404)) for _ in range(n_ord)]
    t["orders"] = {
        "o_orderkey": list(range(n_ord)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_ord)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1000, 500_000), 2) for _ in range(n_ord)],
        "o_orderdate": odates,
        "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(n_ord)],
    }
    li: dict[str, list] = {
        k: []
        for k in (
            "l_orderkey l_partkey l_suppkey l_linenumber l_quantity "
            "l_extendedprice l_discount l_tax l_returnflag l_linestatus "
            "l_shipdate"
        ).split()
    }
    for _ in range(4 * n_ord):
        o = rng.randrange(n_ord)
        qty = float(rng.randint(1, 50))
        li["l_orderkey"].append(o)
        li["l_partkey"].append(rng.randrange(n_part))
        li["l_suppkey"].append(rng.randrange(n_supp))
        li["l_linenumber"].append(rng.randint(1, 7))
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("FO"))
        li["l_shipdate"].append(odates[o] + dt.timedelta(days=rng.randint(1, 121)))
    t["lineitem"] = li

    ev0 = dt.datetime(2024, 1, 1)
    n_users = max(10, int(15_000 * scale))
    ev_ts = sorted(
        ev0 + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
        for _ in range(n_events)
    )
    t["events"] = {
        "event_id": list(range(n_events)),
        "ts": ev_ts,
        "user_id": [rng.randrange(n_users) for _ in range(n_events)],
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rng.uniform(0.01, 490.0), 2) for _ in range(n_events)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)],
    }

    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < DOC_NEAR_DUP:  # one word of an earlier doc changed
            words = rng.choice(texts).split()
            j = rng.randrange(len(words))
            words[j] = rng.choice([w for w in _VOCAB if w != words[j]])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(25, 80))))
    t["documents"] = {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": [len(x) for x in texts],
    }

    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n_vecs):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 0.6) for c in centers[lab]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(lab)
    t["embeddings"] = {"vec_id": list(range(n_vecs)), "embedding": vecs, "label": labels}
    return t
