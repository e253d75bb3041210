"""Independent DuckDB recomputations the benchmark checks results against."""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa

#: the trail-condition rules, restated in DuckDB SQL over accepted weather
#: facts ``facts(city_id, ts, temp, rain, src)`` and the anchor ``$anchor``.
#: Windowed sums run on integer-scaled values, as the engine's do, so the
#: threshold comparisons are exact in both engines.
CLASSIFY_SQL = """
WITH r AS (
  SELECT *, row_number() OVER (PARTITION BY city_id, src ORDER BY ts, rain) AS rn
  FROM facts
), f AS (
  SELECT *,
    src = 'FORECAST' AND rn <= 24 AS head24,
    src = 'HISTORICAL' AND ts >= $anchor - INTERVAL 2 DAY AS mud
  FROM r
), a AS (
  SELECT city_id,
    sum(CASE WHEN head24 THEN CAST(round(rain * 1e6) AS BIGINT) ELSE 0 END) / 1e6 AS rain24,
    sum(CASE WHEN mud THEN CAST(round(rain * 1e6) AS BIGINT) ELSE 0 END) / 1e6 AS recent,
    coalesce(bool_or(mud AND temp > 10.0), false) AS warm,
    sum(CASE WHEN head24 THEN CAST(round(temp * 1e6) AS BIGINT) ELSE 0 END) AS head_t,
    count(*) FILTER (WHERE head24) AS head_n,
    max(temp) FILTER (WHERE src = 'HISTORICAL') AS hist_max,
    max(temp) FILTER (WHERE src = 'FORECAST') AS fcst_max,
    min(temp) FILTER (WHERE head24) AS fmin,
    count(*) FILTER (WHERE src = 'HISTORICAL') AS hist_n,
    count(*) FILTER (WHERE src = 'FORECAST') AS fcst_n
  FROM f GROUP BY city_id
)
SELECT city_id, concat_ws(',',
  CASE WHEN recent >= 5.0 AND NOT warm THEN 'TRAIL_MUD_WARNING'
       WHEN recent < 5.0 AND rain24 < 5.0 THEN 'TRAIL_DRY_EXCELLENT' END,
  CASE WHEN fcst_max > 35.0 THEN 'HEAT_ADVISORY' END,
  CASE WHEN hist_n > 0 AND fcst_n > 0 THEN
    CASE WHEN hist_max > 0.0 AND fmin < 0.0 THEN 'SNOWPACK_ICY_CONDITIONS'
         WHEN hist_max > 5.0 AND fmin > 0.0 THEN 'SNOWPACK_HEAVY_WET' END END,
  CASE WHEN rain24 >= 10.0 THEN
    CASE WHEN (CASE WHEN head_n > 0 THEN head_t / 1e6 / head_n ELSE 0.0 END) < 0.0
         THEN 'HEAVY_SNOW_WARNING' ELSE 'TRAIL_CLOSED_HEAVY_RAIN' END END
) AS labels
FROM a
"""


def expected_labels(facts: list[tuple], anchor) -> dict[int, str]:
    """city_id -> label string for the accepted facts of one batch."""
    cols = list(zip(*facts))
    table = pa.table(
        {
            "city_id": pa.array(cols[0], pa.int32()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "temp": pa.array(cols[2], pa.float64()),
            "rain": pa.array(cols[3], pa.float64()),
            "src": pa.array(cols[4], pa.string()),
        }
    )
    con = duckdb.connect()
    try:
        con.register("facts", table)
        return dict(con.execute(CLASSIFY_SQL, {"anchor": anchor}).fetchall())
    finally:
        con.close()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Column-name-ordered, row-sorted form of a result, so Spark and
    DuckDB outputs compare regardless of column and row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        sorted(columns),
        sorted(tuple(_norm(r[i]) for i in order) for r in rows),
    )


def _last_digit(v: float) -> float:
    """One unit in the last decimal place of ``v`` as printed."""
    text = repr(v)
    if "e" in text or "." not in text:
        return 0.0
    return 10.0 ** -len(text.split(".")[1])


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        # a value rounded at a half-way tie may land on either neighbour:
        # one unit in the last place of the finer of the two
        return a == b or abs(a - b) <= min(_last_digit(a), _last_digit(b)) * 1.000001
    return a == b


def same(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> bool:
    """Canonical results equal, allowing a rounding tie in a float."""
    return (
        got[0] == want[0]
        and len(got[1]) == len(want[1])
        and all(
            len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
            for g, w in zip(got[1], want[1])
        )
    )


class QueryOracle:
    """DuckDB views over the generated tables, answering registry oracle SQL."""

    def __init__(self, table_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
            )

    def run(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return canonical([d[0] for d in res.description], res.fetchall())

    def close(self) -> None:
        self.con.close()
