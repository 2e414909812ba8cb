"""Seeded input generator for the benchmark.

Everything a workload feeds the program comes from here: the city list,
the preloaded hourly history, the hourly extract batches (Open-Meteo
payload dicts), the dashboard query parameters, the query order and the
star-schema corpus the declared query rows read. The same seed always
gives the same inputs. This module imports nothing from the program.
"""

from __future__ import annotations

import datetime as dt
import os
import random

MEASURES = ("temperature_2m", "precipitation", "wind_speed_10m")

#: First hour of the preloaded history (UTC, naive = UTC by convention).
HISTORY_START = dt.datetime(2024, 1, 1)

_SYLLABLES = ("ka", "lo", "mi", "ra", "te", "no", "vi", "su", "da", "pe", "zo", "bu")
_TIMEZONES = ("Europe/Berlin", "Europe/Warsaw", "America/New_York", "Asia/Tokyo", "UTC")


class WeatherInputs:
    """Cities, history and hourly batches for the two ingest workloads.

    Batch ``k`` (0-based) is the extract of hour ``now = end + k``: every
    city sends the ``lookback`` hours ending at ``now``, so all but one
    hour per city re-upsert values an earlier batch (or the history)
    already wrote — the reference's sliding re-fetch window.
    """

    def __init__(self, seed: int, n_cities: int, history_days: int, lookback: int = 6):
        self.seed = seed
        self.lookback = lookback
        rng = random.Random(seed * 7919 + 1)
        self.cities = []
        for i in range(n_cities):
            name = "".join(rng.choice(_SYLLABLES) for _ in range(3)) + f"_{i:02d}"
            self.cities.append(
                {
                    "city": name,
                    "latitude": round(rng.uniform(-60, 70), 2),
                    "longitude": round(rng.uniform(-170, 170), 2),
                    "timezone": rng.choice(_TIMEZONES),
                    "base_temp": rng.uniform(-10, 25),
                }
            )
        self.history_hours = history_days * 24
        self.end = HISTORY_START + dt.timedelta(hours=self.history_hours)

    def _values(self, city: dict, hour: dt.datetime, version: int) -> tuple:
        """Measures of one (city, hour) as written by write ``version``
        (0 = history, k+1 = batch k). Deterministic in (seed, city, hour,
        version); about 1 % of values are null, as in real extracts."""
        rng = random.Random(f"{self.seed}|{city['city']}|{hour.isoformat()}|{version}")
        out = []
        for lo, hi, base in ((-15.0, 15.0, city["base_temp"]), (0.0, 12.0, 0.0), (0.0, 60.0, 0.0)):
            if rng.random() < 0.01:
                out.append(None)
            else:
                v = base + rng.uniform(lo, hi) if base else rng.uniform(lo, hi)
                out.append(round(v, 1))
        return tuple(out)

    def history_rows(self) -> list[tuple]:
        """Silver-shaped rows (city, timestamp, t, p, w, _ingested_at) of the
        preloaded history, all ingested at the end of the history."""
        rows = []
        for c in self.cities:
            for h in range(self.history_hours):
                ts = HISTORY_START + dt.timedelta(hours=h)
                rows.append((c["city"], ts, *self._values(c, ts, 0), self.end))
        return rows

    def write_history(self, path: str) -> str:
        """The history as one parquet file (silver schema, UTC instants)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = list(zip(*self.history_rows()))
        ts = pa.timestamp("us", tz="UTC")
        table = pa.table(
            {
                "city": pa.array(cols[0], pa.string()),
                "timestamp": pa.array(cols[1], ts),
                **{m: pa.array(cols[2 + i], pa.float64()) for i, m in enumerate(MEASURES)},
                "_ingested_at": pa.array(cols[5], ts),
            }
        )
        pq.write_table(table, path)
        return path

    def _payload(self, city: dict, hours: list[dt.datetime], version: int) -> dict:
        vals = [self._values(city, h, version) for h in hours]
        hourly = {"time": [h.strftime("%Y-%m-%dT%H:%M") for h in hours]}
        for i, m in enumerate(MEASURES):
            hourly[m] = [v[i] for v in vals]
        return {
            "latitude": city["latitude"],
            "longitude": city["longitude"],
            "timezone": city["timezone"],
            "hourly": hourly,
        }

    def batch_now(self, k: int) -> dt.datetime:
        return self.end + dt.timedelta(hours=k)

    def batch_ingested_at(self, k: int) -> dt.datetime:
        """Ingest time of batch ``k``: five minutes after its hour, so it
        is later than every earlier write of the hours it re-sends (the
        history was ingested at ``end``)."""
        return self.batch_now(k) + dt.timedelta(minutes=5)

    def batch_hours(self, k: int) -> list[dt.datetime]:
        now = self.batch_now(k)
        return [now - dt.timedelta(hours=i) for i in range(self.lookback - 1, -1, -1)]

    def batch_payloads(self, k: int) -> list[tuple[str, dict]]:
        """(city, Open-Meteo payload) pairs of batch ``k``."""
        hours = self.batch_hours(k)
        return [(c["city"], self._payload(c, hours, k + 1)) for c in self.cities]

    def batch_rows(self) -> int:
        return len(self.cities) * self.lookback

    def expected_silver(self, n_batches: int) -> dict[tuple, tuple]:
        """(city, timestamp) -> (t, p, w, _ingested_at) after the history
        and batches ``0 .. n_batches-1``, last write winning."""
        exp = {}
        for r in self.history_rows():
            exp[(r[0], r[1])] = r[2:]
        for k in range(n_batches):
            at = self.batch_ingested_at(k)
            for c in self.cities:
                for h in self.batch_hours(k):
                    exp[(c["city"], h)] = (*self._values(c, h, k + 1), at)
        return exp


def expected_gold(silver: dict[tuple, tuple]) -> dict[tuple, tuple]:
    """(city, day) -> three null-ignoring averages: the daily mart computed
    independently of the program."""
    acc: dict[tuple, list] = {}
    for (city, ts), vals in silver.items():
        day = dt.datetime(ts.year, ts.month, ts.day)
        a = acc.setdefault((city, day), [[0.0, 0] for _ in MEASURES])
        for i in range(len(MEASURES)):
            if vals[i] is not None:
                a[i][0] += vals[i]
                a[i][1] += 1
    return {k: tuple(s / n if n else None for s, n in a) for k, a in acc.items()}


# --- dashboard parameters ---------------------------------------------------

#: Dashboard SQL over the weather views. ``{city}``, ``{lo}`` and ``{hi}``
#: are filled from the seeded parameters; every statement is read-only.
DASHBOARD_SQL = {
    "dash_city_daily": (
        "SELECT day, temperature_2m, precipitation, wind_speed_10m FROM fct_city_day "
        "WHERE city = '{city}' AND day >= TIMESTAMP '{lo}' AND day < TIMESTAMP '{hi}' ORDER BY day"
    ),
    "dash_city_rank": (
        "SELECT city, avg(temperature_2m) AS t, sum(precipitation) AS p, "
        "rank() OVER (ORDER BY avg(temperature_2m) DESC) AS r FROM fct_city_day "
        "WHERE day >= TIMESTAMP '{lo}' AND day < TIMESTAMP '{hi}' GROUP BY city"
    ),
    "dash_hourly_window": (
        "SELECT city, timestamp, temperature_2m, avg(temperature_2m) OVER "
        "(PARTITION BY city ORDER BY timestamp ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS t24 "
        "FROM stg_weather_hourly WHERE city = '{city}' "
        "AND timestamp >= TIMESTAMP '{lo}' AND timestamp < TIMESTAMP '{hi}'"
    ),
    "dash_extremes": (
        "SELECT city, date_trunc('day', timestamp) AS day, max(wind_speed_10m) AS wmax, "
        "min(temperature_2m) AS tmin, max(temperature_2m) AS tmax FROM stg_weather_hourly "
        "WHERE timestamp >= TIMESTAMP '{lo}' AND timestamp < TIMESTAMP '{hi}' "
        "GROUP BY city, date_trunc('day', timestamp) HAVING max(wind_speed_10m) > 50"
    ),
}


def dashboard_params(seed: int, cities: list[str], history_days: int, n: int) -> list[dict]:
    """``n`` seeded (city, [lo, hi)) windows inside the preloaded history."""
    rng = random.Random(seed * 104729 + 3)
    out = []
    for _ in range(n):
        span = rng.randint(3, max(3, min(30, history_days - 1)))
        start = rng.randint(0, max(0, history_days - span))
        lo = HISTORY_START + dt.timedelta(days=start)
        hi = lo + dt.timedelta(days=span)
        out.append(
            {
                "city": rng.choice(cities),
                "lo": lo.strftime("%Y-%m-%d %H:%M:%S"),
                "hi": hi.strftime("%Y-%m-%d %H:%M:%S"),
            }
        )
    return out


def _ts(s: str) -> dt.datetime:
    return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


def _avg(xs):
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else None


def _agg(fn, xs):
    xs = [x for x in xs if x is not None]
    return fn(xs) if xs else None


def dashboard_oracle(name: str, p: dict, silver: dict, gold: dict) -> list[tuple]:
    """Expected rows of dashboard request ``name`` with parameters ``p``,
    computed in Python from the generator's silver and gold."""
    lo, hi = _ts(p["lo"]), _ts(p["hi"])
    if name == "dash_city_daily":
        return sorted((d, *v) for (c, d), v in gold.items() if c == p["city"] and lo <= d < hi)
    if name == "dash_city_rank":
        by_city: dict[str, list] = {}
        for (c, d), v in gold.items():
            if lo <= d < hi:
                by_city.setdefault(c, []).append(v)
        stats = [(c, _avg(v[0] for v in vs), _agg(sum, (v[1] for v in vs))) for c, vs in by_city.items()]
        temps = [t for _, t, _ in stats if t is not None]
        return [(c, t, pr, 1 + sum(x > t for x in temps) if t is not None else len(temps) + 1)
                for c, t, pr in stats]
    if name == "dash_hourly_window":
        hours = sorted((ts, v[0]) for (c, ts), v in silver.items() if c == p["city"] and lo <= ts < hi)
        return [(p["city"], ts, t, _avg(x for _, x in hours[max(0, i - 23): i + 1]))
                for i, (ts, t) in enumerate(hours)]
    if name == "dash_extremes":
        groups: dict[tuple, list] = {}
        for (c, ts), v in silver.items():
            if lo <= ts < hi:
                groups.setdefault((c, dt.datetime(ts.year, ts.month, ts.day)), []).append(v)
        out = []
        for (c, d), vs in groups.items():
            wmax = _agg(max, (v[2] for v in vs))
            if wmax is not None and wmax > 50:
                out.append((c, d, wmax, _agg(min, (v[0] for v in vs)), _agg(max, (v[0] for v in vs))))
        return out
    raise KeyError(name)


def request_sequence(seed: int, names: list[str], passes: int) -> list[str]:
    """``passes`` rounds over ``names``, each round in its own seeded order
    (every name appears once per round, so a median over whole rounds
    weighs every request alike)."""
    rng = random.Random(seed * 15485863 + 5)
    seq = []
    for _ in range(passes):
        rnd = list(names)
        rng.shuffle(rnd)
        seq.extend(rnd)
    return seq


# --- star-schema corpus -----------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector line "
    "table data agg value key stream window a spark part group big sort query fast the"
).split()
_PART_WORDS = ("blue", "cold", "small", "red", "big", "green", "hot", "dark")
_PART_NOUNS = ("widget", "anvil", "gear", "bolt", "spring", "valve", "lever", "pipe")


def write_star_schema(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the ten synthetic tables the declared queries read (the same
    schemas as the repo's test data: a TPC-H-like star, an ``events``
    stream, a text corpus and an embeddings table) as one parquet file
    each. ``scale`` 0.001 gives 6 000 lineitem rows. Returns rows per
    table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_line = max(2000, int(6_000_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(200, int(50_000 * scale))
    n_vec = max(200, int(20_000 * scale))
    ts_us = pa.timestamp("us")
    day_us = 86_400_000_000
    epoch95 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(range(n_part), pa.int64()),
                "p_name": [
                    f"{_PART_WORDS[a]} {_PART_NOUNS[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(range(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000.0, 500000.0, n_ord),
                "o_orderdate": pa.array(epoch95 + rng.integers(0, 2400, n_ord) * day_us, ts_us),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
                "l_extendedprice": money(900.0, 105000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": pa.array(epoch95 + rng.integers(0, 2500, n_line) * day_us, ts_us),
            }
        ),
        "events": _events(rng, n_ev, max(20, n_cust // 10), ts_us),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_vec),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _events(rng, n: int, n_users: int, ts_us):
    import numpy as np
    import pyarrow as pa

    start = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = start + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, ts_us),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n),
            "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int):
    """Random-word documents over a 30-word vocabulary; one in twenty is a
    near-duplicate of an earlier document with ``dup`` appended, so the
    dedup operators have work to find."""
    import pyarrow as pa

    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(["en", "de", "fr", "es", "zh"], n),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10):
    """Unit vectors around ten label centroids."""
    import numpy as np
    import pyarrow as pa

    centroids = rng.normal(0.0, 0.02, (n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centroids[labels] + rng.normal(0.0, 0.125, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
