"""The benchmark's three workloads.

Each workload is a closed loop with one client: ``prepare(i)`` generates
request ``i`` (untimed), ``run(item)`` hands it to the program and
returns once the user-visible result exists (timed). ``setup()`` is the
preload and warm-up, ``final_checks()`` the end-of-run correctness
checks. See NOTES.md for why each workload exists.
"""

from __future__ import annotations

import math
import os
import sys
import time
from contextlib import contextmanager

from perfbench import gen

#: Sizes per scale. ``full`` is what the benchmark measures; ``tiny`` is
#: the smoke-test size of perfbench/tests.
SCALES = {
    "full": {"cities": 16, "history_days": 30, "star_scale": 0.001},
    "tiny": {"cities": 3, "history_days": 3, "star_scale": 0.0002},
}

#: Hours each city resends per batch (the reference's sliding window).
LOOKBACK = 6

#: ``versioned_upsert`` runs ``vt_maintain`` on every this-many-th commit.
MAINTAIN_EVERY = 3

#: Declared query rows of the dashboard-style families of ``query_mix``:
#: read-only rows of relational/joins/windows/timeseries/advanced/
#: sketches/dq (rows that write files — versioned, streaming, upsert,
#: JDBC — are out).
DASHBOARD_PLAN_ROWS = (
    "q_percentile",  # relational
    "q_broadcast_join",  # joins
    "q_window_rank",  # windows
    "q_gap_detect",  # timeseries
    "q_tpch_q1",  # advanced
    "q_sketch_rollup",  # sketches
    "q_dq_bounds",  # dq
)

#: Declared query rows of the corpus-preparation families of
#: ``query_mix``: llm/text/similarity/multimodal, one cheap row each (the
#: eager iterative rows cost several seconds apiece on a cold JVM).
CORPUS_PLAN_ROWS = (
    "q_pii_scrub",  # llm
    "q_text_stats",  # text
    "q_ann_cosine",  # similarity
    "q_multimodal_frames",  # multimodal
)

PLAN_MODULES = (
    "relational", "joins", "windows", "timeseries", "advanced", "sketches", "dq",
    "llm", "text", "similarity", "multimodal",
)


class CheckFailed(AssertionError):
    """A correctness check of the benchmark did not hold."""


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _row_key(row: tuple) -> tuple:
    return tuple(f"{x:.6f}" if isinstance(x, float) else str(x) for x in row)


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def history_df(spark, inputs: gen.WeatherInputs, work: str):
    """The seeded history as a DataFrame over a generated parquet file."""
    return spark.read.parquet(inputs.write_history(os.path.join(work, "history.parquet")))


def preload_weather(spark, inputs: gen.WeatherInputs, work: str) -> tuple[str, str]:
    """Silver and gold under ``work`` from the seeded history, through the
    same ``merge_upsert`` and gold refresh the hourly batches take.
    Returns (silver, gold)."""
    from endtoend_etl_openmeteo_spark import pipeline

    silver, gold = os.path.join(work, "silver"), os.path.join(work, "gold")
    hist = history_df(spark, inputs, work)
    pipeline.merge_upsert(
        spark, hist, silver, keys=["city", "timestamp"],
        order_col="_ingested_at", partition_cols=["city"],
    )
    pipeline.refresh_gold_incremental(spark, hist, spark.read.parquet(silver), gold)
    return silver, gold


class Workload:
    """One workload bound to a session, its hermetic work directory, the
    seed and the sizes of one scale."""

    unit, units = "op", "ops"
    #: per-layer metrics the traced run of this workload must report; one
    #: without samples (an entry point no longer called the way it is
    #: wrapped) fails the run's trace check
    layers: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, scale: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.setup_parts: dict[str, float] = {}

    @contextmanager
    def part(self, name: str):
        """Time one step of the set-up (reported beside setup_s)."""
        t = time.perf_counter()
        yield
        self.setup_parts[name] = time.perf_counter() - t

    def setup(self) -> None: ...

    def prepare(self, i: int): ...

    def run(self, item) -> None: ...

    def at_boundary(self, i: int) -> bool:
        """Whether the loop may stop after ``i`` requests."""
        return True

    def final_checks(self) -> list[str]:
        return []

    def stored(self) -> tuple[int, int]:
        """(on-disk bytes, rows) of the tables the workload reads or keeps."""
        raise NotImplementedError

    def install_trace(self, rec) -> None: ...

    def layer_metrics(self, rec) -> dict[str, list[float]]:
        """Per-layer samples (one per batch or query) from the spans."""
        return {}


# --- ingest -----------------------------------------------------------------


class _WeatherBase(Workload):
    unit, units = "batch", "batches"
    #: untimed batches at the end of set-up, through the same path as
    #: every timed batch: the JVM compiles the batch path while they run
    warm_up_batches = 1
    #: the loop stops only after whole groups of this many batches, so
    #: every run's sample holds the same kinds of batch
    unit_batches: int

    def __init__(self, *args):
        super().__init__(*args)
        s = self.scale
        self.inputs = gen.WeatherInputs(self.seed, s["cities"], s["history_days"], LOOKBACK)
        self.batches_done = 0

    def rows_per_op(self) -> int:
        return self.inputs.batch_rows()

    def _warm_up(self) -> None:
        with self.part("warm_up"):
            for k in range(self.warm_up_batches):
                self.run(self._batch(k))

    def _batch(self, k: int):
        return k, self.inputs.batch_payloads(k), self.inputs.batch_ingested_at(k)

    def prepare(self, i: int):
        return self._batch(i + self.warm_up_batches)

    def at_boundary(self, i: int) -> bool:
        return i % self.unit_batches == 0

    def _check_silver(self, rows) -> list[str]:
        """Exactly one row per (city, hour), each carrying the generator's
        last-written values."""
        exp = self.inputs.expected_silver(self.batches_done + 1)
        got = {}
        dups = 0
        for r in rows:
            key = (r["city"], r["timestamp"])
            dups += key in got
            got[key] = (r["temperature_2m"], r["precipitation"], r["wind_speed_10m"], r["_ingested_at"])
        errs = []
        if dups:
            errs.append(f"{dups} duplicate (city, timestamp) rows")
        if got.keys() != exp.keys():
            errs.append(f"key sets differ: {len(got.keys() - exp.keys())} extra, {len(exp.keys() - got.keys())} missing")
        bad = [k for k in exp.keys() & got.keys() if got[k] != exp[k]]
        if bad:
            errs.append(f"{len(bad)} rows with stale values, e.g. {bad[0]}: {got[bad[0]]} != {exp[bad[0]]}")
        self._expected_silver = exp
        return errs

    def _check_gold(self, rows) -> list[str]:
        exp = gen.expected_gold(self._expected_silver)
        got = {
            (r["city"], r["day"]): (r["temperature_2m"], r["precipitation"], r["wind_speed_10m"])
            for r in rows
        }
        if len(rows) != len(got) or got.keys() != exp.keys():
            return [f"gold has {len(rows)} rows / {len(got)} keys, expected {len(exp)}"]
        bad = [k for k in exp if not all(_close(a, b) for a, b in zip(got[k], exp[k]))]
        return [f"{len(bad)} gold rows differ from fct_city_day(silver), e.g. {bad[0]}"] if bad else []


class HourlyIngest(_WeatherBase):
    """Hourly ELT: payloads → bronze → DQ → merge into silver → gold."""

    # In a fresh process the CPU seconds of a batch fall from about 12 to 9
    # over the first three batches while the JIT compiles the batch path;
    # after that the batches of one run agree within a few percent.
    warm_up_batches = 3
    unit_batches = 2

    layers = (
        "sources.http.payloads_to_df_s", "sources.bronze.write_s",
        "operators.dq.gate_s", "operators.dq.jobs",
        "operators.merge.upsert_s", "operators.merge.jobs", "operators.merge.tasks",
        "operators.merge.cpu_util", "operators.merge.bytes_written_per_row",
        "operators.merge.files_written",
        "pipeline.gold_refresh_s", "pipeline.run_elt.self_s",
    )

    def setup(self) -> None:
        self.bronze_root = os.path.join(self.work, "bronze")
        with self.part("preload"):
            self.silver, self.gold = preload_weather(self.spark, self.inputs, self.work)
        self._warm_up()

    def run(self, item) -> None:
        from pyspark.sql import functions as F

        from endtoend_etl_openmeteo_spark import pipeline
        from endtoend_etl_openmeteo_spark.sources import bronze, http

        k, payloads, ingested_at = item
        raw = http.payloads_to_df(self.spark, payloads)
        path = os.path.join(self.bronze_root, f"batch_{k:05d}")
        bronze.write_bronze(raw, path)
        pipeline.run_elt(
            self.spark, path, self.silver, gold_path=self.gold,
            ingested_at=F.lit(ingested_at),
        )
        self.batches_done = k

    def final_checks(self) -> list[str]:
        errs = self._check_silver(self.spark.read.parquet(self.silver).collect())
        return errs + self._check_gold(self.spark.read.parquet(self.gold).collect())

    def stored(self) -> tuple[int, int]:
        rows = self.spark.read.parquet(self.silver).count()
        return dir_bytes(self.silver) + dir_bytes(self.gold), rows

    def install_trace(self, rec) -> None:
        from endtoend_etl_openmeteo_spark import pipeline
        from endtoend_etl_openmeteo_spark.sources import bronze, http

        from perfbench.spans import tree_files, written

        def merge_counters(r, before, result):
            r["bytes_written"], r["files_written"] = written(before, tree_files(self.silver))
            r["rows_in"] = self.rows_per_op()

        rec.patch(http, "payloads_to_df", "sources.http.payloads_to_df")
        rec.patch(bronze, "write_bronze", "sources.bronze.write")
        rec.patch(pipeline, "run_elt", "pipeline.run_elt")
        rec.patch(pipeline, "dq_gate", "operators.dq.gate")
        rec.patch(pipeline, "refresh_gold_incremental", "pipeline.gold_refresh")
        rec.patch(
            pipeline, "merge_upsert", "operators.merge.upsert",
            before=lambda: tree_files(self.silver), after=merge_counters,
        )

    def layer_metrics(self, rec) -> dict[str, list[float]]:
        m = _durations(rec, {
            "sources.http.payloads_to_df": "sources.http.payloads_to_df_s",
            "sources.bronze.write": "sources.bronze.write_s",
            "operators.dq.gate": "operators.dq.gate_s",
            "operators.merge.upsert": "operators.merge.upsert_s",
            "pipeline.gold_refresh": "pipeline.gold_refresh_s",
        })
        m["operators.dq.jobs"] = [rec.inclusive(s, "jobs") for s in rec.named("operators.dq.gate")]
        merges = rec.named("operators.merge.upsert")
        m["operators.merge.jobs"] = [rec.inclusive(s, "jobs") for s in merges]
        m["operators.merge.tasks"] = [rec.inclusive(s, "tasks") for s in merges]
        m["operators.merge.cpu_util"] = [s["cpu_util"] for s in merges]
        m["operators.merge.bytes_written_per_row"] = [s["bytes_written"] / s["rows_in"] for s in merges]
        m["operators.merge.files_written"] = [s["files_written"] for s in merges]
        m["pipeline.run_elt.self_s"] = [rec.self_time(s) for s in rec.named("pipeline.run_elt")]
        return m


class VersionedUpsert(_WeatherBase):
    """The same history and batches through the manifest-versioned table:
    merge-on-read commit, snapshot mart read, periodic maintenance."""

    KEYS = ["timestamp", "city"]
    # one maintenance tick per group of batches
    unit_batches = MAINTAIN_EVERY
    layers = (
        "sources.http.payloads_to_df_s",
        "operators.versioned.merge_mor_s", "operators.versioned.rows_superseded",
        "operators.versioned.files_touched", "operators.versioned.bytes_written_per_row",
        "operators.versioned.snapshot_read_s", "operators.versioned.maintain_s",
        "operators.versioned.bytes_rewritten", "operators.versioned.manifest_bytes",
    )

    def setup(self) -> None:
        from endtoend_etl_openmeteo_spark.operators import versioned

        self.table = os.path.join(self.work, "weather_vt")
        with self.part("preload"):
            versioned.vt_init(self.spark, self.table)
            versioned.vt_append(
                self.spark, history_df(self.spark, self.inputs, self.work), self.table,
                stats_cols=["timestamp"],
            )
        self._warm_up()

    def run(self, item) -> None:
        from pyspark.sql import functions as F

        from endtoend_etl_openmeteo_spark import pipeline
        from endtoend_etl_openmeteo_spark.operators import explode, versioned
        from endtoend_etl_openmeteo_spark.sources import http

        k, payloads, ingested_at = item
        raw = http.payloads_to_df(self.spark, payloads)
        hourly = explode.unzip_hourly(raw, ingested_at=F.lit(ingested_at))
        versioned.vt_merge_mor(
            self.spark, hourly, self.table, keys=self.KEYS,
            order_col="_ingested_at", stats_cols=["timestamp"],
        )
        if k % MAINTAIN_EVERY == 0:
            versioned.vt_maintain(self.spark, self.table)
        self._read_mart(pipeline, versioned)
        self.batches_done = k

    def _read_mart(self, pipeline, versioned):
        return pipeline.fct_city_day(versioned.vt_read(self.spark, self.table)).collect()

    def final_checks(self) -> list[str]:
        from endtoend_etl_openmeteo_spark import pipeline
        from endtoend_etl_openmeteo_spark.operators import versioned

        snapshot = versioned.vt_read(self.spark, self.table)
        errs = self._check_silver(snapshot.collect())
        return errs + self._check_gold(pipeline.fct_city_day(snapshot).collect())

    def stored(self) -> tuple[int, int]:
        from endtoend_etl_openmeteo_spark.operators import versioned

        return dir_bytes(self.table), versioned.vt_read(self.spark, self.table).count()

    def install_trace(self, rec) -> None:
        from endtoend_etl_openmeteo_spark.operators import versioned
        from endtoend_etl_openmeteo_spark.sources import http

        from perfbench.spans import tree_files, written

        walk = lambda: tree_files(self.table)  # noqa: E731

        def merge_counters(r, before, result):
            _, r["files_touched"], r["rows_superseded"] = result
            r["bytes_written"] = written(before, walk())[0]
            r["rows_in"] = self.rows_per_op()

        def maintain_counters(r, before, result):
            r["bytes_rewritten"] = written(before, walk())[0]
            r["manifest_bytes"] = dir_bytes(os.path.join(self.table, "_manifests"))

        rec.patch(http, "payloads_to_df", "sources.http.payloads_to_df")
        rec.patch(versioned, "vt_merge_mor", "operators.versioned.vt_merge_mor",
                  before=walk, after=merge_counters)
        rec.patch(versioned, "vt_maintain", "operators.versioned.vt_maintain",
                  before=walk, after=maintain_counters)
        orig_read = self._read_mart

        def read_mart(pipeline, versioned_mod):
            with rec.span("operators.versioned.snapshot_read"):
                return orig_read(pipeline, versioned_mod)

        self._read_mart = read_mart

    def layer_metrics(self, rec) -> dict[str, list[float]]:
        merges = rec.named("operators.versioned.vt_merge_mor")
        ticks = rec.named("operators.versioned.vt_maintain")
        m = _durations(rec, {
            "sources.http.payloads_to_df": "sources.http.payloads_to_df_s",
            "operators.versioned.vt_merge_mor": "operators.versioned.merge_mor_s",
            "operators.versioned.snapshot_read": "operators.versioned.snapshot_read_s",
            "operators.versioned.vt_maintain": "operators.versioned.maintain_s",
        })
        m["operators.versioned.rows_superseded"] = [s["rows_superseded"] for s in merges]
        m["operators.versioned.files_touched"] = [s["files_touched"] for s in merges]
        m["operators.versioned.bytes_written_per_row"] = [s["bytes_written"] / s["rows_in"] for s in merges]
        m["operators.versioned.bytes_rewritten"] = [s["bytes_rewritten"] for s in ticks]
        m["operators.versioned.manifest_bytes"] = [s["manifest_bytes"] for s in ticks]
        return m


def _durations(rec, names: dict[str, str]) -> dict[str, list[float]]:
    return {
        metric: [s["end"] - s["start"] for s in rec.named(span)]
        for span, metric in names.items()
    }


# --- queries ----------------------------------------------------------------


class QueryMix(Workload):
    """Read-only request traffic: dashboard SQL over the weather mart
    (built in set-up through the hourly-ingest path) and declared query
    rows over a generated star-schema corpus, in seeded shuffled passes.
    Each request is planned and run to a noop sink with its row count
    observed."""

    unit, units = "query", "queries"
    ROWS = DASHBOARD_PLAN_ROWS + CORPUS_PLAN_ROWS
    layers = ("sql.weather.plan_s", "sql.weather.exec_s") + tuple(
        f"plans.{mod}.{k}"
        for mod in PLAN_MODULES
        for k in ("build_s", "plan_s", "exec_s", "jobs", "tasks", "cpu_util")
    )

    def setup(self) -> None:
        from endtoend_etl_openmeteo_spark import plans, sql

        s, work = self.scale, self.work
        self.inputs = gen.WeatherInputs(self.seed, s["cities"], s["history_days"], LOOKBACK)
        self.sf_dir = os.path.join(work, "star")
        with self.part("preload"):
            self.silver, self.gold = preload_weather(self.spark, self.inputs, work)
            sql.register_weather_views(self.spark, self.silver, self.gold)
            gen.write_star_schema(self.sf_dir, s["star_scale"], seed=self.seed)
        registry = plans.load_all()
        self.fns = {name: registry[name].fn for name in self.ROWS}
        self.oracles = {name: registry[name].oracle for name in self.ROWS}
        self.module_of = {name: _plan_module(registry[name].fn) for name in self.ROWS}
        # half of every pass is dashboard SQL, each with its own seeded window
        self.params = gen.dashboard_params(
            self.seed, [c["city"] for c in self.inputs.cities], s["history_days"], len(self.ROWS)
        )
        names = sorted(gen.DASHBOARD_SQL)
        self.requests = [
            ("sql", names[j % len(names)], j) for j in range(len(self.ROWS))
        ] + [("plan", name, None) for name in self.ROWS]
        with self.part("warm_up"):
            self._warm_up()

    def _warm_up(self) -> None:
        """One pass over every request. Results are kept for the oracle
        comparison; their row counts are what every later pass must
        return."""
        from endtoend_etl_openmeteo_spark.session import release_persistent_rdds

        self.warm_results = {}
        self.expected_rows = {}
        for req in self.requests:
            t = time.perf_counter()
            df = self._build(req)
            rows = df.collect()
            self.setup_parts[f"warm_up {req[1]}"] = time.perf_counter() - t
            self.warm_results[req] = (df.columns, rows)
            self.expected_rows[req] = len(rows)
            release_persistent_rdds(self.spark)

    def oracle_checks(self) -> list[str]:
        """Oracle-backed rows against DuckDB over the same parquet
        (tools/check_oracle.compare), dashboard SQL against a Python
        oracle over the generator's tables; once, after the warm-up."""
        from tools import check_oracle

        errs = []
        con = check_oracle.duck_con(self.sf_dir)
        silver = self.inputs.expected_silver(0)
        gold = gen.expected_gold(silver)
        for req, (cols, rows) in self.warm_results.items():
            kind, name, param = req
            if kind == "plan" and self.oracles[name]:
                res = con.execute(self.oracles[name])
                problems = check_oracle.compare(
                    name, cols, [tuple(r) for r in rows],
                    [d[0] for d in res.description], res.fetchall(),
                )
                if problems:
                    errs.append(f"{name}: {problems[:2]}")
            elif kind == "sql":
                want = sorted(gen.dashboard_oracle(name, self.params[param], silver, gold), key=_row_key)
                got = sorted((tuple(r) for r in rows), key=_row_key)
                if len(got) != len(want) or not all(
                    all(_close(a, b) if isinstance(a, float) else a == b for a, b in zip(g, w))
                    for g, w in zip(got, want)
                ):
                    errs.append(f"{name} {self.params[param]}: rows differ from the Python oracle")
        con.close()
        return errs

    def prepare(self, i: int):
        n = len(self.requests)
        if i % n == 0:
            self._order = gen.request_sequence(self.seed + i, list(range(n)), 1)
        return self.requests[self._order[i % n]]

    def at_boundary(self, i: int) -> bool:
        """Stop only after whole passes, so every run's sample holds each
        request equally often."""
        return i % len(self.requests) == 0

    def _build(self, req):
        kind, name, param = req
        if kind == "sql":
            return self.spark.sql(gen.DASHBOARD_SQL[name].format(**self.params[param]))
        return self.fns[name](self.spark, self.sf_dir)

    def run(self, req) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from endtoend_etl_openmeteo_spark.session import release_persistent_rdds

        df = self._build(req)
        obs = Observation()
        self._execute(req, df.observe(obs, F.count(F.lit(1)).alias("n")))
        n = obs.get["n"]
        release_persistent_rdds(self.spark)
        if n != self.expected_rows[req]:
            raise CheckFailed(f"{req}: {n} rows, the warm-up pass had {self.expected_rows[req]}")

    def _execute(self, req, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def stored(self) -> tuple[int, int]:
        import pyarrow.parquet as pq

        tables = [os.path.join(self.sf_dir, f) for f in os.listdir(self.sf_dir)]
        rows = sum(pq.ParquetFile(t).metadata.num_rows for t in tables)
        rows += self.spark.read.parquet(self.silver).count()
        return dir_bytes(self.sf_dir) + dir_bytes(self.silver) + dir_bytes(self.gold), rows

    def _family(self, req) -> str:
        return "sql.weather" if req[0] == "sql" else f"plans.{self.module_of[req[1]]}"

    def install_trace(self, rec) -> None:
        for name, fn in list(self.fns.items()):
            self.fns[name] = rec.wrap(f"plans.{self.module_of[name]}.build", fn)
        plain = self._execute

        def execute(req, df):
            family = self._family(req)
            with rec.span(f"{family}.plan"):
                df._jdf.queryExecution().executedPlan()
            with rec.span(f"{family}.exec"):
                plain(req, df)

        self._execute = execute

    def layer_metrics(self, rec) -> dict[str, list[float]]:
        m = {}
        for k in ("plan", "exec"):
            m[f"sql.weather.{k}_s"] = [s["end"] - s["start"] for s in rec.named(f"sql.weather.{k}")]
        for mod in PLAN_MODULES:
            fam = f"plans.{mod}"
            spans = {k: rec.named(f"{fam}.{k}") for k in ("build", "plan", "exec")}
            for k, ss in spans.items():
                m[f"{fam}.{k}_s"] = [s["end"] - s["start"] for s in ss]
            # one query = its build, plan and exec spans, in that order
            per_q = list(zip(spans["build"], spans["plan"], spans["exec"]))
            m[f"{fam}.jobs"] = [sum(rec.inclusive(s, "jobs") for s in q) for q in per_q]
            m[f"{fam}.tasks"] = [sum(rec.inclusive(s, "tasks") for s in q) for q in per_q]
            m[f"{fam}.cpu_util"] = [
                sum(s["jvm_cpu_s"] for s in q) / (sum(s["end"] - s["start"] for s in q) * rec.nproc)
                for q in per_q
            ]
        return m


def _plan_module(fn) -> str:
    """The plans.* module whose query function ``fn`` wraps."""
    import importlib

    for mod in PLAN_MODULES:
        m = importlib.import_module(f"endtoend_etl_openmeteo_spark.plans.{mod}")
        orig = getattr(m, fn.__name__, None)
        if orig is not None and getattr(orig, "__module__", None) == m.__name__:
            return mod
    raise LookupError(f"no plans module defines {fn.__name__}")


WORKLOADS = {
    "hourly_ingest": HourlyIngest,
    "versioned_upsert": VersionedUpsert,
    "query_mix": QueryMix,
}

