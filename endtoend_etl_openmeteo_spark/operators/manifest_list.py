"""Manifest-list level for the versioned table format (operators/
versioned.py) — the Iceberg-style two-tier layout that keeps manifests
usable at 100-TB file counts.

With every entry inline in one vN.json, each commit re-serializes the
FULL list (O(#files) write amplification on a 1-row append) and each scan
deserializes it on the driver, pruning with Python loops. This module
adds the second tier:

- entries spill to immutable parquet MANIFEST FILES
  (``_manifests/m_<uuid>.parquet``, ~thousands of entries each), written
  driver-side via pyarrow (no Spark job per commit on a local/posix
  store; Spark fallback elsewhere);
- the vN.json becomes a MANIFEST LIST: refs ``{"ref", "n", "rows",
  "paths": [min,max], "nstats"/"sstats": {col: [lo,hi]}}`` — a commit
  that only adds files CARRIES the parent's refs verbatim and writes one
  new manifest file (O(batch), not O(table)); removal/modification
  rewrites only the refs whose path range intersects the dirty set;
- scan planning prunes in TWO stages: ref-level summary skipping on the
  driver (O(#refs)), then a SPARK FILTER over the surviving manifest
  files' entries frame — min/max range checks and bloom-sidecar probes
  both evaluated as Catalyst expressions, so entry-level pruning is
  distributed and only surviving (path, entry) rows ever reach the
  driver.

Entry rows carry the full entry JSON (lossless source of truth) plus
typed projections for pruning: numeric/string stats maps and the decoded
bloom sidecars (bitmaps as array<bigint> so a probe is shiftright + mask
inside codegen, no base64 in the hot path). Numeric bounds are widened
outward to the nearest double (``_num_down``/``_num_up``) so the typed
projection can never skip a file the exact JSON values would keep.
"""

from __future__ import annotations

import base64
import json
import math
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators.versioned import (
    _MANIFEST_DIR,
    _bloom_probe_kind,
    _fs,
    _local_path,
)

#: Entries per spilled manifest file. Small enough that a dirty rewrite
#: touches a bounded slice, large enough that a 10^6-file table needs
#: only ~250 refs in the manifest list.
_CHUNK = 4096


def _num_down(v: float) -> float:
    f = float(v)
    return f if f <= v else math.nextafter(f, -math.inf)


def _num_up(v: float) -> float:
    f = float(v)
    return f if f >= v else math.nextafter(f, math.inf)


def _bits_i64(b64s: str) -> list[int]:
    """b64 bitmap -> little-endian signed int64 words. Bit p of the bitmap
    (byte p>>3, bit p&7) is bit (p % 64) of word (p // 64) — the layout
    the Spark-side shiftright probe assumes."""
    raw = base64.b64decode(b64s)
    pad = (-len(raw)) % 8
    if pad:
        raw += b"\0" * pad
    return [
        int.from_bytes(raw[i : i + 8], "little", signed=True)
        for i in range(0, len(raw), 8)
    ]


def _entry_row(e: dict) -> dict:
    nstats, sstats = [], []
    for col, mm in (e.get("stats") or {}).items():
        if mm is None or mm[0] is None or mm[1] is None:
            continue
        lo, hi = mm
        if isinstance(lo, bool) or isinstance(hi, bool):
            continue
        if isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
            nstats.append((col, {"lo": _num_down(lo), "hi": _num_up(hi)}))
        elif isinstance(lo, str) and isinstance(hi, str):
            sstats.append((col, {"lo": lo, "hi": hi}))
    bloom = []
    for col, side in (e.get("bloom") or {}).items():
        bloom.append(
            (
                col,
                {
                    "m": int(side["m"]),
                    "k": int(side["k"]),
                    # legacy sidecars (pre-kind) -> None: the probe's kind
                    # equality fails against NULL, so they are kept, never
                    # skipped — same conservative rule as the driver path
                    "kind": side.get("kind"),
                    "bits": _bits_i64(side["b64"]),
                },
            )
        )
    return {
        "path": e["path"],
        "entry": json.dumps(e, sort_keys=True),
        "rows": int(e["rows"]) if "rows" in e else None,
        "nstats": nstats or None,
        "sstats": sstats or None,
        "bloom": bloom or None,
    }


def _arrow_schema():
    import pyarrow as pa

    nstat = pa.struct([("lo", pa.float64()), ("hi", pa.float64())])
    sstat = pa.struct([("lo", pa.string()), ("hi", pa.string())])
    bloom = pa.struct(
        [
            ("m", pa.int32()),
            ("k", pa.int32()),
            ("kind", pa.string()),
            ("bits", pa.list_(pa.int64())),
        ]
    )
    return pa.schema(
        [
            ("path", pa.string()),
            ("entry", pa.string()),
            ("rows", pa.int64()),
            ("nstats", pa.map_(pa.string(), nstat)),
            ("sstats", pa.map_(pa.string(), sstat)),
            ("bloom", pa.map_(pa.string(), bloom)),
        ]
    )


#: Spark-side schema of a manifest file — matches :func:`_arrow_schema`.
ENTRIES_DDL = (
    "path string, entry string, rows bigint, "
    "nstats map<string, struct<lo: double, hi: double>>, "
    "sstats map<string, struct<lo: string, hi: string>>, "
    "bloom map<string, struct<m: int, k: int, kind: string, bits: array<bigint>>>"
)


def _ref_summary(chunk: list[dict], rel: str) -> dict:
    nstats: dict[str, list[float]] = {}
    sstats: dict[str, list[str]] = {}
    #: columns some entry carries WITHOUT summarizable bounds — a NULL
    #: lo OR hi, a non-numeric/non-string value (bools, mixed types):
    #: exactly the inputs _entry_row projects to NULL, where the
    #: entry-level Catalyst prune conservatively KEEPS the entry. The
    #: ref summary must stay a superset of entry-level pruning, so any
    #: such column is unpublishable at ref level.
    incomplete: set[str] = set()
    for e in chunk:
        for col, mm in (e.get("stats") or {}).items():
            if mm is None or mm[0] is None or mm[1] is None:
                incomplete.add(col)
                continue
            lo, hi = mm
            num = (
                isinstance(lo, (int, float))
                and isinstance(hi, (int, float))
                and not isinstance(lo, bool)
                and not isinstance(hi, bool)
            )
            if num:
                cur = nstats.get(col)
                lo_d, hi_d = _num_down(lo), _num_up(hi)
                nstats[col] = (
                    [lo_d, hi_d]
                    if cur is None
                    else [min(cur[0], lo_d), max(cur[1], hi_d)]
                )
            elif isinstance(lo, str) and isinstance(hi, str):
                cur = sstats.get(col)
                sstats[col] = (
                    [lo, hi] if cur is None else [min(cur[0], lo), max(cur[1], hi)]
                )
            else:
                incomplete.add(col)
    # a column cannot prune at ref level when any entry lacks usable
    # bounds for it (absent column, NULL/typeless bounds) or when its
    # values mix numeric and string across entries (the summary of one
    # type says nothing about entries of the other): the uncovered
    # entry might match anything
    missing = [
        c
        for c in set(nstats) | set(sstats)
        if c in incomplete
        or (c in nstats and c in sstats)
        or any(c not in (e.get("stats") or {}) for e in chunk)
    ]
    for c in missing:
        nstats.pop(c, None)
        sstats.pop(c, None)
    rows = sum(e.get("rows", 0) for e in chunk if "rows" in e)
    has_all_rows = all("rows" in e for e in chunk)
    return {
        "ref": rel,
        "n": len(chunk),
        "rows": rows if has_all_rows else None,
        "paths": [chunk[0]["path"], chunk[-1]["path"]],
        "nstats": nstats,
        "sstats": sstats,
    }


def spill_entries(
    spark: SparkSession, table: str, entries: list[dict], chunk: int | None = None
) -> list[dict]:
    """Write ``entries`` as one or more immutable manifest parquet files
    under ``_manifests/`` and return their refs (with summaries). Sorted
    by path so each ref owns a contiguous path range — the dirty-rewrite
    intersection test in versioned._commit is a range check."""
    table = table.rstrip("/")
    chunk = chunk or _CHUNK
    entries = sorted(entries, key=lambda e: e["path"])
    refs = []
    for i in range(0, len(entries), chunk):
        part = entries[i : i + chunk]
        rel = f"{_MANIFEST_DIR}/m_{uuid.uuid4().hex}.parquet"
        _write_manifest_file(spark, table, rel, part)
        refs.append(_ref_summary(part, rel))
    return refs


def _write_manifest_file(
    spark: SparkSession, table: str, rel: str, entries: list[dict]
) -> None:
    rows = [_entry_row(e) for e in entries]
    local_root = _local_path(spark, table)
    if local_root is not None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = _arrow_schema()
        cols = {
            name: [r[name] for r in rows] for name in schema.names
        }
        tbl = pa.Table.from_pydict(cols, schema=schema)
        pq.write_table(tbl, f"{local_root}/{rel}")
    else:  # pragma: no cover - object-store fallback, exercised on clusters
        spark.createDataFrame(
            [
                (
                    r["path"],
                    r["entry"],
                    r["rows"],
                    dict(r["nstats"]) if r["nstats"] else None,
                    dict(r["sstats"]) if r["sstats"] else None,
                    dict(r["bloom"]) if r["bloom"] else None,
                )
                for r in rows
            ],
            ENTRIES_DDL,
        ).coalesce(1).write.mode("overwrite").parquet(f"{table}/{rel}__dir")
        # single-file rename so the ref points at one immutable file
        fs, jvm = _fs(spark, table)
        src_dir = jvm.org.apache.hadoop.fs.Path(f"{table}/{rel}__dir")
        part = next(
            s.getPath()
            for s in fs.listStatus(src_dir)
            if s.getPath().getName().endswith(".parquet")
        )
        fs.rename(part, jvm.org.apache.hadoop.fs.Path(f"{table}/{rel}"))
        fs.delete(src_dir, True)


def load_ref_entries(
    spark: SparkSession, table: str, refs: list[dict]
) -> list[dict]:
    """Materialize the full entry list from refs (driver-side). The
    compatibility path for operators that need every entry; scan planning
    should prefer :func:`prune_entries_spark`."""
    table = table.rstrip("/")
    out: list[dict] = []
    local_root = _local_path(spark, table)
    if local_root is not None:
        import pyarrow.parquet as pq

        for r in refs:
            col = pq.read_table(
                f"{local_root}/{r['ref']}", columns=["entry"]
            ).column("entry")
            out.extend(json.loads(s) for s in col.to_pylist())
    else:  # pragma: no cover - object-store fallback
        for r in refs:
            for row in (
                spark.read.schema(ENTRIES_DDL)
                .parquet(f"{table}/{r['ref']}")
                .select("entry")
                .collect()
            ):
                out.append(json.loads(row["entry"]))
    return sorted(out, key=lambda e: e["path"])


def prune_refs(
    refs: list[dict], prune: tuple[str, object, object] | None
) -> list[dict]:
    """Ref-level summary skipping (driver, O(#refs)): drop a whole
    manifest file iff its per-column summary proves no entry can
    intersect [lo, hi]. Conservative when the summary lacks the column."""
    if prune is None:
        return refs
    col, lo, hi = prune
    numeric = isinstance(lo, (int, float)) and not isinstance(lo, bool)
    kept = []
    for r in refs:
        summary = (r.get("nstats") if numeric else r.get("sstats")) or {}
        mm = summary.get(col)
        if mm is None or (mm[0] <= hi and mm[1] >= lo):
            kept.append(r)
    return kept


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _stat_prune_sql(prune: tuple[str, object, object]) -> str:
    col, lo, hi = prune
    key = _sql_str(col)
    if isinstance(lo, (int, float)) and not isinstance(lo, bool):
        lo_s = repr(_num_down(lo))
        hi_s = repr(_num_up(hi))
        return (
            f"nstats[{key}] IS NULL OR "
            f"(nstats[{key}].lo <= {hi_s} AND nstats[{key}].hi >= {lo_s})"
        )
    return (
        f"sstats[{key}] IS NULL OR "
        f"(sstats[{key}].lo <= {_sql_str(hi)} AND sstats[{key}].hi >= {_sql_str(lo)})"
    )


def _bloom_prune_sql(prune_eq: tuple[str, object]) -> str:
    """Keep-expression for a bloom point probe, evaluated per entry row in
    Catalyst: NULL sidecar or kind mismatch -> keep; else keep iff every
    seeded probe bit is set. The hash is the writer's own
    xxhash64(canonical value, seed) — same expression, same engine."""
    col, value = prune_eq
    kind = _bloom_probe_kind(value)
    key = _sql_str(col)
    lit = (
        f"CAST({int(value)} AS BIGINT)" if kind == "long" else _sql_str(value)
    )
    side = f"bloom[{key}]"
    pos = f"pmod(xxhash64({lit}, i), CAST({side}.m AS BIGINT))"
    bit = (
        f"(shiftright(element_at({side}.bits, "
        f"CAST({pos} DIV 64 AS INT) + 1), "
        f"CAST({pos} % 64 AS INT)) & 1) = 1"
    )
    return (
        f"{side} IS NULL OR {side}.kind IS NULL OR {side}.kind != {_sql_str(kind)} "
        f"OR aggregate(sequence(0, {side}.k - 1), true, (acc, i) -> acc AND ({bit}))"
    )


def entries_frame(
    spark: SparkSession, table: str, refs: list[dict]
) -> DataFrame:
    table = table.rstrip("/")
    return spark.read.schema(ENTRIES_DDL).parquet(
        *[f"{table}/{r['ref']}" for r in refs]
    )


def prune_entries_spark(
    spark: SparkSession,
    table: str,
    refs: list[dict],
    prune: tuple[str, object, object] | None = None,
    prune_eq: tuple[str, object] | None = None,
) -> list[dict]:
    """Two-stage scan planning over a spilled manifest: ref summaries
    prune whole manifest files on the driver, then one distributed filter
    over the survivors' entries frame evaluates the min/max and bloom
    predicates in Catalyst. Only surviving entries are collected."""
    refs = prune_refs(refs, prune)
    if not refs:
        return []
    df = entries_frame(spark, table, refs)
    if prune is not None:
        df = df.filter(F.expr(_stat_prune_sql(prune)))
    if prune_eq is not None:
        df = df.filter(F.expr(_bloom_prune_sql(prune_eq)))
    rows = df.select("entry").collect()
    return sorted(
        (json.loads(r["entry"]) for r in rows), key=lambda e: e["path"]
    )


def ref_paths(refs: list[dict]) -> list[str]:
    return [r["ref"] for r in refs]
