"""Manifest-committed snapshots: time travel, snapshot-isolated compaction,
CAS commits, vacuum retention (operators/versioned.py)."""

import shutil
import uuid
from pathlib import Path

import pytest

from endtoend_etl_openmeteo_spark.operators.versioned import (
    latest_version,
    read_manifest,
    vt_append,
    vt_compact,
    vt_history,
    vt_init,
    vt_overwrite,
    vt_read,
    vt_vacuum,
)

TMP = Path(__file__).resolve().parent.parent / ".tmp"


@pytest.fixture()
def table(spark):
    d = TMP / f"vt_{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True, exist_ok=True)
    path = str(d)
    vt_init(spark, path)
    yield path
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_append_and_time_travel(spark, table):
    v1 = vt_append(spark, _df(spark, 0, 10), table)
    v2 = vt_append(spark, _df(spark, 10, 30), table)
    assert (v1, v2) == (1, 2)
    assert vt_read(spark, table).count() == 30  # latest
    assert vt_read(spark, table, version=v1).count() == 10  # time travel
    assert sorted(r.id for r in vt_read(spark, table, v1).collect()) == list(
        range(10)
    )


def test_overwrite_keeps_history(spark, table):
    vt_append(spark, _df(spark, 0, 10), table)
    v2 = vt_overwrite(spark, _df(spark, 100, 105), table)
    assert vt_read(spark, table).count() == 5
    assert vt_read(spark, table, version=1).count() == 10  # still there
    ops = [h["op"] for h in vt_history(spark, table)]
    assert ops == ["init", "append", "overwrite"]
    assert latest_version(spark, table) == v2


def test_compaction_is_snapshot_isolated(spark, table):
    # fragment: two appends, each written as 8 files
    vt_append(spark, _df(spark, 0, 1000).repartition(8), table)
    vt_append(spark, _df(spark, 1000, 2000).repartition(8), table)
    # a reader opens the pre-compaction snapshot and RESOLVES its plan
    old_reader = vt_read(spark, table, version=2)

    new_v, before, after = vt_compact(spark, table, target_mb=128)
    assert before == 16 and after == 1 and new_v == 3
    # compaction changed no visible data...
    assert vt_read(spark, table).count() == 2000
    # ...and the open reader still scans its own (old) files untouched
    assert old_reader.count() == 2000
    assert sorted(r.id for r in old_reader.collect()) == list(range(2000))
    # old version remains listed with its original files
    assert len(read_manifest(spark, table, 2)["files"]) == 16


def test_cas_commit_survives_a_lost_race(spark, table):
    import json

    from endtoend_etl_openmeteo_spark.operators.versioned import _write_data

    vt_append(spark, _df(spark, 0, 10), table)
    # simulate a rival writer winning version 2 WITH NEW DATA: its files
    # are real, so a dropped-rows regression is observable
    rival_files = _write_data(spark, _df(spark, 100, 105), table)
    rival = {
        "version": 2,
        "parent": 1,
        "op": "append",
        "files": read_manifest(spark, table, 1)["files"] + rival_files,
        "schema": read_manifest(spark, table, 1)["schema"],
    }
    (Path(table) / "_manifests" / "v00000002.json").write_text(json.dumps(rival))
    # our commit must NOT clobber v2 — rename refuses, the append REBASES
    # onto the rival's manifest and lands on v3 with BOTH appends' rows
    v = vt_append(spark, _df(spark, 10, 20), table)
    assert v == 3
    assert json.loads(
        (Path(table) / "_manifests" / "v00000002.json").read_text()
    ) == rival  # untouched
    ids = sorted(r.id for r in vt_read(spark, table).collect())
    assert ids == list(range(20)) + list(range(100, 105))


def test_read_modify_write_conflict_raises(spark, table):
    import json

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        ConcurrentWriteError,
        vt_delete,
        vt_merge,
    )
    from pyspark.sql import functions as F

    import endtoend_etl_openmeteo_spark.operators.versioned as V

    vt_append(spark, _df(spark, 0, 10), table, stats_cols=["id"])
    # rival wins v2 AFTER our op reads its parent snapshot: pin the op to
    # parent v1 while v2 already exists — the CAS race window made static
    rival = dict(read_manifest(spark, table, 1), version=2, parent=1)
    (Path(table) / "_manifests" / "v00000002.json").write_text(json.dumps(rival))
    real = V.latest_version
    monkey = lambda s, t: 1  # noqa: E731
    V.latest_version = monkey
    try:
        # merge/delete derive their output from the parent snapshot: a
        # rival commit in the window must surface, never be erased
        with pytest.raises(ConcurrentWriteError):
            vt_merge(
                spark,
                spark.range(0, 3).selectExpr("id", "id * 7 AS v"),
                table,
                keys=["id"],
                order_col="v",
            )
        with pytest.raises(ConcurrentWriteError):
            vt_delete(spark, table, F.col("id") < 2)
    finally:
        V.latest_version = real
    # the rival's snapshot is still intact and readable
    assert vt_read(spark, table).count() == 10


def test_vacuum_reclaims_only_unreferenced_files(spark, table):
    vt_append(spark, _df(spark, 0, 10), table)  # v1
    vt_append(spark, _df(spark, 10, 20), table)  # v2 (shares v1's files)
    vt_overwrite(spark, _df(spark, 50, 55), table)  # v3 (fresh files)
    n_files_before = len(list(Path(table).glob("data/*/*.parquet")))

    deleted = vt_vacuum(spark, table, keep_last=2)  # keeps v2, v3
    # v1's files are all referenced by v2 -> nothing deletable
    assert deleted == 0
    assert vt_read(spark, table, version=2).count() == 20

    deleted = vt_vacuum(spark, table, keep_last=1)  # keeps only v3
    assert deleted > 0
    n_files_after = len(list(Path(table).glob("data/*/*.parquet")))
    assert n_files_after == n_files_before - deleted
    assert vt_read(spark, table).count() == 5  # latest intact
    with pytest.raises(Exception):  # dropped version is gone
        vt_read(spark, table, version=2)
    with pytest.raises(ValueError, match="keep_last"):
        vt_vacuum(spark, table, keep_last=0)


def test_read_empty_version_raises_clearly(spark, table):
    with pytest.raises(ValueError, match="empty"):
        vt_read(spark, table, version=0)


def test_streaming_epoch_commits_exactly_once(spark, table):
    """foreachBatch → vt_append_epoch: kill-and-resume never re-commits a
    checkpointed epoch, and a REPLAYED epoch (crash between commit and
    checkpoint) is a no-op because its (run, epoch) tag is already in a
    retained manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_append_epoch,
    )

    src = Path(table) / "_landing"
    src.mkdir()
    ckpt = str(Path(table) / "_ckpt")

    def sink(batch_df, epoch_id):
        vt_append_epoch(
            batch_df.sparkSession, batch_df, table, "run1", epoch_id,
            stats_cols=["user_id"],
        )

    def run_once():
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    pq.write_table(
        pa.table({"user_id": [1, 2], "value": [1.0, 2.0]}), src / "a.parquet"
    )
    run_once()
    assert vt_read(spark, table).count() == 2
    v_after_first = latest_version(spark, table)

    # resume: ONLY the new file's epoch commits
    pq.write_table(pa.table({"user_id": [3], "value": [3.0]}), src / "b.parquet")
    run_once()
    assert vt_read(spark, table).count() == 3
    assert latest_version(spark, table) == v_after_first + 1

    # replay the last epoch (same run + epoch id): must be a no-op
    last_epoch = read_manifest(spark, table, latest_version(spark, table))[
        "epoch"
    ]["epoch"]
    replay = spark.createDataFrame([(3, 3.0)], "user_id long, value double")
    out = vt_append_epoch(spark, replay, table, "run1", last_epoch)
    assert out is None
    assert vt_read(spark, table).count() == 3
    assert latest_version(spark, table) == v_after_first + 1
    # a NEW epoch id from the same run still commits
    assert (
        vt_append_epoch(spark, replay, table, "run1", last_epoch + 100)
        is not None
    )
    assert vt_read(spark, table).count() == 4


def test_manifest_stats_prune_files(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_files

    # four appends over disjoint id ranges, two files each, stats on id
    for lo in (0, 100, 200, 300):
        vt_append(
            spark, _df(spark, lo, lo + 100).repartition(2), table,
            stats_cols=["id"],
        )
    all_files = vt_files(spark, table)
    assert len(all_files) == 8

    # a range inside one append's ids must skip every other append's files
    pruned = vt_files(spark, table, prune=("id", 150, 160))
    assert 1 <= len(pruned) <= 2
    assert set(pruned) < set(all_files)
    got = vt_read(spark, table, prune=("id", 150, 160)).filter(
        "id BETWEEN 150 AND 160"
    )
    assert sorted(r.id for r in got.collect()) == list(range(150, 161))

    # pruned-to-nothing keeps the schema, returns no rows
    none = vt_read(spark, table, prune=("id", 10_000, 20_000))
    assert none.count() == 0 and none.columns == ["id", "v"]

    # compaction carries the recorded stats columns forward
    vt_compact(spark, table)
    latest = read_manifest(spark, table, latest_version(spark, table))
    assert all("id" in e["stats"] for e in latest["files"])
    # equality under pruning survives the rewrite
    again = vt_read(spark, table, prune=("id", 150, 160)).filter(
        "id BETWEEN 150 AND 160"
    )
    assert sorted(r.id for r in again.collect()) == list(range(150, 161))


def _keyed(spark, lo, hi, ord_val, v_expr="id * 2"):
    return spark.range(lo, hi).selectExpr(
        "id", f"{v_expr} AS v", f"CAST({ord_val} AS BIGINT) AS ord"
    )


def test_cow_merge_rewrites_only_overlapping_files(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_merge

    for lo in (0, 100, 200, 300):
        vt_append(
            spark, _keyed(spark, lo, lo + 100, 1).repartition(1), table,
            stats_cols=["id"],
        )
    seed_paths = {
        e["path"]
        for e in read_manifest(spark, table, latest_version(spark, table))["files"]
    }
    assert len(seed_paths) == 4

    # batch overlaps ONLY the 100..199 file
    batch = _keyed(spark, 150, 160, 2, v_expr="999")
    v = vt_merge(spark, batch, table, keys=["id"], order_col="ord")
    after = read_manifest(spark, table, v)["files"]
    carried = {e["path"] for e in after} & seed_paths
    # three seed files carried forward byte-identically; the overlapping
    # one was rewritten (its path is gone from the new manifest)
    assert len(carried) == 3
    assert len([e for e in after if e["path"] not in seed_paths]) >= 1

    got = {r.id: (r.v, r.ord) for r in vt_read(spark, table).collect()}
    assert len(got) == 400
    assert got[155] == (999, 2)  # newer wins
    assert got[55] == (110, 1)  # untouched range intact
    assert got[145] == (290, 1)  # same file, un-merged key intact

    # an OLDER batch must not overwrite
    stale = _keyed(spark, 150, 160, 0, v_expr="-1")
    vt_merge(spark, stale, table, keys=["id"], order_col="ord")
    got = {r.id: r.v for r in vt_read(spark, table).collect()}
    assert got[155] == 999

    # pre-merge snapshot still shows the original values
    pre = {r.id: r.v for r in vt_read(spark, table, version=4).collect()}
    assert pre[155] == 310

    # idempotency: re-merging the same batch changes nothing visible
    vt_merge(spark, batch, table, keys=["id"], order_col="ord")
    again = {r.id: (r.v, r.ord) for r in vt_read(spark, table).collect()}
    assert again == {
        i: ((999, 2) if 150 <= i < 160 else (i * 2, 1)) for i in range(400)
    }


def test_cow_merge_empty_batch_is_a_noop_version(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_merge

    vt_append(
        spark, _keyed(spark, 0, 50, 1).repartition(1), table, stats_cols=["id"]
    )
    before = read_manifest(spark, table, latest_version(spark, table))["files"]
    v = vt_merge(
        spark, _keyed(spark, 0, 0, 1), table, keys=["id"], order_col="ord"
    )
    assert read_manifest(spark, table, v)["files"] == before
    assert vt_read(spark, table).count() == 50


def test_files_without_stats_are_conservatively_kept(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_files

    vt_append(spark, _df(spark, 0, 50).repartition(1), table)  # no stats
    vt_append(
        spark, _df(spark, 50, 100).repartition(1), table, stats_cols=["id"]
    )
    pruned = vt_files(spark, table, prune=("id", 60, 70))
    # stats-less files can't be skipped; the stats-bearing out-of-range
    # file could only be the in-range one here, so: 1 unknown + 1 match
    assert len(pruned) == 2
    got = vt_read(spark, table, prune=("id", 60, 70)).filter(
        "id BETWEEN 60 AND 70"
    )
    assert got.count() == 11


def test_cow_delete_rewrites_only_matching_files(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import vt_delete

    for lo in (0, 100, 200, 300):
        vt_append(
            spark, _keyed(spark, lo, lo + 100, 1).repartition(1), table,
            stats_cols=["id"],
        )
    before = {
        e["path"]: (Path(table) / e["path"]).read_bytes()
        for e in read_manifest(spark, table, latest_version(spark, table))["files"]
    }
    # matches live only in the [100, 200) file
    v, n_rewritten, n_deleted = vt_delete(
        spark, table, (F.col("id") >= 150) & (F.col("id") < 160)
    )
    assert (n_rewritten, n_deleted) == (1, 10)
    after = read_manifest(spark, table, v)["files"]
    carried = [e["path"] for e in after if e["path"] in before]
    assert len(carried) == 3  # three untouched files carried by reference
    for p in carried:  # ...and byte-for-byte identical on disk
        assert (Path(table) / p).read_bytes() == before[p]
    df = vt_read(spark, table)
    assert df.count() == 390
    assert df.filter((F.col("id") >= 150) & (F.col("id") < 160)).count() == 0


def test_delete_null_predicate_rows_survive(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import vt_delete

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 50.0)], "id long, v double"
    )
    vt_append(spark, df, table)
    # v > 10 is NULL for id=2 — SQL DELETE must keep it
    v, _, n_deleted = vt_delete(spark, table, F.col("v") > 10)
    assert n_deleted == 1
    assert sorted(r["id"] for r in vt_read(spark, table, v).collect()) == [1, 2]


def test_delete_without_matches_commits_nothing(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import vt_delete

    vt_append(spark, _df(spark, 0, 10), table)
    v0 = latest_version(spark, table)
    v, n_rewritten, n_deleted = vt_delete(spark, table, F.col("id") > 999)
    assert (v, n_rewritten, n_deleted) == (v0, 0, 0)
    assert latest_version(spark, table) == v0


def test_diff_classifies_insert_update_delete(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_delete,
        vt_diff,
        vt_merge,
    )

    v_base = vt_append(spark, _keyed(spark, 0, 100, 1), table, stats_cols=["id"])
    vt_merge(  # update ids 0..9
        spark, _keyed(spark, 0, 10, 2, v_expr="id * 2 + 7"), table,
        keys=["id"], order_col="ord",
    )
    vt_merge(  # insert ids 100..104
        spark, _keyed(spark, 100, 105, 1), table, keys=["id"], order_col="ord"
    )
    v_final, _, _ = vt_delete(spark, table, F.col("id").between(90, 94))
    diff = vt_diff(spark, table, v_base, v_final, keys=["id"]).collect()
    by_type = {}
    for r in diff:
        by_type.setdefault(r["change_type"], []).append(r)
    assert sorted(r["id"] for r in by_type["insert"]) == [100, 101, 102, 103, 104]
    assert sorted(r["id"] for r in by_type["update"]) == list(range(10))
    assert sorted(r["id"] for r in by_type["delete"]) == [90, 91, 92, 93, 94]
    assert all(r["v"] == r["id"] * 2 + 7 for r in by_type["update"])  # post-image
    assert all(r["v"] is None for r in by_type["delete"])
    assert len(diff) == 20


def test_compaction_diffs_empty(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_diff

    for lo in (0, 50):
        vt_append(spark, _df(spark, lo, lo + 50).repartition(4), table)
    v_before = latest_version(spark, table)
    v_after, n_before, n_after = vt_compact(spark, table, target_mb=128)
    assert n_after < n_before
    # every row was rewritten, none changed — CDC must be empty
    assert vt_diff(spark, table, v_before, v_after, keys=["id"]).count() == 0


def test_diff_reads_only_churned_files(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import vt_diff, vt_merge

    for lo in (0, 100, 200, 300):
        vt_append(
            spark, _keyed(spark, lo, lo + 100, 1).repartition(1), table,
            stats_cols=["id"],
        )
    v_base = latest_version(spark, table)
    vt_merge(  # touches only the [100, 200) file
        spark, _keyed(spark, 150, 160, 2, v_expr="0"), table,
        keys=["id"], order_col="ord",
    )
    v_final = latest_version(spark, table)
    # scan scope ∝ churn: exactly 1 removed + 1 added file between the
    # manifests (vt_diff reads only these two sets), not the 4-file table
    base_files = {e["path"] for e in read_manifest(spark, table, v_base)["files"]}
    final_files = {e["path"] for e in read_manifest(spark, table, v_final)["files"]}
    assert len(base_files - final_files) == 1
    assert len(final_files - base_files) == 1
    diff = vt_diff(spark, table, v_base, v_final, keys=["id"])
    assert sorted(r["id"] for r in diff.collect()) == list(range(150, 160))
    assert {r["change_type"] for r in diff.collect()} == {"update"}


def test_schema_evolution_append_adds_column(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import vt_merge

    v1 = vt_append(spark, _df(spark, 0, 10), table)
    evolved = _df(spark, 10, 20).withColumn("lang", F.lit("en"))
    v2 = vt_append(spark, evolved, table)

    latest = vt_read(spark, table)
    assert latest.columns == ["id", "v", "lang"]
    rows = {r.id: r.lang for r in latest.collect()}
    assert len(rows) == 20
    assert rows[5] is None  # pre-evolution file null-fills
    assert rows[15] == "en"
    # time travel reads the OLD schema — the column does not exist there
    assert vt_read(spark, table, version=v1).columns == ["id", "v"]

    # merge over the evolved table: batch WITHOUT the new column aligns
    v3 = vt_merge(
        spark,
        spark.range(8, 12).selectExpr("id", "id * 100 AS v"),
        table,
        keys=["id"],
        order_col="v",
    )
    after = {r.id: (r.v, r.lang) for r in vt_read(spark, table, v3).collect()}
    assert after[9] == (900, None)
    assert after[11] == (1100, None)  # overwrote the evolved row
    assert after[15] == (30, "en")


def test_schema_evolution_rejects_type_change(spark, table):
    from pyspark.sql import functions as F

    vt_append(spark, _df(spark, 0, 5), table)
    bad = spark.range(5, 10).selectExpr("id", "CAST(id AS STRING) AS v")
    with pytest.raises(ValueError, match="additive-only"):
        vt_append(spark, bad, table)
    # failed append must not have committed a manifest
    assert [h["op"] for h in vt_history(spark, table)] == ["init", "append"]


def test_schema_evolution_batch_may_omit_columns(spark, table):
    vt_append(spark, _df(spark, 0, 5), table)
    narrow = spark.range(5, 8).selectExpr("id")
    vt_append(spark, narrow, table)
    rows = {r.id: r.v for r in vt_read(spark, table).collect()}
    assert rows[2] == 4 and rows[6] is None


def test_cdc_apply_round_trip_and_scope(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_apply_cdc,
        vt_diff,
        vt_merge,
    )

    # seed two DISJOINT key-range file sets so apply scope is observable
    vt_append(spark, _df(spark, 0, 50), table, stats_cols=["id"])
    vt_append(spark, _df(spark, 60, 100), table, stats_cols=["id"])
    high_files = {
        e["path"]
        for e in read_manifest(spark, table, 2)["files"]
        if e["stats"]["id"][0] >= 60
    }
    assert high_files
    # feed spans [3, 55]: entirely below the high file set's [60, 99]
    feed = spark.createDataFrame(
        [(3, "update", 999), (55, "insert", 200), (7, "delete", None)],
        "id long, change_type string, v long",
    ).select("id", "change_type", "v")
    v = vt_apply_cdc(spark, feed, table, keys=["id"])
    rows = {r.id: r.v for r in vt_read(spark, table, v).collect()}
    assert rows[3] == 999 and rows[55] == 200 and 7 not in rows
    assert len(rows) == 90  # 90 seeded - 1 delete + 1 insert
    after = {e["path"] for e in read_manifest(spark, table, v)["files"]}
    assert high_files <= after, "files outside the feed range must carry"

    # empty feed: no commit
    empty = spark.createDataFrame([], "id long, change_type string, v long")
    assert vt_apply_cdc(spark, empty, table, keys=["id"]) == v

    # applying a real diff reproduces the source head (replication law)
    src_head = vt_read(spark, table, v)
    vt_merge(
        spark,
        spark.range(0, 5).selectExpr("id", "id + 5000 AS v"),
        table,
        keys=["id"],
        order_col="v",
    )
    changes = vt_diff(spark, table, v, v + 1, keys=["id"])
    # replay onto a fresh copy of the v2 state
    import uuid as _uuid

    replica = str(Path(table).parent / f"vt_replica_{_uuid.uuid4().hex[:8]}")
    try:
        vt_init(spark, replica)
        vt_append(spark, src_head, replica, stats_cols=["id"])
        vt_apply_cdc(spark, changes, replica, keys=["id"])
        got = {(r.id, r.v) for r in vt_read(spark, replica).collect()}
        want = {
            (r.id, r.v) for r in vt_read(spark, table).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(replica, ignore_errors=True)


def test_mor_delete_writes_no_data_files(spark, table):
    """Merge-on-read delete: data files stay byte-for-byte untouched;
    only a KB-sized position-delete file and a manifest are written."""
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import vt_delete_mor

    for lo in (0, 100, 200, 300):
        vt_append(
            spark, _keyed(spark, lo, lo + 100, 1).repartition(1), table,
            stats_cols=["id"],
        )
    before = {
        e["path"]: (Path(table) / e["path"]).read_bytes()
        for e in read_manifest(spark, table, latest_version(spark, table))["files"]
    }
    v, n_touched, n_deleted = vt_delete_mor(
        spark, table, (F.col("id") >= 150) & (F.col("id") < 160)
    )
    assert (n_touched, n_deleted) == (1, 10)
    after = read_manifest(spark, table, v)["files"]
    # every data file carried by reference, bytes untouched
    assert {e["path"] for e in after} == set(before)
    for p in before:
        assert (Path(table) / p).read_bytes() == before[p]
    # exactly one entry carries the delete file; it's tiny
    dirty = [e for e in after if e.get("deletes")]
    assert len(dirty) == 1
    for dp in dirty[0]["deletes"]:
        assert (Path(table) / dp).stat().st_size < 64 * 1024
    df = vt_read(spark, table)
    assert df.count() == 390
    assert df.filter((F.col("id") >= 150) & (F.col("id") < 160)).count() == 0
    # time travel to the pre-delete snapshot still sees the rows
    assert vt_read(spark, table, version=v - 1).count() == 400


def test_mor_delete_stacks_and_compaction_materializes(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_delete_mor,
    )

    vt_append(spark, _keyed(spark, 0, 100, 1).repartition(2), table)
    v1, _, n1 = vt_delete_mor(spark, table, F.col("id") < 10)
    v2, _, n2 = vt_delete_mor(spark, table, F.col("id") < 20)
    # second delete counts only rows still live (10..19)
    assert (n1, n2) == (10, 10)
    assert vt_read(spark, table).count() == 80
    # a re-delete of already-deleted rows is a no-op (no matches)
    v3, t3, n3 = vt_delete_mor(spark, table, F.col("id") < 5)
    assert (v3, t3, n3) == (v2, 0, 0)
    # compaction materializes: clean manifest, same rows
    v4, _, _ = vt_compact(spark, table)
    after = read_manifest(spark, table, v4)["files"]
    assert not any(e.get("deletes") for e in after)
    assert sorted(r.id for r in vt_read(spark, table, v4).collect()) == list(
        range(20, 100)
    )


def test_mor_delete_null_predicate_rows_survive(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import vt_delete_mor

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 50.0)], "id long, v double"
    )
    vt_append(spark, df, table)
    v, _, n_deleted = vt_delete_mor(spark, table, F.col("v") > 10)
    assert n_deleted == 1
    assert sorted(r["id"] for r in vt_read(spark, table, v).collect()) == [1, 2]


def test_mor_delete_diffs_as_cdc_delete(spark, table):
    """vt_diff across a MOR-delete commit yields exactly the deleted keys
    as change_type='delete' — delete lists are part of entry identity."""
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_delete_mor,
        vt_diff,
    )

    vt_append(spark, _keyed(spark, 0, 50, 1), table)
    v_from = latest_version(spark, table)
    v_to, _, _ = vt_delete_mor(spark, table, F.col("id").isin(7, 13))
    changes = vt_diff(spark, table, v_from, v_to, keys=["id"]).collect()
    assert sorted((r.id, r.change_type) for r in changes) == [
        (7, "delete"),
        (13, "delete"),
    ]


def test_mor_delete_vacuum_retains_then_reclaims_delete_files(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import vt_delete_mor

    vt_append(spark, _keyed(spark, 0, 100, 1).repartition(1), table)
    v, _, _ = vt_delete_mor(spark, table, F.col("id") < 30)
    dirty = read_manifest(spark, table, v)["files"]
    del_paths = [dp for e in dirty for dp in e.get("deletes", [])]
    assert del_paths
    # compact (materialize) then vacuum down to the clean snapshot only
    vt_compact(spark, table)
    vt_vacuum(spark, table, keep_last=2)  # keeps delete-bearing v too
    for dp in del_paths:
        assert (Path(table) / dp).exists()
    assert vt_read(spark, table, version=v).count() == 70  # still readable
    vt_vacuum(spark, table, keep_last=1)  # drops the MOR snapshot
    for dp in del_paths:
        assert not (Path(table) / dp).exists()
    assert vt_read(spark, table).count() == 70


def test_vt_files_refuses_delete_bearing_snapshot(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_delete_mor,
        vt_files,
    )

    vt_append(spark, _keyed(spark, 0, 50, 1), table)
    assert vt_files(spark, table)  # clean snapshot: fine
    vt_delete_mor(spark, table, F.col("id") < 5)
    with pytest.raises(ValueError, match="merge-on-read"):
        vt_files(spark, table)


def test_mor_delete_then_cow_merge_does_not_resurrect(spark, table):
    """A COW merge touching a delete-bearing file must apply its position
    deletes while rewriting — deleted rows stay deleted."""
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_delete_mor,
        vt_merge,
    )

    vt_append(
        spark, _keyed(spark, 0, 100, 1).repartition(1), table, stats_cols=["id"]
    )
    vt_delete_mor(spark, table, F.col("id").isin(40, 41))
    vt_merge(
        spark,
        _keyed(spark, 50, 55, 2, v_expr="777"),
        table,
        keys=["id"],
        order_col="ord",
    )
    df = vt_read(spark, table)
    assert df.filter(F.col("id").isin(40, 41)).count() == 0
    assert df.filter((F.col("id") >= 50) & (F.col("id") < 55)).agg(
        F.min("v"), F.max("v")
    ).collect()[0][:] == (777, 777)
    assert df.count() == 98


def test_bloom_sidecar_point_lookup_skips_interleaved_files(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_files

    # four appends with INTERLEAVED ids (id % 4 == wave): every file's
    # [min, max] spans nearly the whole domain, so range pruning keeps
    # everything — exactly the clustering-free layout bloom sidecars exist
    # for. One file per append keeps wave -> file attribution exact.
    for wave in range(4):
        df = (
            spark.range(0, 400)
            .filter(f"id % 4 = {wave}")
            .selectExpr("id", "id * 2 AS v")
            .coalesce(1)
        )
        vt_append(spark, df, table, stats_cols=["id"], bloom_cols=["id"])
    all_files = vt_files(spark, table)
    assert len(all_files) == 4
    # min/max can't help: every file's range covers the probe
    assert len(vt_files(spark, table, prune=("id", 150, 150))) == 4

    # bloom skips to (almost certainly) just the owning file; superset
    # guarantee: the owning file is ALWAYS kept
    probed = vt_files(spark, table, prune_eq=("id", 150))
    assert len(probed) < 4
    got = vt_read(spark, table, prune_eq=("id", 150)).filter("id = 150")
    assert [(r.id, r.v) for r in got.collect()] == [(150, 300)]

    # absent key: typically every file skipped; the read stays correct
    miss = vt_read(spark, table, prune_eq=("id", 100_000)).filter("id = 100000")
    assert miss.count() == 0

    # compaction rebuilds sidecars for the new file boundaries
    vt_compact(spark, table)
    latest = read_manifest(spark, table, latest_version(spark, table))
    assert all("id" in e.get("bloom", {}) for e in latest["files"])
    again = vt_read(spark, table, prune_eq=("id", 150)).filter("id = 150")
    assert [(r.id, r.v) for r in again.collect()] == [(150, 300)]


def test_bloom_sidecar_string_keys_and_unindexed_entries(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_files

    # wave 0 indexed, wave 1 not: un-bloomed entries must be kept for any
    # probe (unknown -> cannot skip), indexed ones may be skipped
    vt_append(
        spark,
        spark.createDataFrame([("alpha", 1), ("beta", 2)], "k string, v int"),
        table,
        bloom_cols=["k"],
    )
    vt_append(
        spark,
        spark.createDataFrame([("gamma", 3)], "k string, v int"),
        table,
    )
    all_files = vt_files(spark, table)
    files = vt_files(spark, table, prune_eq=("k", "gamma"))
    # every bloom-indexed (first-append) file is skipped; every un-bloomed
    # (second-append) file is conservatively kept
    gamma_subdirs = {f.rsplit("/", 2)[1] for f in set(all_files) - set(files)}
    kept_subdirs = {f.rsplit("/", 2)[1] for f in files}
    assert files and kept_subdirs.isdisjoint(gamma_subdirs)
    assert len(files) < len(all_files)
    got = vt_read(spark, table, prune_eq=("k", "gamma")).filter("k = 'gamma'")
    assert [(r.k, r.v) for r in got.collect()] == [("gamma", 3)]


def test_mor_merge_appends_and_position_deletes(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_merge_mor

    vt_append(
        spark, _keyed(spark, 0, 100, 1).repartition(2), table, stats_cols=["id"]
    )
    base = read_manifest(spark, table, latest_version(spark, table))
    base_paths = {e["path"] for e in base["files"]}

    batch = spark.createDataFrame(
        [(10, 9999, 2), (20, 8888, 2), (1000, 7777, 2)], "id long, v long, ord long"
    )
    v, touched, superseded = vt_merge_mor(
        spark, batch, table, keys=["id"], order_col="ord"
    )
    assert superseded == 2 and touched >= 1
    latest = read_manifest(spark, table, v)
    # MOR: every base data file is still listed (none rewritten); the
    # touched ones carry delete attachments, and the batch landed as new files
    paths = {e["path"] for e in latest["files"]}
    assert base_paths <= paths and len(paths) > len(base_paths)
    assert any(e.get("deletes") for e in latest["files"])

    got = vt_read(spark, table)
    assert got.count() == 101  # 100 base + 1 insert, updates replaced in place
    by_id = {r.id: r.v for r in got.filter("id IN (10, 20, 1000, 30)").collect()}
    assert by_id == {10: 9999, 20: 8888, 1000: 7777, 30: 60}

    # compaction materializes the deletes; contents survive
    vt_compact(spark, table)
    again = vt_read(spark, table)
    assert again.count() == 101
    assert {r.id: r.v for r in again.filter("id IN (10, 1000)").collect()} == {
        10: 9999, 1000: 7777,
    }


def test_mor_merge_within_batch_lww_and_empty_batch(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_merge_mor

    vt_append(spark, _keyed(spark, 0, 10, 1), table, stats_cols=["id"])
    # two rows for id=5 in one batch: ord=3 must win
    batch = spark.createDataFrame(
        [(5, 111, 2), (5, 222, 3)], "id long, v long, ord long"
    )
    v, _, superseded = vt_merge_mor(spark, batch, table, keys=["id"], order_col="ord")
    assert superseded == 1
    assert vt_read(spark, table).filter("id = 5").collect()[0].v == 222

    empty = spark.createDataFrame([], "id long, v long, ord long")
    v2, touched, superseded = vt_merge_mor(
        spark, empty, table, keys=["id"], order_col="ord"
    )
    assert (v2, touched, superseded) == (v, 0, 0)  # no commit for nothing


def test_mor_merge_carries_recorded_stats_and_bloom(spark, table):
    """The files a MOR merge writes record every stats/bloom column the
    parent recorded (vt_merge's rule): otherwise a bloom point lookup on
    an absent value keeps every file the merge wrote."""
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_files,
        vt_merge_mor,
    )

    vt_append(
        spark,
        _df(spark, 0, 100).repartition(2),
        table,
        stats_cols=["id", "v"],
        bloom_cols=["v"],
    )
    base = {
        e["path"]
        for e in read_manifest(spark, table, latest_version(spark, table))["files"]
    }
    batch = spark.createDataFrame([(3, 5), (500, 1000)], "id long, v long")
    v, _, superseded = vt_merge_mor(
        spark, batch.repartition(2), table, keys=["id"]
    )
    assert superseded == 1
    added = [
        e for e in read_manifest(spark, table, v)["files"] if e["path"] not in base
    ]
    assert added
    assert all(set(e["stats"]) == {"id", "v"} for e in added)
    assert all("v" in e.get("bloom", {}) for e in added)
    assert vt_files(spark, table, prune_eq=("v", 7777)) == []


def test_optimize_makes_range_pruning_selective(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_files,
        vt_optimize,
    )

    # interleaved ids: every file spans nearly the whole domain
    for wave in range(4):
        df = (
            spark.range(0, 400)
            .filter(f"id % 4 = {wave}")
            .selectExpr("id", "id * 2 AS v")
            .coalesce(1)
        )
        vt_append(spark, df, table, stats_cols=["id"])
    assert len(vt_files(spark, table, prune=("id", 150, 160))) == 4

    v, before, after = vt_optimize(spark, table, ["id"], n_files=4)
    assert (before, after) == (4, 4)
    # disjoint ranges now: the probe window lives in 1 (at most 2) file(s)
    pruned = vt_files(spark, table, prune=("id", 150, 160))
    assert len(pruned) <= 2
    got = vt_read(spark, table, prune=("id", 150, 160)).filter(
        "id BETWEEN 150 AND 160"
    )
    assert sorted(r.id for r in got.collect()) == list(range(150, 161))
    # full contents survive the rewrite
    assert vt_read(spark, table).count() == 400


def test_mor_merge_stale_batch_leaves_no_trace(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_merge_mor

    vt_append(spark, _keyed(spark, 0, 10, 5), table, stats_cols=["id"])  # ord=5
    v1 = latest_version(spark, table)
    stale = spark.createDataFrame([(3, -1, 2)], "id long, v long, ord long")
    v2, touched, superseded = vt_merge_mor(
        spark, stale, table, keys=["id"], order_col="ord"
    )
    assert (v2, touched, superseded) == (v1, 0, 0)  # no commit at all
    assert vt_read(spark, table).filter("id = 3").collect()[0].v == 6


def test_optimize_zorder_prunes_both_dimensions(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_files,
        vt_optimize,
    )

    # y reverses x: single-key range clustering on x leaves every file's
    # y-range spanning the domain; the Z-curve keeps both tight
    df = spark.range(0, 1024).selectExpr("id AS x", "1023 - id AS y")
    vt_append(spark, df, table, stats_cols=["x", "y"])

    v, _, after = vt_optimize(
        spark, table, ["x", "y"], n_files=4, strategy="zorder"
    )
    assert after == 4
    kept_x = vt_files(spark, table, prune=("x", 10, 20))
    kept_y = vt_files(spark, table, prune=("y", 10, 20))
    assert len(kept_x) <= 2 and len(kept_y) <= 2  # both dims selective
    got = vt_read(spark, table, prune=("x", 10, 20)).filter(
        "x BETWEEN 10 AND 20"
    )
    assert sorted(r.x for r in got.collect()) == list(range(10, 21))
    assert vt_read(spark, table).count() == 1024


def test_streaming_mor_upsert_exactly_once(spark, table):
    """foreachBatch → vt_merge_mor_epoch: kill-and-resume applies each
    micro-batch of keyed changes exactly once; a replayed epoch no-ops —
    crucial here because re-applying an upsert would position-delete the
    rows the replay itself just appended."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_merge_mor_epoch,
    )

    vt_append(spark, _keyed(spark, 0, 10, 1), table, stats_cols=["id"])

    src = Path(table) / "_landing"
    src.mkdir()
    ckpt = str(Path(table) / "_ckpt")

    def sink(batch_df, epoch_id):
        vt_merge_mor_epoch(
            batch_df.sparkSession, batch_df, table, "run1", epoch_id,
            keys=["id"], order_col="ord",
        )

    def run_once():
        stream = (
            spark.readStream.schema("id long, v long, ord long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # epoch 0: update id=3, insert id=100
    pq.write_table(
        pa.table({"id": [3, 100], "v": [333, 111], "ord": [2, 2]}),
        src / "a.parquet",
    )
    run_once()
    got = {r.id: r.v for r in vt_read(spark, table).collect()}
    assert len(got) == 11 and got[3] == 333 and got[100] == 111

    # resume with a second change file: only the new epoch applies
    pq.write_table(
        pa.table({"id": [3], "v": [444], "ord": [3]}), src / "b.parquet"
    )
    run_once()
    got = {r.id: r.v for r in vt_read(spark, table).collect()}
    assert len(got) == 11 and got[3] == 444

    # replay the committed epoch manually: must be a no-op
    last = read_manifest(spark, table, latest_version(spark, table))
    assert last["epoch"]["run"] == "run1"
    replay = spark.createDataFrame([(3, 999, 3)], "id long, v long, ord long")
    out = vt_merge_mor_epoch(
        spark, replay, table, "run1", last["epoch"]["epoch"],
        keys=["id"], order_col="ord",
    )
    assert out is None
    assert {r.id: r.v for r in vt_read(spark, table).collect()}[3] == 444

    # a stale batch under a NEW epoch commits only a no-op marker
    stale = spark.createDataFrame([(3, -1, 0)], "id long, v long, ord long")
    v = vt_merge_mor_epoch(
        spark, stale, table, "run1", 999, keys=["id"], order_col="ord"
    )
    assert v is not None
    assert read_manifest(spark, table, v)["op"] == "stream-merge-noop"
    assert {r.id: r.v for r in vt_read(spark, table).collect()}[3] == 444


def test_maintain_policy_compacts_materializes_and_vacuums(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_delete_mor,
        vt_maintain,
    )
    from pyspark.sql import functions as F

    # fragmented (17 files) + pending MOR deletes
    for lo in range(0, 170, 10):
        vt_append(spark, _df(spark, lo, lo + 10).coalesce(1), table)
    vt_delete_mor(spark, table, F.col("id") % 17 == 0)

    report = vt_maintain(spark, table, keep_last=2)
    assert report["action"] == "compact"
    assert report["files_after"] < report["files_before"] == 17
    latest = read_manifest(spark, table, latest_version(spark, table))
    assert not any(e.get("deletes") for e in latest["files"])  # materialized
    assert report["vacuumed"] >= 0
    assert vt_read(spark, table).count() == 170 - 10  # 10 multiples of 17 gone

    # second tick: tidy table -> no rewrite, only retention
    report2 = vt_maintain(spark, table, keep_last=2)
    assert report2["action"] is None
    assert vt_read(spark, table).count() == 160


def test_maintain_with_sort_cols_optimizes(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_files,
        vt_maintain,
    )

    for wave in range(20):
        vt_append(
            spark,
            spark.range(0, 400).filter(f"id % 20 = {wave}")
            .selectExpr("id", "id * 2 AS v").coalesce(1),
            table,
            stats_cols=["id"],
        )
    report = vt_maintain(spark, table, sort_cols=["id"], keep_last=2)
    assert report["action"] == "optimize"
    # clustered now: a narrow range hits few files
    assert len(vt_files(spark, table, prune=("id", 10, 20))) <= max(
        1, report["files_after"] // 2
    )
    assert vt_read(spark, table).count() == 400


def test_sql_facade_time_travel_views(spark, table):
    from endtoend_etl_openmeteo_spark.sql import register_versioned_view

    vt_append(spark, _df(spark, 0, 10), table)
    vt_append(spark, _df(spark, 10, 30), table)
    register_versioned_view(spark, table, "t_latest")
    register_versioned_view(spark, table, "t_v1", version=1)
    assert spark.sql("SELECT count(*) AS n FROM t_latest").collect()[0].n == 30
    assert spark.sql("SELECT count(*) AS n FROM t_v1").collect()[0].n == 10
    # the view is PINNED: a later append doesn't leak into it
    vt_append(spark, _df(spark, 30, 40), table)
    assert spark.sql("SELECT count(*) AS n FROM t_latest").collect()[0].n == 30


def test_mor_merge_conflict_raises(spark, table):
    import json

    import endtoend_etl_openmeteo_spark.operators.versioned as V
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        ConcurrentWriteError,
        vt_merge_mor,
    )

    vt_append(spark, _keyed(spark, 0, 10, 1), table, stats_cols=["id"])
    rival = dict(read_manifest(spark, table, 1), version=2, parent=1)
    (Path(table) / "_manifests" / "v00000002.json").write_text(json.dumps(rival))
    real = V.latest_version
    V.latest_version = lambda s, t: 1
    try:
        # MOR merge derives delete positions from the parent snapshot: a
        # rival commit in the window must raise, never be clobbered
        with pytest.raises(ConcurrentWriteError):
            vt_merge_mor(
                spark,
                spark.createDataFrame([(3, 99, 2)], "id long, v long, ord long"),
                table,
                keys=["id"],
                order_col="ord",
            )
    finally:
        V.latest_version = real
    assert vt_read(spark, table).count() == 10


def test_metadata_count_matches_scan(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_count

    vt_append(spark, _df(spark, 0, 100), table)
    v2 = vt_append(spark, _df(spark, 100, 250), table)
    assert vt_count(spark, table) == 250
    assert vt_count(spark, table, version=1) == 100
    # the count must come from the manifest, not a scan: every entry of
    # the counted snapshot carries a recorded row count
    entries = read_manifest(spark, table, v2)["files"]
    assert entries and all("rows" in e for e in entries)
    assert sum(e["rows"] for e in entries) == 250


def test_metadata_count_subtracts_mor_deletes_exactly(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_count,
        vt_delete_mor,
    )

    vt_append(spark, _df(spark, 0, 100), table)
    vt_delete_mor(spark, table, F.col("id") % 10 == 0)  # 10 rows
    assert vt_count(spark, table) == 90 == vt_read(spark, table).count()
    # stacked deletes never overlap (each derives from LIVE rows), so the
    # subtraction stays exact
    vt_delete_mor(spark, table, F.col("id") % 10 < 2)  # 10 more (1 mod 10)
    assert vt_count(spark, table) == 80 == vt_read(spark, table).count()
    # compaction materializes: count comes back to plain entry sums
    vt_compact(spark, table)
    assert vt_count(spark, table) == 80


def test_metadata_count_legacy_entries_fall_back(spark, table):
    import json

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        _manifest_path,
        vt_count,
    )

    vt_append(spark, _df(spark, 0, 60), table)
    v = latest_version(spark, table)
    mpath = Path(_manifest_path(table, v))
    manifest = json.loads(mpath.read_text())
    for e in manifest["files"]:  # simulate a pre-row-tracking manifest
        e.pop("rows", None)
    mpath.write_text(json.dumps(manifest))
    crc = mpath.parent / f".{mpath.name}.crc"  # hadoop checksum sidecar
    crc.unlink(missing_ok=True)
    assert vt_count(spark, table) == 60


def _mtimes(table):
    root = Path(table) / "data"
    return {
        str(p.relative_to(table)): p.stat().st_mtime_ns
        for p in root.rglob("*.parquet")
    }


def test_rename_column_is_metadata_only(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_rename_column,
    )

    vt_append(spark, _df(spark, 0, 50), table)
    before = _mtimes(table)
    v = vt_rename_column(spark, table, "v", "doubled")
    assert _mtimes(table) == before  # no data file touched or added
    got = vt_read(spark, table)
    assert got.columns == ["id", "doubled"]
    assert sorted((r.id, r.doubled) for r in got.collect()) == [
        (i, i * 2) for i in range(50)
    ]
    # time travel: the pre-rename snapshot keeps its own schema
    assert vt_read(spark, table, version=v - 1).columns == ["id", "v"]


def test_rename_then_append_maps_old_files(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_count,
        vt_rename_column,
    )

    vt_append(spark, _df(spark, 0, 10), table)
    vt_rename_column(spark, table, "v", "doubled")
    vt_append(
        spark, spark.range(10, 20).selectExpr("id", "id * 2 AS doubled"), table
    )
    got = vt_read(spark, table)
    assert got.columns == ["id", "doubled"]
    assert sorted((r.id, r.doubled) for r in got.collect()) == [
        (i, i * 2) for i in range(20)
    ]
    assert vt_count(spark, table) == 20
    # appending the OLD name after the rename creates a NEW column
    vt_append(spark, spark.range(20, 21).selectExpr("id", "id * 3 AS v"), table)
    got = vt_read(spark, table)
    assert got.columns == ["id", "doubled", "v"]
    row = {r.id: (r.doubled, r.v) for r in got.collect()}
    assert row[0] == (0, None) and row[20] == (None, 60)


def test_rename_rekeys_stats_pruning(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_files,
        vt_rename_column,
    )

    vt_append(spark, _df(spark, 0, 100).repartition(4, "id"), table,
              stats_cols=["v"])
    vt_rename_column(spark, table, "v", "doubled")
    pruned = vt_files(spark, table, prune=("doubled", 0, 10))
    assert 0 < len(pruned) < 4  # stats survived under the new name


def test_rename_with_mor_deletes_still_applies(spark, table):
    from pyspark.sql import functions as F

    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_delete_mor,
        vt_rename_column,
    )

    vt_append(spark, _df(spark, 0, 30), table)
    vt_delete_mor(spark, table, F.col("v") >= 40)  # drops ids 20..29
    vt_rename_column(spark, table, "v", "doubled")
    got = vt_read(spark, table)
    assert got.columns == ["id", "doubled"]
    assert sorted(r.id for r in got.collect()) == list(range(20))
    # and a post-rename delete on the NEW name works over old files
    vt_delete_mor(spark, table, F.col("doubled") < 10)  # drops ids 0..4
    assert sorted(r.id for r in vt_read(spark, table).collect()) == list(
        range(5, 20)
    )


def test_rename_compact_rewrites_physical_names(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        read_manifest as rm,
        vt_rename_column,
    )

    vt_append(spark, _df(spark, 0, 40), table)
    vt_rename_column(spark, table, "v", "doubled")
    vt_compact(spark, table)
    m = rm(spark, table, latest_version(spark, table))
    # compaction materialized the logical names: no mapping needed anymore
    assert all(e["cols"] == ["id", "doubled"] for e in m["files"])
    raw = spark.read.parquet(f"{table}/{m['files'][0]['path']}")
    assert raw.columns == ["id", "doubled"]
    assert vt_read(spark, table).count() == 40


def test_rename_diff_is_empty_and_errors_are_clear(spark, table):
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_diff,
        vt_rename_column,
    )

    vt_append(spark, _df(spark, 0, 10), table)
    v1 = latest_version(spark, table)
    v2 = vt_rename_column(spark, table, "v", "doubled")
    assert vt_diff(spark, table, v1, v2, keys=["id"]).count() == 0
    with pytest.raises(ValueError, match="no column"):
        vt_rename_column(spark, table, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        vt_rename_column(spark, table, "id", "doubled")


def test_bloom_kind_mismatch_never_skips(spark, table):
    """An int probe against a string-indexed column (and vice versa)
    hashes incompatibly — pruning must keep every file, not skip on
    garbage positions (round-5 ADVICE: the superset guarantee)."""
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_files

    vt_append(
        spark,
        spark.createDataFrame([("1", 1), ("2", 2)], "k string, id int"),
        table,
        bloom_cols=["k", "id"],
    )
    vt_append(
        spark,
        spark.createDataFrame([("3", 3)], "k string, id int"),
        table,
        bloom_cols=["k", "id"],
    )
    all_files = vt_files(spark, table)
    # kind mismatch: int probe on string column / string probe on int
    # column -> cannot skip anything
    assert set(vt_files(spark, table, prune_eq=("k", 2))) == set(all_files)
    assert set(vt_files(spark, table, prune_eq=("id", "2"))) == set(all_files)
    # matching kinds still skip (value "3"/3 lives only in the second file)
    assert len(vt_files(spark, table, prune_eq=("k", "3"))) < len(all_files)
    assert len(vt_files(spark, table, prune_eq=("id", 3))) < len(all_files)
    # and reads stay correct under both
    assert vt_read(spark, table, prune_eq=("k", "2")).filter("k = '2'").count() == 1
    assert vt_read(spark, table, prune_eq=("id", 2)).filter("id = 2").count() == 1


def test_bloom_geometry_scales_with_file_keys(spark, table):
    """m is sized per file (~10 bits/key, power of two): a ~6k-key file
    must get a bigger bitmap than the 2048-bit floor (which would sit at
    ~fp 40% there), and point lookups still skip the other file."""
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        _BLOOM_M_MIN,
        vt_files,
    )

    vt_append(
        spark,
        spark.range(0, 6000).selectExpr("id", "id AS v").coalesce(1),
        table,
        bloom_cols=["id"],
    )
    vt_append(
        spark,
        spark.range(100_000, 100_050).selectExpr("id", "id AS v").coalesce(1),
        table,
        bloom_cols=["id"],
    )
    manifest = read_manifest(spark, table, latest_version(spark, table))
    ms = {e["path"]: e["bloom"]["id"]["m"] for e in manifest["files"]}
    by_rows = {e["path"]: e.get("rows") for e in manifest["files"]}
    m_large = next(m for p, m in ms.items() if by_rows[p] == 6000)
    m_small = next(m for p, m in ms.items() if by_rows[p] == 50)
    assert m_small == _BLOOM_M_MIN
    assert m_large >= 6000 * 8  # ~10 bits/key target, pow2-rounded
    # skipping still works across mixed geometries, superset holds
    probed = vt_files(spark, table, prune_eq=("id", 100_010))
    assert len(probed) == 1
    got = vt_read(spark, table, prune_eq=("id", 3), version=None)
    assert got.filter("id = 3").count() == 1


def test_mor_merge_null_order_never_duplicates_keys(spark, table):
    """NULL order sorts as -infinity, matching the COW path's DESC NULLS
    LAST (round-5 ADVICE): a NULL-order batch row must never BOTH insert
    and leave the existing row alive."""
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_merge_mor

    vt_append(
        spark,
        spark.createDataFrame(
            [(1, 5, "t1"), (2, None, "t2"), (3, 7, "t3")],
            "id long, ord int, src string",
        ),
        table,
        stats_cols=["id"],
    )
    batch = spark.createDataFrame(
        [(1, None, "b1"), (2, None, "b2"), (3, 9, "b3")],
        "id long, ord int, src string",
    )
    vt_merge_mor(spark, batch, table, keys=["id"], order_col="ord")
    rows = {r.id: (r.ord, r.src) for r in vt_read(spark, table).collect()}
    assert vt_read(spark, table).count() == 3  # one row per key — no dups
    assert rows[1] == (5, "t1")  # NULL batch loses to non-NULL table
    assert rows[2] == (None, "b2")  # NULL-vs-NULL tie: batch wins
    assert rows[3] == (9, "b3")  # ordinary newest-wins


def test_concurrent_appends_both_land_via_rebase(spark, table, monkeypatch):
    """Round-6 verdict task 8 — the actual CAS race, not just conflict
    detection: two threads append to one table having read the SAME
    parent snapshot (a barrier inside read_manifest forces the overlap
    deterministically). Exactly one must lose the v-slot rename, take
    the rebase path, and re-point at the winner's file tier — both
    appends land, lineage stays linear, and a reader pinned to the
    pre-race snapshot is untouched."""
    import threading

    import endtoend_etl_openmeteo_spark.operators.versioned as vt

    vt_append(spark, _df(spark, 0, 10), table)
    v_start = latest_version(spark, table)
    pinned_before = sorted(
        r.id for r in vt_read(spark, table, version=v_start).collect()
    )

    barrier = threading.Barrier(2, timeout=60)
    raced = threading.local()
    real_read = vt.read_manifest
    real_rename = vt._rename
    refusals = []

    def synced_read(spark_, table_, *a, **kw):
        m = real_read(spark_, table_, *a, **kw)
        # rendezvous exactly once per thread, on the parent read the
        # append derives its commit from — both writers now hold v_start
        if not getattr(raced, "done", False) and threading.current_thread().name.startswith("racer"):
            raced.done = True
            barrier.wait()
        return m

    def counting_rename(spark_, src, dst):
        ok = real_rename(spark_, src, dst)
        if not ok:
            refusals.append(dst)
        return ok

    monkeypatch.setattr(vt, "read_manifest", synced_read)
    monkeypatch.setattr(vt, "_rename", counting_rename)

    errors = []

    def run(lo, hi):
        try:
            vt_append(spark, _df(spark, lo, hi), table)
        except Exception as e:  # pragma: no cover - fail loudly below
            errors.append(e)

    t1 = threading.Thread(target=run, args=(10, 25), name="racer-a")
    t2 = threading.Thread(target=run, args=(25, 45), name="racer-b")
    t1.start(); t2.start(); t1.join(120); t2.join(120)

    assert not errors, errors
    assert len(refusals) >= 1, "no CAS refusal — the race never happened"
    # both appends landed
    assert sorted(r.id for r in vt_read(spark, table).collect()) == list(range(45))
    # lineage is linear: every version's parent is version-1, no gaps
    history = vt_history(spark, table)
    versions = [h["version"] for h in history]
    assert versions == list(range(len(versions)))
    assert latest_version(spark, table) == v_start + 2
    for v in versions[1:]:
        m = read_manifest(spark, table, v, resolve=False)
        assert m["parent"] == v - 1
    # the pinned reader's snapshot is byte-identical after the race
    pinned_after = sorted(
        r.id for r in vt_read(spark, table, version=v_start).collect()
    )
    assert pinned_after == pinned_before


def test_vacuum_spares_in_flight_manifest_spills(spark, table):
    """Round-6 ADVICE (medium): a concurrent writer spills m_*.parquet
    BEFORE its CAS rename; a vacuum tick in that window must NOT GC the
    in-flight files (it used to, bricking the subsequent commit). The
    grace window spares any spill newer than the oldest retained
    version manifest."""
    import json

    from endtoend_etl_openmeteo_spark.operators.manifest_list import (
        load_ref_entries,
        spill_entries,
    )

    vt_append(spark, _df(spark, 0, 10), table)
    vt_append(spark, _df(spark, 10, 20), table)
    # simulate the in-flight writer: entries spilled, vN.json not yet renamed
    entries = [
        {"path": f"data/inflight_{i:03d}.parquet", "n": 1, "cols": ["id", "v"]}
        for i in range(6)
    ]
    refs = spill_entries(spark, table, entries)
    vt_vacuum(spark, table, keep_last=1)
    # the in-flight spill survived the tick and still loads
    assert [e["path"] for e in load_ref_entries(spark, table, refs)] == [
        e["path"] for e in entries
    ]
    # and a genuinely old orphan (older than the oldest retained
    # manifest) is still collected: backdate a fresh spill, vacuum again
    import os
    import time

    stale = spill_entries(spark, table, entries[:2])
    for r in stale:
        p = os.path.join(table, r["ref"])
        os.utime(p, (time.time() - 3600, time.time() - 3600))
    vt_vacuum(spark, table, keep_last=1)
    assert not any(os.path.exists(os.path.join(table, r["ref"])) for r in stale)
    assert all(os.path.exists(os.path.join(table, r["ref"])) for r in refs)


def test_maintain_ticks_concurrent_with_appends(spark, table):
    """The round-6 ADVICE race, end to end: vt_maintain (compact + vacuum
    with orphan-spill GC) running WHILE a writer appends. The vacuum
    grace window must spare the writer's pre-CAS manifest spills, every
    append must land (rebase path as needed), and each retained snapshot
    must stay readable after every tick."""
    import threading

    from endtoend_etl_openmeteo_spark.operators.versioned import vt_count, vt_maintain

    vt_append(spark, _df(spark, 0, 20), table)
    rounds = 4
    rows_per = 30
    start = threading.Barrier(2, timeout=120)
    errors = []

    def writer():
        try:
            for i in range(rounds):
                start.wait()
                vt_append(
                    spark,
                    _df(spark, 20 + i * rows_per, 20 + (i + 1) * rows_per),
                    table,
                )
        except Exception as e:  # pragma: no cover
            errors.append(("writer", e))

    def maintainer():
        from endtoend_etl_openmeteo_spark.operators.versioned import (
            ConcurrentWriteError,
        )

        try:
            for _ in range(rounds):
                start.wait()
                # compact is read-modify-write: losing the CAS to a racing
                # append raises ConcurrentWriteError BY DESIGN ("re-run
                # against the current version") — the maintenance loop's
                # retry is part of the contract under test
                for _attempt in range(5):
                    try:
                        vt_maintain(spark, table, keep_last=2, max_files=4,
                                    small_file_mb=64)
                        break
                    except ConcurrentWriteError:
                        continue
                else:  # pragma: no cover
                    raise RuntimeError("5 conflicted maintain attempts")
        except Exception as e:  # pragma: no cover
            errors.append(("maintainer", e))

    t1 = threading.Thread(target=writer, name="vt-writer")
    t2 = threading.Thread(target=maintainer, name="vt-maintainer")
    t1.start(); t2.start(); t1.join(300); t2.join(300)
    assert not errors, errors
    # every append landed exactly once
    total = 20 + rounds * rows_per
    assert sorted(r.id for r in vt_read(spark, table).collect()) == list(range(total))
    assert vt_count(spark, table) == total
    # every retained snapshot is fully readable (no snapshot points at
    # GC'd manifest spills or data files)
    from endtoend_etl_openmeteo_spark.operators.versioned import _list_versions

    for v in _list_versions(spark, table):
        assert vt_read(spark, table, version=v).count() >= 0


def test_merge_raises_on_null_merge_keys(spark, table):
    """An all-NULL-key batch used to be classified as empty (min/max skip
    NULLs) and silently DROPPED by both merge flavors; NULL never equals
    NULL, so keyed upsert must fail loudly instead."""
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_merge,
        vt_merge_mor,
    )

    vt_append(spark, _df(spark, 0, 10).selectExpr("id", "v", "0L AS ts"), table)
    bad = spark.sql(
        "SELECT CAST(NULL AS BIGINT) AS id, 99L AS v, 1L AS ts "
        "UNION ALL SELECT NULL, 98L, 1L"
    )
    with pytest.raises(ValueError, match="NULL merge key"):
        vt_merge(spark, bad, table, keys=["id"], order_col="ts")
    with pytest.raises(ValueError, match="NULL merge key"):
        vt_merge_mor(spark, bad, table, keys=["id"], order_col="ts")
    # a mixed batch fails too (it would write SOME rows and drop none,
    # but the NULL-key rows would be LWW-collapsed nondeterministically)
    mixed = spark.sql(
        "SELECT 3L AS id, 99L AS v, 1L AS ts UNION ALL SELECT NULL, 98L, 1L"
    )
    with pytest.raises(ValueError, match="NULL merge key"):
        vt_merge(spark, mixed, table, keys=["id"], order_col="ts")
    with pytest.raises(ValueError, match="NULL merge key"):
        vt_merge_mor(spark, mixed, table, keys=["id"], order_col="ts")


def test_apply_cdc_carries_evolved_columns(spark, table):
    """A change feed carrying a column the replica predates (the source
    evolved additively between the diffed versions) must evolve the
    replica too — projecting it away broke the documented vt_diff
    round-trip identity."""
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_apply_cdc

    vt_append(spark, _df(spark, 0, 5), table)
    feed = spark.sql(
        "SELECT 1L AS id, 100L AS v, 'x' AS tag, 'update' AS change_type "
        "UNION ALL SELECT 7L, 700L, 'y', 'insert'"
    )
    vt_apply_cdc(spark, feed, table, keys=["id"])
    got = {r["id"]: (r["v"], r["tag"]) for r in vt_read(spark, table).collect()}
    assert got[1] == (100, "x") and got[7] == (700, "y")
    assert got[0] == (0, None)  # untouched rows gain a typed NULL


def test_vacuum_collects_aborted_commit_data_dirs(spark, table):
    """A writer lands data/<uuid>/ BEFORE the CAS; a lost race leaves the
    whole subdir referenced by no manifest. Vacuum reclaims it once its
    newest FILE is older than the oldest retained manifest; an in-flight
    (fresh) one survives the same tick — even when its DIRECTORY status
    carries a synthetic epoch mtime, the object-store case (round-8
    ADVICE): S3A-style filesystems fabricate directory statuses, so the
    grace window must never key on them."""
    import os
    import time

    from endtoend_etl_openmeteo_spark.operators.versioned import _write_data

    vt_append(spark, _df(spark, 0, 10), table)
    vt_append(spark, _df(spark, 10, 20), table)
    aborted = _write_data(spark, _df(spark, 90, 99), table)
    in_flight = _write_data(spark, _df(spark, 80, 89), table)
    aborted_dir = os.path.join(table, aborted[0]["path"].rsplit("/", 1)[0])
    in_flight_dir = os.path.join(table, in_flight[0]["path"].rsplit("/", 1)[0])
    # age the aborted commit: every file inside goes past the grace window
    old = time.time() - 3600
    for root, _dirs, files in os.walk(aborted_dir):
        for f in files:
            os.utime(os.path.join(root, f), (old, old))
    # the in-flight dir's STATUS lies (epoch mtime) but its files are fresh
    os.utime(in_flight_dir, (0, 0))
    vt_vacuum(spark, table, keep_last=1)
    assert not os.path.exists(aborted_dir)  # old orphan reclaimed
    assert os.path.exists(in_flight_dir)  # fresh FILES spare it (grace)
    # committed data untouched
    assert sorted(r["id"] for r in vt_read(spark, table).collect()) == list(range(20))


def test_vacuum_skips_fileless_orphan_subdirs(spark, table):
    """A subdir with no files yet (writer created the dir, hasn't landed a
    file) holds zero bytes and has no trustworthy age — vacuum must leave
    it alone rather than guess from the directory status."""
    import os

    vt_append(spark, _df(spark, 0, 10), table)
    vt_append(spark, _df(spark, 10, 20), table)
    empty = os.path.join(table, "data", "justborn00")
    os.makedirs(empty)
    os.utime(empty, (0, 0))  # even with an ancient-looking status
    vt_vacuum(spark, table, keep_last=1)
    assert os.path.isdir(empty)


def test_epoch_replay_detection_normalizes_types(spark, table):
    """A string epoch_id (parsed checkpoint metadata) must still match the
    stored int tag — '5' != 5 used to silently defeat exactly-once."""
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_append_epoch

    assert vt_append_epoch(spark, _df(spark, 0, 5), table, "run1", 5) is not None
    assert vt_append_epoch(spark, _df(spark, 0, 5), table, "run1", "5") is None
    assert vt_append_epoch(spark, _df(spark, 5, 8), table, "run1", "6") is not None
    assert vt_append_epoch(spark, _df(spark, 5, 8), table, "run1", 6) is None
    assert sorted(r["id"] for r in vt_read(spark, table).collect()) == list(range(8))


def test_delete_rewrite_keeps_bloom_sidecars(spark, table):
    """COW delete rewrites must rebuild bloom sidecars for the new file
    boundaries (vt_compact's rule) — dropping them silently degrades
    point-lookup pruning to keep-all."""
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_delete

    vt_append(
        spark, _df(spark, 0, 100), table, stats_cols=["id"], bloom_cols=["v"]
    )
    from pyspark.sql import functions as F

    version, touched, deleted = vt_delete(spark, table, F.col("id") < 10)
    assert deleted == 10 and touched >= 1
    entries = read_manifest(spark, table, version)["files"]
    assert entries and all("v" in e.get("bloom", {}) for e in entries)
    assert all("id" in e.get("stats", {}) for e in entries)


def test_count_exact_after_partial_rewrite_of_shared_delete_file(spark, table):
    """One MOR delete writes ONE delete file spanning several data files;
    a later COW merge rewrites only SOME of them (deletes materialized).
    vt_count must subtract only the surviving entries' delete rows — the
    per-entry delete_rows counter — not the shared file's footer total,
    which still counts the vanished rows."""
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_count,
        vt_delete_mor,
        vt_merge,
    )
    from pyspark.sql import functions as F

    # two files with disjoint key ranges (repartitionByRange on id)
    df = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    lowf = df.filter("id < 50").coalesce(1)
    highf = df.filter("id >= 50").coalesce(1)
    vt_append(spark, lowf, table, stats_cols=["id"])
    vt_merge(spark, highf, table, keys=["id"], order_col="v", stats_cols=["id"])
    # one delete hits BOTH files -> one shared delete file
    _, hit, ndel = vt_delete_mor(
        spark, table, (F.col("id") % 10 == 3)
    )
    assert hit == 2 and ndel == 10
    assert vt_count(spark, table) == 90
    assert vt_read(spark, table).count() == 90
    # merge touching only the LOW file (keys 0-9): materializes its
    # deletes; the high file carries forward with the shared delete file
    batch = spark.range(0, 10).selectExpr("id", "id * 100 AS v")
    vt_merge(spark, batch, table, keys=["id"], order_col="v", stats_cols=["id"])
    truth = vt_read(spark, table).count()
    assert vt_count(spark, table) == truth


def test_append_epoch_concurrent_replay_lands_once(spark, table, monkeypatch):
    """Exactly-once under a RACING replay of the same epoch (zombie
    driver + failover both replaying E): the CAS loser's rebase must
    re-check the epoch tag and back out — not re-land the batch — and
    its orphaned data files are cleaned up."""
    from endtoend_etl_openmeteo_spark.operators import versioned as V

    df = _df(spark, 0, 20)
    real_write_data = V._write_data
    state = {"raced": False}

    def racing_write_data(spark_, d, tbl, **kw):
        files = real_write_data(spark_, d, tbl, **kw)
        if not state["raced"]:
            state["raced"] = True
            # the concurrent replay commits the SAME epoch first
            v = V.vt_append_epoch(spark_, df, tbl, run_id="r1", epoch_id=7)
            assert v is not None
        return files

    monkeypatch.setattr(V, "_write_data", racing_write_data)
    out = V.vt_append_epoch(spark, df, table, run_id="r1", epoch_id=7)
    assert out is None  # loser backed out as a replay
    monkeypatch.undo()
    assert V.vt_count(spark, table) == 20  # batch landed exactly once
    assert vt_read(spark, table).count() == 20
    # the loser's data files were orphans and are gone
    live = {e["path"] for e in read_manifest(spark, table, latest_version(spark, table))["files"]}
    on_disk = {
        str(p.relative_to(table))
        for p in Path(table).glob("data/*/*.parquet")
    }
    assert on_disk == live


def test_apply_cdc_rejects_null_key_feed(spark, table):
    """vt_merge's NULL-key contract enforced on the CDC apply path: a
    NULL-key delete can never match (plain-equality anti join) and would
    silently survive — fail loudly instead."""
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_apply_cdc

    vt_append(spark, _df(spark, 0, 10), table)
    feed = spark.createDataFrame(
        [(None, "delete", None)], "id long, change_type string, v long"
    ).select("id", "change_type", "v")
    with pytest.raises(ValueError, match="NULL key"):
        vt_apply_cdc(spark, feed, table, keys=["id"])


def test_rename_carries_untouched_manifest_refs(spark, table):
    """On a spilled table, renaming a column NO entry recorded stats or
    bloom for is an O(1) manifest-list edit: every parent ref carries
    verbatim (same m_*.parquet paths), no respill."""
    from endtoend_etl_openmeteo_spark.operators import versioned as V
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        vt_rename_column,
    )

    old_inline = V._INLINE_MAX
    V._INLINE_MAX = 2  # force the spilled (two-tier) layout
    try:
        vt_append(
            spark,
            spark.range(0, 40).selectExpr("id", "id * 2 AS v").repartition(6),
            table,
            stats_cols=["id"],
        )
        parent_refs = [
            r["ref"]
            for r in read_manifest(
                spark, table, latest_version(spark, table), resolve=False
            )["files_ref"]
        ]
        # 'v' has no recorded stats/bloom anywhere; entries carry 'cols'
        v = vt_rename_column(spark, table, "v", "val")
        m = read_manifest(spark, table, v, resolve=False)
        assert [r["ref"] for r in m["files_ref"]] == parent_refs
        got = vt_read(spark, table)
        assert got.columns == ["id", "val"]
        assert got.count() == 40
        # renaming the STATS column still re-keys every entry (all dirty)
        v2 = vt_rename_column(spark, table, "id", "pk")
        m2 = read_manifest(spark, table, v2)
        assert all("pk" in e.get("stats", {}) for e in m2["files"])
        assert vt_read(spark, table).columns == ["pk", "val"]
    finally:
        V._INLINE_MAX = old_inline


def test_entries_record_bytes_and_size_totals_use_them(spark, table):
    """_write_data records per-file sizes at commit time so maintenance
    byte totals are manifest-only."""
    from endtoend_etl_openmeteo_spark.operators.versioned import (
        _total_bytes,
    )

    vt_append(spark, _df(spark, 0, 50), table)
    entries = read_manifest(spark, table, latest_version(spark, table))["files"]
    assert entries and all(e.get("bytes", 0) > 0 for e in entries)
    want = sum(
        p.stat().st_size for p in Path(table).glob("data/*/*.parquet")
    )
    assert _total_bytes(entries) == want
