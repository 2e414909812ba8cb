"""The seeded input generator: determinism and the upsert pattern."""

import datetime as dt

from perfbench import gen


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (gen.WeatherInputs(s, 4, 2) for s in (7, 7, 8))
    assert a.history_rows() == b.history_rows()
    assert a.batch_payloads(3) == b.batch_payloads(3)
    assert a.history_rows() != c.history_rows()
    assert gen.request_sequence(7, list(range(9)), 2) == gen.request_sequence(7, list(range(9)), 2)


def test_batches_resend_all_but_one_hour_of_the_lookback():
    inp = gen.WeatherInputs(1, 3, 2, lookback=6)
    assert inp.batch_rows() == 18
    h0, h1 = inp.batch_hours(0), inp.batch_hours(1)
    assert len(set(h0) & set(h1)) == 5
    assert h1[-1] - h0[-1] == dt.timedelta(hours=1)
    assert inp.batch_ingested_at(1) > inp.batch_ingested_at(0) > inp.history_rows()[-1][-1]


def test_expected_silver_keeps_the_last_write():
    inp = gen.WeatherInputs(2, 2, 1, lookback=3)
    exp = inp.expected_silver(2)
    assert len(exp) == 2 * (24 + 2)  # history + one new hour per batch
    city = inp.cities[0]["city"]
    shared = inp.batch_hours(1)[0]  # sent by batch 0 and batch 1
    payload = dict(inp.batch_payloads(1))[city]
    i = payload["hourly"]["time"].index(shared.strftime("%Y-%m-%dT%H:%M"))
    assert exp[(city, shared)][0] == payload["hourly"]["temperature_2m"][i]
    assert exp[(city, shared)][3] == inp.batch_ingested_at(1)


def test_expected_gold_averages_ignore_nulls():
    day = dt.datetime(2024, 1, 1)
    silver = {
        ("x", day): (1.0, None, 3.0, day),
        ("x", day + dt.timedelta(hours=1)): (3.0, None, None, day),
    }
    assert gen.expected_gold(silver) == {("x", day): (2.0, None, 3.0)}


def test_dashboard_oracle_rank_orders_by_temperature():
    day = dt.datetime(2024, 1, 1)
    gold = {("a", day): (5.0, 1.0, 1.0), ("b", day): (9.0, 2.0, 1.0)}
    p = {"city": "a", "lo": "2024-01-01 00:00:00", "hi": "2024-01-02 00:00:00"}
    rows = gen.dashboard_oracle("dash_city_rank", p, {}, gold)
    assert sorted(rows) == [("a", 5.0, 1.0, 2), ("b", 9.0, 2.0, 1)]


def test_star_schema_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    n1 = gen.write_star_schema(str(tmp_path / "a"), 0.0002, seed=3)
    gen.write_star_schema(str(tmp_path / "b"), 0.0002, seed=3)
    assert n1["lineitem"] == 2000
    for name in n1:
        assert pq.read_table(tmp_path / "a" / f"{name}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{name}.parquet")
        )
