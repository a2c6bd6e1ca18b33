"""Generator determinism and the Spark-free expected-output model.

    python3 -m pytest perfbench/tests -q -p no:benchmark
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from expected import EtlOracle, check_records
from workloads import tail


def _bytes(path):
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_writes_identical_files(tmp_path):
    a = gen.write_events_day(str(tmp_path / "a"), 7, 3, 5_000)
    b = gen.write_events_day(str(tmp_path / "b"), 7, 3, 5_000)
    c = gen.write_events_day(str(tmp_path / "c"), 8, 3, 5_000)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)
    gen.write_query_fixture(str(tmp_path / "q1"), 7, scale=0.001)
    gen.write_query_fixture(str(tmp_path / "q2"), 7, scale=0.001)
    names = sorted(os.listdir(tmp_path / "q1"))
    assert names == sorted(f"{t}.parquet" for t in gen.query_tables(7, 0.001))
    for n in names:
        assert _bytes(tmp_path / "q1" / n) == _bytes(tmp_path / "q2" / n)


def test_day_file_carries_every_branch_property():
    day, rows = 5, 20_000
    t = gen.events_day(11, day, rows).to_pandas()
    assert len(t) == rows and t.event_id.is_unique
    assert t.event_id.between(rows * day, rows * (day + 1) - 1).all()
    assert t.user_id.isna().mean() > 0.005                       # F1 drops
    assert (t.event_type == "error").mean() > 0.1                # F3 drops
    assert (~t.props.str.contains('"k"')).mean() > 0.02          # extraction misses
    valid = t.dropna(subset=["user_id"])
    dup = valid[valid.duplicated(["user_id", "ts", "event_type"], keep=False)]
    assert len(dup) > 0 and dup.event_id.is_unique               # K4 drops
    start = np.datetime64(gen.day_start_us(day), "us")
    late = t[t.ts < start]
    assert len(late) == int(rows * gen.LATE_SHARE)               # F4 drops
    assert (late.ts < start - np.timedelta64(2, "D")).all()      # out of a replay's reach


def _write(path, rows):
    ts = [np.datetime64(gen.EPOCH0_US + r[1], "us") for r in rows]
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": [r[3] for r in rows],
        "value": [1.0] * len(rows),
        "props": [r[4] for r in rows],
    }), path)
    return str(path)


def test_oracle_applies_reference_semantics(tmp_path):
    wm0 = gen.EPOCH0_US
    f1 = _write(tmp_path / "d0.parquet", [
        (5, 10, 1, "click", '{"k": 1}'),
        (3, 10, 1, "click", '{"k": 2}'),      # same key, lower id: survives
        (6, 11, None, "view", '{"k": 3}'),    # NULL user: F1
        (7, 12, 2, "error", '{"k": 4}'),      # untracked: F3
        (8, 13, 2, "view", '{"j": 5}'),       # no k: NULL detail
        (9, -2 * gen.DAY_US, 3, "view", '{"k": 6}'),  # below the watermark: F4
    ])
    o = EtlOracle(wm0)
    first = o.trigger([f1])
    assert first == {"watermark_before": wm0, "records_fetched": 2, "records_inserted": 2}
    rows = sorted(o.con.execute("SELECT event_id, event_name_detail FROM target").fetchall())
    assert rows == [("3", "2"), ("8", None)]
    assert o.watermark_us == wm0 + 13
    assert o.trigger([f1])["records_fetched"] == 0             # idle
    o.rewind()
    replay = o.trigger([f1])                                   # crash replay
    assert replay["records_fetched"] == 2 and replay["records_inserted"] == 0
    assert o.watermark_us == wm0 + 13
    o.close()


def test_oracle_without_watermark_models_the_micro_batch(tmp_path):
    f0 = _write(tmp_path / "d0.parquet", [
        (1, 10, 1, "click", '{"k": 1}'),
        (2, 10, 1, "click", '{"k": 2}'),      # same key, higher id: K4 drops it
        (3, -2 * gen.DAY_US, 3, "view", '{"k": 3}'),  # late: no F4 in the stream
    ])
    f1 = _write(tmp_path / "d1.parquet", [
        (4, 10, 1, "click", '{"k": 4}'),      # key already in the target: skipped
        (5, 20, 2, "view", '{"k": 5}'),
    ])
    o = EtlOracle(None)
    assert o.trigger([f0])["records_inserted"] == 2
    assert o.trigger([f1])["records_inserted"] == 1
    assert o.target_rows() == 3 and o.watermark_us is None
    o.close()


def test_check_records_reports_each_mismatch():
    want = [{"records_fetched": 2, "records_inserted": 2}]
    assert check_records([{"status": "success", **want[0]}], want) == []
    bad = check_records([{"status": "success", "records_fetched": 2, "records_inserted": 1}], want)
    assert bad == ["trigger 0: records_inserted = 1, expected 2"]
    assert check_records([{"status": "error", "error": "x"}], want)
    assert check_records([], want) == ["0 records for 1 triggers"]


def test_tail_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 401)]
    assert tail(xs) == (95.0, 381.0)
    assert tail(xs[:50])[0] == 50.0
