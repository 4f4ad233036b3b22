"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import batch, datagen, ingest, metrics, streamgen

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_generator_same_seed_same_events():
    for k in (0, 1, 7):
        a, da = streamgen.file_events(5, k)
        b, db = streamgen.file_events(5, k)
        assert a.equals(b) and da == db


def test_generator_seed_drives_disorder_and_duplicates():
    a, _ = streamgen.file_events(5, 3)
    b, _ = streamgen.file_events(6, 3)
    assert not a.equals(b)
    # the fresh rows are the same events either way; only lateness,
    # duplicates and row order move with the seed
    fresh = lambda t: set(t.column("event_id").to_pylist()) & set(  # noqa: E731
        range(3 * streamgen.ROWS_PER_FILE, 4 * streamgen.ROWS_PER_FILE))
    assert fresh(a) == fresh(b)


def test_generator_disorder_and_duplicates_stay_inside_the_delays():
    total_dups = 0
    for k in range(1, 12):
        t, dups = streamgen.file_events(11, k)
        total_dups += dups
        ids = t.column("event_id").to_numpy()
        ts = t.column("ts").to_numpy().astype(np.int64)
        assert len(ids) - len(np.unique(ids)) <= dups
        # every row is newer than the earliest row of file k-2, less the
        # disorder bound: well inside the 2 hour watermark / dedup delay
        floor = (datagen.EVENTS_T0_US + (k - 2) * streamgen.ROWS_PER_FILE
                 * streamgen.ROW_EVENT_US - streamgen.MAX_DISORDER_US)
        assert ts.min() >= floor
        newest = datagen.EVENTS_T0_US + (k + 1) * streamgen.ROWS_PER_FILE * streamgen.ROW_EVENT_US
        assert newest - floor < 2 * 3600 * 1_000_000
        dup_ids = ids[ids < k * streamgen.ROWS_PER_FILE]
        assert len(dup_ids) == dups
    assert total_dups > 0


def test_generator_lands_files_with_schedule_log(tmp_path, monkeypatch):
    inbox, staging = tmp_path / "in", tmp_path / "st"
    inbox.mkdir()
    staging.mkdir()
    log = tmp_path / "log.json"
    monkeypatch.setattr(streamgen, "RATE", 50.0)
    monkeypatch.setattr(streamgen, "OPEN_FILES", 3)
    streamgen.run(3, 5, str(inbox), str(staging), str(log))
    recs = json.loads(log.read_text())
    first = streamgen.FIRST_FILES
    assert [r["k"] for r in recs] == list(range(first, first + 5))
    assert sorted(os.listdir(inbox)) == [f"part-{k:06d}.parquet" for k in range(first, first + 5)]
    assert not os.listdir(staging)
    assert all(r["landed"] >= r["scheduled"] for r in recs)
    # three open-loop files at the rate, then the backlog, due together
    gaps = np.diff([r["scheduled"] for r in recs])
    assert np.allclose(gaps, [1 / 50.0] * 3 + [0.0])


def test_job_order_is_a_seeded_permutation():
    a, b, c = batch.pass_orders(9), batch.pass_orders(9), batch.pass_orders(10)
    first = [next(a) for _ in range(3)]
    assert first == [next(b) for _ in range(3)]
    assert first != [next(c) for _ in range(3)]
    for order in first:
        assert sorted(order) == sorted(metrics.TPCH_ROWS)
    assert first[0] != first[1]


def test_fixture_tables_are_deterministic():
    a, b = datagen.build_tables(0.001), datagen.build_tables(0.001)
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 6000


def test_percentile_refuses_thin_tails():
    with pytest.raises(metrics.TooFewSamples):
        metrics.percentile(list(range(99)), 0.9)
    with pytest.raises(metrics.TooFewSamples):
        metrics.percentile(list(range(19)), 0.5)
    assert metrics.percentile(list(range(100)), 0.9) == pytest.approx(
        np.percentile(range(100), 90))
    assert metrics.percentile(list(range(20)), 0.5) == pytest.approx(9.5)


def test_geomean():
    assert metrics.geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        metrics.geomean([1.0, 0.0])


def test_weighted_percentile_counts_rows():
    # 30 rows at 1.0 and 70 rows at 2.0: the median row waited 2.0
    assert metrics.percentile([1.0, 2.0], 0.5, [30, 70]) == 2.0
    assert metrics.percentile([1.0, 2.0], 0.25, [30, 70]) == 1.0
    with pytest.raises(metrics.TooFewSamples):
        metrics.percentile([1.0, 2.0], 0.9, [5, 5])


def test_metric_names_units_and_counts():
    spec = metrics.load_spec()
    e2e, layer = spec["end_to_end"], spec["per_layer"]
    names = [m["name"] for m in e2e + layer]
    assert len(names) == len(set(names))
    for m in e2e + layer:
        assert metrics.NAME_RE.fullmatch(m["name"]), m
        assert metrics.UNIT_RE.fullmatch(m["unit"]), m
        assert m["better"] in ("higher", "lower"), m
    assert 1 <= len(e2e) <= 16
    assert 1 <= len(layer) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in e2e)
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in e2e if m["name"] == "setup_s").items()
    # every TPC-H row has its per-query metric
    assert {f"queries.{row}_s" for row in metrics.TPCH_ROWS} <= set(names)


def test_expected_view_dedups_before_aggregating():
    a = pd.DataFrame({"event_id": [1, 2, 3], "user_id": [7, 7, 8],
                      "value": [0.29, 1.10, 2.00]})
    b = pd.DataFrame({"event_id": [2], "user_id": [7], "value": [1.10]})
    got = ingest.expected_view([a, b]).set_index("user_id")
    assert got.loc[7].tolist() == [2, 139, 29, 110]
    assert got.loc[8].tolist() == [1, 200, 200, 200]


def test_files_read_bytes_sums_scan_nodes():
    from perfbench.tracing import files_read_bytes

    execution = {"nodes": [
        {"nodeName": "Scan parquet ", "metrics": [
            {"name": "number of files read", "value": "1"},
            {"name": "size of files read", "value": "10.5 MiB"}]},
        {"nodeName": "Scan parquet ", "metrics": [
            {"name": "size of files read",
             "value": "total (min, med, max)\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB)"}]},
        {"nodeName": "HashAggregate", "metrics": [
            {"name": "peak memory", "value": "64.0 MiB"}]},
    ]}
    assert files_read_bytes(execution) == 10.5 * (1 << 20) + 2048
    assert files_read_bytes({}) == 0
