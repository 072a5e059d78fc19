"""Reference-semantics regression (SURVEY.md §5.2): the solar-flare
pipeline replayed over two overlapping batches must be idempotent —
encoding /root/reference/dags/etl.py:74 (ON CONFLICT DO NOTHING) and
README.md:74 (overlapping 30-day fetch windows)."""

from __future__ import annotations

import json

import pytest

from solarflare_etl_pipeline_spark.sources.json_ingest import (
    load_flares,
    read_flare_json,
    transform_flares,
)


def _write_batch(tmp_path, name, records):
    p = tmp_path / name
    p.write_text("\n".join(json.dumps(r) for r in records))
    return str(p)


def _mk_flare(i, **over):
    rec = {
        "flrID": f"2025-01-{i:02d}T00:00:00-FLR-001",
        "classType": "M1.0",
        "beginTime": f"2025-01-{i:02d}T01:00Z",
        "peakTime": f"2025-01-{i:02d}T01:30Z",
        "endTime": f"2025-01-{i:02d}T02:00Z",
        "sourceLocation": "N05E34",
        "activeRegionNum": 13000 + i,
        "link": f"https://example.invalid/flr/{i}",
    }
    rec.update(over)
    return rec


@pytest.fixture()
def batches(tmp_path):
    # two overlapping 30-day windows: days 1-20 and 10-28 (>20% shared keys),
    # some records missing endTime / activeRegionNum (null tolerance)
    b1 = [_mk_flare(i) for i in range(1, 21)]
    b1[3].pop("endTime")
    b1[5].pop("activeRegionNum")
    b2 = [_mk_flare(i) for i in range(10, 29)]
    b2[2].pop("activeRegionNum")
    return (
        _write_batch(tmp_path, "batch1.json", b1),
        _write_batch(tmp_path, "batch2.json", b2),
        str(tmp_path / "target"),
    )


def test_transform_schema_and_nulls(spark, batches):
    b1, _, _ = batches
    out = transform_flares(read_flare_json(spark, b1))
    assert out.columns == [
        "flr_id", "class_type", "begin_time", "peak_time",
        "end_time", "source_location", "active_region_num", "link",
    ]
    rows = {r.flr_id: r for r in out.collect()}
    assert len(rows) == 20
    # missing JSON keys became NULLs (reference dict.get semantics)
    assert rows["2025-01-04T00:00:00-FLR-001"].end_time is None
    assert rows["2025-01-06T00:00:00-FLR-001"].active_region_num is None
    # ISO-8601 minute-precision strings became real timestamps
    assert rows["2025-01-01T00:00:00-FLR-001"].begin_time.hour == 1


def test_idempotent_overlapping_batches(spark, batches):
    b1, b2, target = batches
    load_flares(spark, b1, target)
    assert spark.read.parquet(target).count() == 20
    load_flares(spark, b2, target)
    # days 10-20 overlap: only days 21-28 are new
    assert spark.read.parquet(target).count() == 28
    # replaying batch2 adds nothing (full idempotence)
    load_flares(spark, b2, target)
    df = spark.read.parquet(target)
    assert df.count() == 28
    assert df.select("flr_id").distinct().count() == 28


def test_unreadable_target_fails_the_load(spark, tmp_path):
    """Only a missing target means "no table yet": a target that exists
    but cannot be read as Parquet must fail the load, not skip the keyed
    dedup and append every fetched row again."""
    fetch = _write_batch(tmp_path, "fetch.json", [_mk_flare(i) for i in (1, 2, 3)])
    target = tmp_path / "target"
    target.mkdir()
    (target / "junk.txt").write_text("not parquet")
    for _ in range(2):
        with pytest.raises(Exception):
            load_flares(spark, fetch, str(target))
    assert sorted(p.name for p in target.iterdir()) == ["junk.txt"]


def test_pretty_printed_fetch_fails_and_leaves_target(spark, batches, tmp_path):
    """A pretty-printed JSON array is not line-delimited: the read must
    fail instead of appending an all-NULL row with a NULL key. Compact
    one-line arrays, like the DONKI API returns, still load."""
    b1, _, target = batches
    load_flares(spark, b1, target)
    recs = [_mk_flare(i) for i in range(21, 24)]
    pretty = tmp_path / "pretty.json"
    pretty.write_text(json.dumps(recs, indent=2))
    with pytest.raises(Exception):
        load_flares(spark, str(pretty), target)
    df = spark.read.parquet(target)
    assert df.count() == 20
    assert df.where("flr_id IS NULL").count() == 0
    compact = tmp_path / "compact.json"
    compact.write_text(json.dumps(recs))
    load_flares(spark, str(compact), target)
    assert spark.read.parquet(target).count() == 23
