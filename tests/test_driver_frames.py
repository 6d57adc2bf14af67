"""Frames built from driver-resident data are JVM frames.

``sources.io.local_frame`` is the one way the package turns Python
values into a frame, and the streaming carriers hand back their
memory-sink relation (or an Arrow copy of it) instead of re-shipping
collected rows. Neither path may plan a ``PythonRDD`` scan: that scan
forks Python workers only to unpickle rows the driver already holds.
"""

from __future__ import annotations

import ast
import datetime as dt
import json
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from employee_data_management_system_data_engineering_solution_spark.sources.io import (
    local_frame,
)

PKG = Path(__file__).resolve().parents[1] / (
    "employee_data_management_system_data_engineering_solution_spark"
)


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _sorted_rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: tuple(map(repr, t))
    )


def _write_events(path: Path, rows) -> None:
    """One events-table parquet file (the layout the replay stages)."""
    cols = list(zip(*rows))
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], "int64"),
                "ts": pa.array(cols[1], pa.timestamp("us")),
                "user_id": pa.array(cols[2], "int64"),
                "event_type": pa.array(cols[3], "string"),
                "value": pa.array(cols[4], "float64"),
                "props": pa.array(cols[5], "string"),
            }
        ),
        str(path),
    )


def _events(n_errors_1: int, n_errors_2: int):
    """emp 1 and emp 2 with the given counts of flagged ('error')
    events in January, plus one clean event for emp 3."""
    rows = []
    for i in range(n_errors_1):
        rows.append((i, dt.datetime(2024, 1, 5, 1, i), 1, "error", 1.0, "{}"))
    for i in range(n_errors_2):
        rows.append((100 + i, dt.datetime(2024, 1, 6, 2, i), 2, "error", 2.5, "{}"))
    rows.append((900, dt.datetime(2024, 1, 7), 3, "view", 4.0, "{}"))
    return rows


def _assert_jvm_frame_survives_rerun(spark, carrier, first_dir, second_dir):
    """``carrier(dir)`` returns a JVM frame; after a second call on
    other data (same sink names, same staging names) the first frame
    still reads its own rows."""
    first = carrier(first_dir)
    lineage = _rdd_lineage(first)
    assert "PythonRDD" not in lineage, lineage
    want = _sorted_rows(first)
    assert want
    second = carrier(second_dir)
    assert "PythonRDD" not in _rdd_lineage(second)
    other = _sorted_rows(second)
    assert other != want
    assert _sorted_rows(first) == want


def test_local_frame_equals_create_dataframe_with_nulls(spark):
    schema = "a INT, b STRING, c LONG"
    rows = [(1, "x", None), (None, None, 5), (3, None, None), (None, "y", 2**40)]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert _sorted_rows(got) == _sorted_rows(want)
    assert "PythonRDD" in _rdd_lineage(want)
    assert "PythonRDD" not in _rdd_lineage(got)
    empty = local_frame(spark, [], want.schema)
    assert empty.schema == want.schema and empty.count() == 0


def test_strike_stream_returns_jvm_frame(spark, tmp_path):
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_strike_stream,
    )

    _write_events(tmp_path / "a" / "events.parquet", _events(3, 12))
    _write_events(tmp_path / "b" / "events.parquet", _events(1, 2))
    _assert_jvm_frame_survives_rerun(
        spark,
        lambda d: run_strike_stream(spark, d, state_partitions=2),
        str(tmp_path / "a"),
        str(tmp_path / "b"),
    )


def test_windowed_stream_returns_jvm_frame(spark, tmp_path):
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_windowed_flag_stream,
    )

    _write_events(tmp_path / "a" / "events.parquet", _events(3, 12))
    _write_events(tmp_path / "b" / "events.parquet", _events(1, 2))
    _assert_jvm_frame_survives_rerun(
        spark,
        lambda d: run_windowed_flag_stream(spark, d, state_partitions=2),
        str(tmp_path / "a"),
        str(tmp_path / "b"),
    )


def test_upsert_stream_returns_jvm_frame(spark, tmp_path):
    """Both calls use an sf dir with the same base name, so the second
    call deletes and rebuilds the dim directory the first one read."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.upsert import (
        run_upsert_stream,
    )

    _write_events(tmp_path / "a" / "frames_sf" / "events.parquet", _events(3, 12))
    _write_events(tmp_path / "b" / "frames_sf" / "events.parquet", _events(1, 2))
    _assert_jvm_frame_survives_rerun(
        spark,
        lambda d: run_upsert_stream(spark, d),
        str(tmp_path / "a" / "frames_sf"),
        str(tmp_path / "b" / "frames_sf"),
    )


def _write_wire(path: Path, messages) -> None:
    """One parquet file of Kafka wire rows (KAFKA_WIRE_SCHEMA)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from employee_data_management_system_data_engineering_solution_spark.streaming.kafka import (
        KAFKA_WIRE_SCHEMA,
    )

    path.parent.mkdir(parents=True, exist_ok=True)
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    cols = {
        "key": [str(m["user_id"]).encode() for m in messages],
        "value": [json.dumps(m).encode() for m in messages],
        "topic": ["emp-comms"] * len(messages),
        "partition": [m["user_id"] % 2 for m in messages],
        "offset": list(range(len(messages))),
        "timestamp": [ts] * len(messages),
        "timestampType": [0] * len(messages),
    }
    schema = to_arrow_schema(KAFKA_WIRE_SCHEMA)
    pq.write_table(pa.table(cols, schema=schema), str(path))


def _messages(n_flagged_1: int, n_flagged_2: int):
    def msg(i, uid, flagged):
        return {
            "event_id": i,
            "ts": f"2021-01-05T00:00:{i % 60:02d}",
            "user_id": uid,
            "event_type": "message",
            "value": 0.0,
            "props": "contains confidential data" if flagged else "lunch plans",
        }

    out = [msg(i, 1, True) for i in range(n_flagged_1)]
    out += [msg(100 + i, 2, True) for i in range(n_flagged_2)]
    return out + [msg(200, 3, False)]


def test_strike_stream_from_wire_returns_jvm_frame(spark, tmp_path):
    from employee_data_management_system_data_engineering_solution_spark.streaming.kafka import (
        run_strike_stream_from_wire,
    )

    _write_wire(tmp_path / "a" / "seg.parquet", _messages(3, 12))
    _write_wire(tmp_path / "b" / "seg.parquet", _messages(1, 2))
    _assert_jvm_frame_survives_rerun(
        spark,
        lambda d: run_strike_stream_from_wire(spark, d, state_partitions=2),
        str(tmp_path / "a"),
        str(tmp_path / "b"),
    )


def test_create_dataframe_only_in_sources_io():
    """The package builds frames from Python values in one place,
    ``sources.io`` (``local_frame``); any other ``createDataFrame``
    call would bring back the Python-RDD scan."""
    allowed = PKG / "sources" / "io.py"
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not offenders, offenders
