"""Event-stream plans against their DuckDB oracles on hand-built edge
cases."""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import duckdb

from idn_area_etl_spark.plans import events


def test_sessionize_splits_on_fractional_gap(spark, tmp_path: Path):
    """A 1800.05 s gap is over the 1800 s limit, although the whole
    seconds of the two events differ by exactly 1800."""
    con = duckdb.connect()
    con.execute(
        f"""COPY (
          SELECT * FROM (VALUES
            (1::BIGINT, TIMESTAMP '2024-01-01 00:00:00.90', 7::BIGINT,
             'view', 1.25::DOUBLE, '{{}}'),
            (2::BIGINT, TIMESTAMP '2024-01-01 00:30:00.95', 7::BIGINT,
             'view', 2.50::DOUBLE, '{{}}'))
            AS t(event_id, ts, user_id, event_type, value, props)
        ) TO '{tmp_path / "events.parquet"}' (FORMAT parquet)"""
    )
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'"
    )
    oracle = con.execute(events.Q_EVENTS_SESSIONIZE_SQL).fetchall()
    got = sorted(
        tuple(r)
        for r in events.q_events_sessionize(spark, str(tmp_path)).collect()
    )
    first = datetime(2024, 1, 1, 0, 0, 0, 900000)
    second = datetime(2024, 1, 1, 0, 30, 0, 950000)
    assert oracle == [(7, 1, 1, first, first, 1.25), (7, 2, 1, second, second, 2.5)]
    assert got == oracle
