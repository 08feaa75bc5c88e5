"""Output checks, made apart from the engine under test.

Query results are compared with the query's registered oracle SQL run
on DuckDB over the same parquet files: row count, column names and an
order-insensitive hash of the values. The rule, the table list and the
DuckDB views are imported from ``tools/compare_oracle.py``, the
repository's oracle comparison, so the two cannot drift apart. Stream
output is checked for conservation (rows out + corrupt rows == rows in,
corrupt rows == rows the generator corrupted) and against a pure-Python
replay of the generator's records.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Iterable

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from compare_oracle import TABLES, canon, duck_conn  # noqa: E402,F401


def compare_result(rows, cols, want_rows, want_cols) -> list[str]:
    """Problems found comparing one result with its oracle; empty if equal."""
    if sorted(cols) != sorted(want_cols):
        return [f"columns {sorted(cols)} != oracle {sorted(want_cols)}"]
    if len(rows) != len(want_rows):
        return [f"{len(rows)} rows != oracle {len(want_rows)}"]
    if canon(rows, cols) != canon(want_rows, want_cols):
        return ["value hash differs from oracle"]
    return []


def oracle_result(con, sql: str) -> tuple[list[tuple], list[str]]:
    res = con.execute(sql)
    return res.fetchall(), [d[0] for d in res.description]


def outcome(attempted: int, failed: int, problems) -> dict:
    """The run's result header. ``correct`` is false when any operation
    that did not fail returned a wrong result (``problems`` non-empty);
    operations that raised count only in ``failed``."""
    return {"correct": not problems, "attempted": attempted, "failed": failed}


def _nan_to_none(x):
    return None if x is None or (isinstance(x, float) and math.isnan(x)) else x


def check_stream(
    sink_rows: Iterable[tuple[str, str | None, float | None, float | None, str | None]],
    rows_in: int,
    corrupt_in: int,
    expected: dict[str, list[tuple[str, float, float | None]]],
) -> list[str]:
    """Check the stream sink against the generator.

    ``sink_rows`` are (device, iso timestamp, value, delta, payload)
    tuples; a row with a payload is a diverted corrupt message.
    ``expected`` is ``gen_stream.replay`` of the fed files' records.
    """
    corrupt = 0
    got: dict[str, list[tuple[str, float, float | None]]] = {}
    for dev, ts, value, delta, payload in sink_rows:
        if payload is not None:
            corrupt += 1
        else:
            got.setdefault(dev, []).append((ts, value, _nan_to_none(delta)))
    problems = []
    n_out = sum(len(v) for v in got.values())
    if corrupt != corrupt_in:
        problems.append(f"{corrupt} corrupt rows routed != {corrupt_in} corrupted by the generator")
    if n_out + corrupt != rows_in:
        problems.append(f"{n_out} rows out + {corrupt} corrupt != {rows_in} rows in")
    # timestamps are unique per device, so sorting on them alone is total
    bad = [
        d for d in set(got) | set(expected)
        if sorted(got.get(d, []), key=lambda r: r[0]) != sorted(expected.get(d, []), key=lambda r: r[0])
    ]
    if bad:
        problems.append(f"{len(bad)} devices' deltas differ from the replay (e.g. {sorted(bad)[0]})")
    return problems
