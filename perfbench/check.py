"""Output checks: DuckDB reference answers and the frame comparison the
workloads apply to every op result."""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

# the SCD-2 version chain of the events table: one version per event,
# closed by the same user's next event (the ``_versions`` shape of
# ``__spark_entry__``)
VERSIONS_SQL = (
    "SELECT user_id AS _oid, event_type, value, ts AS _start, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _end "
    "FROM events"
)


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda x: None if x is None else
                              (str(sorted(x)) if isinstance(x, (list, np.ndarray)) else str(x)))
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def frame_diff(got: pd.DataFrame, want: pd.DataFrame, atol: float = 1e-9) -> str | None:
    """None when the frames hold the same rows (any order; floats within
    ``atol``), else a one-line description of the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        gv, wv = g[c], w[c]
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            a, b = gv.astype(float).to_numpy(), wv.astype(float).to_numpy()
            ok = np.isclose(a, b, rtol=0, atol=atol, equal_nan=True)
        else:
            ok = ((gv == wv) | (gv.isna() & wv.isna())).to_numpy()
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            return f"column {c} row {i}: {gv.iloc[i]!r} != {wv.iloc[i]!r}"
    return None


def scalar_diff(got, want) -> str | None:
    if isinstance(want, float) and isinstance(got, (int, float)):
        return None if math.isclose(got, want, abs_tol=1e-9) else f"{got!r} != {want!r}"
    return None if got == want else f"{got!r} != {want!r}"


def closure(children: dict[int, list[int]], seeds, level: int | None) -> list[int]:
    """Reference breadth-first closure for ``deptree``: seeds included,
    at most ``level`` hops."""
    seen, fringe, hop = set(seeds), set(seeds), 0
    while fringe and (level is None or hop < level):
        fringe = {c for p in fringe for c in children.get(p, ())} - seen
        seen |= fringe
        hop += 1
    return sorted(seen)
