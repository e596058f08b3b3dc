"""Output checks, run after the timed ops so they never count in a latency.

- A registry query is compared with its DuckDB oracle through
  ``tools/verify_local.compare`` (column names, row count, every value);
  a query with no oracle gets a rows-only check.
- An hour batch must hold the 60-minutes x groups invariant: one row per
  (event_type, minute) of its hour, no NULL value, and ``validate``
  reporting the batch complete with the matching counts.
- The standing fact table must equal a DuckDB latest-per-``event_id``
  dedup of every hour ingested, replays included, hour by hour.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import duckdb
import verify_local


class Collected:
    """A query's result as the timed op collected it, shaped like the
    DataFrame ``verify_local.compare`` expects, so checking it does not run
    the query again."""

    def __init__(self, df, pdf) -> None:
        self.schema = df.schema
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class _Relation:
    """An oracle result: column names, DuckDB type names and the frame."""

    def __init__(self, columns, types, frame) -> None:
        self.columns = list(columns)
        self.types = [str(t) for t in types]
        self._df = frame

    def df(self):
        return self._df


class OracleCache:
    """A DuckDB connection whose ``sql`` result is computed once per query
    text, so each op of a run is checked against the same oracle frame.

    An oracle depends only on its SQL and the inputs, which come from a
    fixed data seed, so the result is also kept on disk in ``cache_dir``
    under a key of the SQL, the inputs and the DuckDB version; later runs
    in the same checkout read it instead of recomputing it."""

    def __init__(self, con, cache_dir: str, inputs_key: str) -> None:
        self.con = con
        self.cache_dir = cache_dir
        self.inputs_key = inputs_key
        self._cache: dict[str, _Relation] = {}

    def _path(self, query: str) -> str:
        key = "\0".join((self.inputs_key, duckdb.__version__, query))
        return os.path.join(
            self.cache_dir, hashlib.sha256(key.encode()).hexdigest() + ".pkl")

    def sql(self, query: str) -> _Relation:
        if query in self._cache:
            return self._cache[query]
        path = self._path(query)
        try:
            with open(path, "rb") as fh:
                rel = pickle.load(fh)
        except (OSError, pickle.UnpicklingError, EOFError):
            r = self.con.sql(query)
            rel = _Relation(r.columns, r.types, r.df())
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "wb") as fh:
                pickle.dump(rel, fh)
            os.replace(tmp, path)
        self._cache[query] = rel
        return rel


class Checker:
    def __init__(self, data_dir: str, cache_dir: str, inputs_key: str) -> None:
        self.con = verify_local.duck_connect(data_dir)
        self.oracle = OracleCache(self.con, cache_dir, inputs_key)

    def query(self, spec, df, pdf) -> list[str]:
        if spec.oracle is None:
            return [] if pdf is not None else ["no rows collected"]
        return verify_local.compare(spec.name, Collected(df, pdf), self.oracle, spec.oracle)

    def _hour_events(self, hour_start: int) -> str:
        return (
            "FROM events WHERE ts >= epoch_ms({0}) AND ts < epoch_ms({1})"
        ).format(hour_start * 1000, (hour_start + 3600) * 1000)

    def hour_rows(self, hour_start: int) -> int:
        return self.con.sql("SELECT count(*) " + self._hour_events(hour_start)).fetchone()[0]

    def hour(self, hour_start: int, interp, validation) -> list[str]:
        """The 60-minutes x groups invariant of one batch's output."""
        where = self._hour_events(hour_start)
        groups, minutes = self.con.sql(
            "SELECT count(DISTINCT event_type), "
            "count(DISTINCT (event_type, date_trunc('minute', ts))) " + where
        ).fetchone()
        problems = []
        expected = 60 * groups
        keys = interp[["event_type", "minute_ts"]].drop_duplicates()
        if len(interp) != expected or len(keys) != expected:
            problems.append(
                f"interpolated rows {len(interp)} ({len(keys)} distinct), "
                f"expected 60 x {groups} groups = {expected}"
            )
        if interp["value"].isna().any():
            problems.append("NULL value in the interpolated output")
        if len(validation) != 1:
            return problems + [f"validate returned {len(validation)} rows"]
        v = validation.iloc[0]
        want = {
            "is_complete": True,
            "expected_records": expected,
            "total_records": expected,
            "actual_records": minutes,
            "interpolated_records": expected - minutes,
            "null_value_count": 0,
        }
        for col, val in want.items():
            if v[col] != val:
                problems.append(f"validate {col}={v[col]!r}, expected {val!r}")
        return problems

    def fact_table(self, fact, hours: set[int]) -> dict[int, list[str]]:
        """Per ingested hour, how the standing fact table differs from the
        latest-per-event_id dedup of that hour's events."""
        cols = "event_id, event_type, value"
        got = fact.selectExpr(
            "CAST(floor(unix_timestamp(ts) / 3600) * 3600 AS BIGINT) AS h",
            *cols.split(", "),
        ).toPandas()
        unions = " UNION ALL ".join(
            f"SELECT {h} AS h, {cols}, ts {self._hour_events(h)}" for h in sorted(hours)
        )
        want = self.con.sql(
            f"SELECT h, {cols} FROM ({unions}) "
            "QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) = 1"
        ).df()
        out: dict[int, list[str]] = {}
        for h in hours:
            a = got[got.h == h].drop(columns="h").sort_values("event_id")
            b = want[want.h == h].drop(columns="h").sort_values("event_id")
            a_rows = list(a.itertuples(index=False, name=None))
            b_rows = list(b.itertuples(index=False, name=None))
            if a_rows != b_rows:
                out[h] = [
                    f"fact rows for hour {h}: {len(a_rows)}, deduped events: {len(b_rows)}"
                ]
        extra = set(got.h.unique()) - hours
        if extra:
            out.setdefault(min(hours), []).append(
                f"fact table holds rows of hours never ingested: {sorted(extra)[:5]}"
            )
        return out
