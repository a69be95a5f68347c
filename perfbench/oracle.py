"""Independent computations the engine's outputs are checked against.

- Ingest: a pure-Python DISTINCT + last-write-wins fold of every
  generated document over the generated history.
- Query mix: DuckDB over the same committed version's parquet files.
- Curation: the planted truth of the generated corpus.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc

Key = tuple[int, str]  # (Time as epoch microseconds, City_Name)
Value = tuple[str, float]  # (Weather_Description, Temperature)


def doc_row(doc: dict) -> tuple[int, str, str, float]:
    """The reference transform of one document: naive local time =
    UTC epoch + offset, descriptions joined with ', ' in array order,
    ``main.temp``."""
    return (
        (doc["dt"] + doc["timezone"]) * 1_000_000,
        doc["name"],
        ", ".join(w["description"] for w in doc["weather"]),
        doc["main"]["temp"],
    )


class WeatherFold:
    """The expected ``weather`` table, maintained tick by tick.

    Within a tick, exact duplicate rows collapse (DISTINCT) and rows
    sharing a key resolve to the greatest (description, temperature)
    tuple: the engine's documented deterministic pick when no arrival
    order column is given (``dedup_last_write_wins``). Across ticks
    the later tick wins.
    """

    def __init__(self, history: pa.Table) -> None:
        times = pc.cast(history["Time"], pa.int64()).to_pylist()
        self.state: dict[Key, Value] = dict(
            zip(
                zip(times, history["City_Name"].to_pylist()),
                zip(
                    history["Weather_Description"].to_pylist(),
                    history["Temperature"].to_pylist(),
                ),
            )
        )

    def apply(self, docs) -> dict[str, int]:
        """Fold one tick; returns the tick's row counts: documents in,
        distinct rows, rows inserted and rows whose value changed."""
        rows = {doc_row(d) for d in docs}
        best: dict[Key, Value] = {}
        for t, city, desc, temp in rows:
            k, v = (t, city), (desc, temp)
            if k not in best or v > best[k]:
                best[k] = v
        inserted = sum(1 for k in best if k not in self.state)
        updated = sum(
            1 for k, v in best.items() if k in self.state and self.state[k] != v
        )
        self.state.update(best)
        return {
            "docs": len(docs),
            "distinct_rows": len(rows),
            "inserted": inserted,
            "updated": updated,
        }

    def mismatches(self, table: pa.Table) -> list[str]:
        """Differences between a table snapshot and the fold; empty
        when they agree row for row."""
        times = pc.cast(table["Time"], pa.int64()).to_pylist()
        got_keys = list(zip(times, table["City_Name"].to_pylist()))
        got = dict(
            zip(
                got_keys,
                zip(
                    table["Weather_Description"].to_pylist(),
                    table["Temperature"].to_pylist(),
                ),
            )
        )
        out = []
        if len(got) != len(got_keys):
            out.append(f"{len(got_keys) - len(got)} duplicate keys in the table")
        missing = self.state.keys() - got.keys()
        extra = got.keys() - self.state.keys()
        if missing:
            out.append(f"{len(missing)} expected keys missing, e.g. {min(missing)}")
        if extra:
            out.append(f"{len(extra)} unexpected keys, e.g. {min(extra)}")
        wrong = [k for k in self.state.keys() & got.keys() if got[k] != self.state[k]]
        if wrong:
            k = min(wrong)
            out.append(
                f"{len(wrong)} keys with wrong values, e.g. {k}: "
                f"{got[k]} != {self.state[k]}"
            )
        return out


# ---------------------------------------------------------------------------
# DuckDB views for the query mix
# ---------------------------------------------------------------------------


def duckdb_weather(con, version_dir: str) -> None:
    """Point DuckDB's ``weather`` view at one committed version's
    parquet files."""
    _view(con, "weather", os.path.join(version_dir, "*.parquet"))


def duckdb_tables(con, sf_dir: str, names) -> None:
    for name in names:
        _view(con, name, os.path.join(sf_dir, f"{name}.parquet"))


def _view(con, name: str, pattern: str) -> None:
    # DDL cannot take prepared parameters; quote the path as a literal.
    quoted = pattern.replace("'", "''")
    # The version directory's name (v=<n>) is not a column.
    con.execute(
        f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
        f"read_parquet('{quoted}', hive_partitioning = false)"
    )
