"""The benchmark's input corpus, reference answers from DuckDB, and
the order-insensitive result fingerprint used to check every result
the program returns."""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

#: the inventory corpus the program is checked against (TESTDATA.md),
#: one directory per scale: ``data/sf0.01`` and ``data/sf0.001``
DATA = Path(__file__).resolve().parents[1] / "data"

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def corpus(scale: float) -> tuple[str, str]:
    """The corpus directory at ``scale`` and a fingerprint of its
    files."""
    path = DATA / f"sf{scale:g}"
    digest = hashlib.sha256()
    for t in TABLE_NAMES:
        digest.update(t.encode())
        digest.update((path / f"{t}.parquet").read_bytes())
    return str(path), digest.hexdigest()[:16]


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    return str(v)


def fingerprint(cols: list[str], rows) -> str:
    """sha256 over sorted rows with columns in name order, so neither
    row order nor column order matters."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return f"{len(lines)}:{h.hexdigest()[:24]}"


def answers(data_dir: str, sql_by_name: dict[str, str]) -> dict[str, str]:
    """Fingerprint of DuckDB's answer for each named oracle query."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLE_NAMES:
            if os.path.exists(f"{data_dir}/{t}.parquet"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM"
                    f" '{data_dir}/{t}.parquet'"
                )
        out = {}
        for name, sql in sql_by_name.items():
            tbl = con.execute(sql).fetch_arrow_table()
            cols = tbl.column_names
            out[name] = fingerprint(
                cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
            )
        return out
    finally:
        con.close()
