"""Output checks against the registry's DuckDB oracles, with the exact
compare of tests/harness.py (bit-exact floats, dtype kinds, rows)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent


def _compare():
    spec = importlib.util.spec_from_file_location("harness", ROOT / "tests" / "harness.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class _Collected:
    """A collected result in the shape ``compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def check(reg, sf_dir: str, outputs: list[tuple[str, object]], tables, tmp: Path, failures: list[str]) -> list[bool]:
    """Whether each (entry name, collected output) pair equals the
    entry's oracle; an entry without an oracle only has to return rows.
    Each oracle runs once, however many outputs of its entry there are."""
    compare = _compare()
    con = duckdb.connect()
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tmp}/duckdb'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ok = []
    try:
        for name, pdf in outputs:
            sql = reg[name].oracle
            try:
                if sql is None:
                    if len(pdf) == 0:
                        raise AssertionError(f"{name}: no rows")
                else:
                    con.execute(f"CREATE TABLE IF NOT EXISTS oracle_{name} AS {sql}")
                    compare(_Collected(pdf), con, f"SELECT * FROM oracle_{name}", name)
                ok.append(True)
            except AssertionError as e:
                failures.append(f"{name} (oracle): {e!s:.300}")
                ok.append(False)
    finally:
        con.close()
    return ok
