"""Check the warm pass's query results in a process of its own.

    python3 perfbench/check.py <data_dir> <results_dir>

Each ``<query>.pkl`` under ``results_dir`` holds one query's column
names, its collected rows, its DuckDB oracle SQL or ``None``, and, when it
has no oracle, the row count and digest recorded in ``expected.json``. A
query with an oracle is compared with it through
``crocus_spark.testing.compare_frames`` over DuckDB views of the tables
in ``data_dir``; one without is checked by row count and digest. Prints
``{query: why its check failed}`` as JSON.

The benchmark runs this after its timed passes, so DuckDB's time and
memory stay out of the benchmark process and out of its figures.
"""

import hashlib
import json
import os
import pickle
import sys

import datagen


def rows_digest(rows) -> str:
    """Order-insensitive digest of result rows (canonical cell strings)."""
    from crocus_spark.testing import canon_cell

    lines = sorted("\x1f".join(canon_cell(v) for v in r) for r in rows)
    return hashlib.sha256("\x1e".join(lines).encode()).hexdigest()


class _Collected:
    """The two members of a Spark DataFrame that ``compare_frames`` reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def check_all(data_dir: str, results_dir: str) -> dict[str, str]:
    import duckdb

    from crocus_spark.testing import compare_frames

    con = duckdb.connect()
    for t in datagen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    wrong = {}
    for f in sorted(os.listdir(results_dir)):
        name = f.removesuffix(".pkl")
        with open(os.path.join(results_dir, f), "rb") as fh:
            res = pickle.load(fh)
        try:
            if res["oracle"] is not None:
                ok, rep = compare_frames(_Collected(res["columns"], res["rows"]), con,
                                         res["oracle"])
                if not ok:
                    wrong[name] = f"oracle mismatch: {rep}"
            elif res["digest"] is None:
                wrong[name] = "no recorded digest"
            else:
                got = [len(res["rows"]), rows_digest(res["rows"])]
                if got != res["digest"]:
                    wrong[name] = f"digest mismatch: {got} != {res['digest']}"
        except Exception as e:  # noqa: BLE001 - a failed check, not a crash
            wrong[name] = f"{type(e).__name__}: {e}"
    con.close()
    return wrong


if __name__ == "__main__":
    print(json.dumps(check_all(sys.argv[1], sys.argv[2])))
