"""Check collected query results against each query's DuckDB oracle.

The canonicalisation and hash are those of ``tools/check_correctness.py``
(imported, not copied): row count, column names, and an order-insensitive
hash of the pandas-canonicalised values.  The Spark side is converted from
the collected Arrow table exactly as ``DataFrame.toPandas`` converts it, so
the benchmark's ``toArrow()`` action is checked on the same footing as the
correctness harness.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _cc(repo_root: str):
    sys.path.insert(0, os.path.join(repo_root, "tools"))
    import check_correctness

    return check_correctness


@dataclass(frozen=True)
class Expected:
    columns: tuple[str, ...]
    rows: int
    digest: str


class Oracle:
    """DuckDB oracle results for one input directory, computed once."""

    def __init__(self, repo_root: str, sf_dir: str):
        import duckdb

        self._cc = _cc(repo_root)
        self._con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        self._expected: dict[str, Expected] = {}

    def close(self) -> None:
        self._con.close()

    def expected(self, name: str, sql: str) -> Expected:
        if name not in self._expected:
            self._con.execute(f"CREATE OR REPLACE TEMP TABLE _oracle AS {sql}")
            pdf = self._con.sql("SELECT * FROM _oracle").df()
            cols, rows = self._cc._pdf_rows(pdf)
            self._expected[name] = Expected(
                tuple(cols),
                len(rows),
                self._cc.table_fingerprint(cols, rows, self._cc.canon_pd),
            )
        return self._expected[name]

    def mismatch(self, name: str, sql: str, df, table) -> str | None:
        """Why the collected ``table`` of ``df`` differs from the oracle,
        or None when it matches."""
        want = self.expected(name, sql)
        if table.num_rows != want.rows:
            return f"rowcount {table.num_rows} vs {want.rows}"
        got_cols = sorted(c.lower() for c in table.column_names)
        if got_cols != sorted(c.lower() for c in want.columns):
            return f"columns {sorted(table.column_names)} vs {sorted(want.columns)}"
        cols, rows = self._cc._pdf_rows(arrow_to_pandas(df, table))
        try:
            got = self._cc.table_fingerprint(cols, rows, self._cc.canon_pd)
        except self._cc.GateUnsafe as e:
            return f"gate-unsafe output: {e}"
        return None if got == want.digest else "pandas-canon hash mismatch"


def arrow_to_pandas(df, table):
    """``df.toPandas()`` rebuilt from ``table``, the already collected
    ``df.toArrow()``: the same Arrow-to-pandas options and per-column
    converters Spark applies, without running the query again."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    if table.num_columns == 0:
        return pd.DataFrame()
    pdf = table.rename_columns(
        [f"col_{i}" for i in range(table.num_columns)]
    ).to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    pdf.columns = table.column_names
    jconf = df.sparkSession._jconf
    struct_mode = jconf.pandasStructHandlingMode()
    legacy = struct_mode == "legacy"
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone=jconf.sessionLocalTimeZone(),
                struct_in_pandas="dict" if legacy else struct_mode,
                error_on_duplicated_field_names=legacy,
            )(pser)
            for (_, pser), field in zip(pdf.items(), df.schema.fields)
        ],
        axis="columns",
    )
