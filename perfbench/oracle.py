"""Order-insensitive comparison of a Spark result with the registry's DuckDB
oracle SQL, over the same generated parquet files."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.compute as pc


class Oracle:
    def __init__(self, data_dir: str, sql: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{data_dir}/events.parquet/*.parquet')"
        )
        self.con.execute(
            f"CREATE VIEW customer AS SELECT * FROM read_parquet('{data_dir}/customer.parquet')"
        )
        rel = self.con.sql(sql)
        self.columns = sorted(rel.columns)
        self._create("expected", rel.arrow())

    def _create(self, name: str, table: pa.Table) -> None:
        # every column as text, so that Spark's and DuckDB's types compare;
        # Spark's UTC-stamped timestamps become naive like the oracle's
        cols = []
        for c in self.columns:
            col = table.column(c)
            if pa.types.is_timestamp(col.type) and col.type.tz is not None:
                col = pc.cast(col, pa.timestamp(col.type.unit))
            cols.append(col)
        self.con.register(f"{name}_arrow", pa.table(cols, names=self.columns))
        select = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in self.columns)
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT {select} FROM {name}_arrow")
        self.con.unregister(f"{name}_arrow")

    def mismatches(self, result: pa.Table) -> int:
        """Rows in one side and not the other (as multisets); 0 when equal.
        A result with other columns than the oracle's counts every row."""
        if sorted(result.column_names) != self.columns:
            return max(result.num_rows, 1)
        self._create("actual", result)
        q = "SELECT count(*) FROM (SELECT * FROM {} EXCEPT ALL SELECT * FROM {})"
        return sum(
            self.con.execute(q.format(a, b)).fetchone()[0]
            for a, b in (("actual", "expected"), ("expected", "actual"))
        )

    def rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM expected").fetchone()[0]

    def close(self) -> None:
        self.con.close()
