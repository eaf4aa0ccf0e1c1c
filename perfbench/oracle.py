"""DuckDB oracle: the expected answer of every read the benchmark sends.

The catalog's tables are pure projections of the generated input
tables, defined once in ``metacat_spark.fixtures`` for both dialects;
``fixtures.oracle_query`` lifts DuckDB views of the inputs to the
metacat shape, so the expected rows come from the same SQL the engine
ingests, evaluated by an independent engine.
"""

from __future__ import annotations

import os

import duckdb

from metacat_spark import fixtures as FX

from perfbench.measure import row_key, set_hash

FILE_FIELDS = ("id", "namespace", "name", "size")
ACTIVE = "not retired"

# adler32(id) in DuckDB, the same expression the entry-contract oracle
# uses for `filter hash`
ADLER32 = ("(((length({c}) + list_sum(list_transform(string_split({c},''), "
           "(x,i) -> (length({c}) - i + 1) * unicode(x)))) % 65521) * 65536 "
           "+ (1 + list_sum(list_transform(string_split({c},''), "
           "x -> unicode(x)))) % 65521)")


def member(ns: str, name: str) -> str:
    return (f"id in (select file_id from files_datasets "
            f"where dataset_namespace = '{ns}' "
            f"and dataset_name = '{name}')")


def files_where(cond: str, tail: str = "") -> str:
    return f"select {', '.join(FILE_FIELDS)} from files where {cond} {tail}"


def ids_where(cond: str) -> str:
    return f"select id from files where {cond}"


class Oracle:
    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for name in ("lineitem", "orders", "documents", "embeddings"):
            path = os.path.join(data_dir, f"{name}.parquet")
            self.con.execute(f"create view {name} as "
                             f"select * from read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def _fetch(self, sql: str) -> list[dict]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def rows(self, body: str) -> list[dict]:
        """Rows of a query over the metacat-shaped tables."""
        return self._fetch(FX.oracle_query(body))

    def expect(self, spec: dict) -> dict:
        """Resolve an oracle spec into the expectation a response is
        checked against (see ``check`` in run.py)."""
        mode = spec["mode"]
        if mode == "rows":
            rows = self.rows(spec["sql"])
            return rows_expectation(rows, FILE_FIELDS)
        if mode == "count":
            rows = self.rows(f"select count(*) as count, "
                             f"coalesce(sum(size), 0) as total_size "
                             f"from ({spec['sql']}) t")
            return {"mode": "count", "count": int(rows[0]["count"]),
                    "total_size": int(rows[0]["total_size"])}
        if mode == "file":
            rows = self.rows(spec["sql"])
            if len(rows) != 1:
                raise ValueError(f"file oracle matched {len(rows)} rows")
            return {"mode": "file",
                    "record": {k: rows[0][k] for k in FILE_FIELDS}}
        if mode == "docs":
            rows = self._fetch(spec["sql"])
            return rows_expectation(rows, spec["fields"])
        raise ValueError(f"unknown oracle mode {mode}")


def rows_expectation(rows: list[dict], fields) -> dict:
    return {"mode": "rows", "fields": list(fields), "count": len(rows),
            "hash": set_hash(row_key(r, fields) for r in rows)}
