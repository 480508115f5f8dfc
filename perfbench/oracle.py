"""Expected outputs, computed by the DuckDB oracle in ``plans/oracles.py``,
and the checks that compare a committed snapshot with them.

The oracle derives the triple graph relationally from the same
``lineitem`` file, independently of the JSON-LD algorithms.  A snapshot
is compared through an order-independent fingerprint: the row count and
the sum of the first 40 bits of each row's md5 (40 bits keep the sum
inside a BIGINT).  DuckDB reads the parquet files Spark committed, so a
check starts no Spark job.
"""

from __future__ import annotations

import os

import duckdb

TRIPLE_COLS = [
    "subj", "pred", "obj", "obj_is_iri", "obj_dt", "obj_lang", "graph",
    "conv_id", "turn_idx",
]
_NULL = "\\N"


def _fingerprint_sql() -> str:
    """Select list giving (rows, fingerprint) of a triple relation."""
    parts = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '{_NULL}')" for c in TRIPLE_COLS)
    return f"count(*), sum(('0x' || substr(md5(concat_ws(chr(31), {parts})), 1, 10))::BIGINT)"


class Oracle:
    """DuckDB connection over one benchmark input directory."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, 'lineitem.parquet')}')"
        )

    def close(self) -> None:
        self.con.close()

    def _triples(self) -> str:
        from jsonld_ex_spark.plans.oracles import kg_triples_oracle

        self.con.execute(f"CREATE TABLE IF NOT EXISTS oracle_triples AS {kg_triples_oracle()}")
        return "oracle_triples"

    def write_triples(self, path: str) -> None:
        """Write the oracle's triple graph as one parquet file."""
        self.con.execute(f"COPY {self._triples()} TO '{path}' (FORMAT PARQUET)")

    def triples_fingerprint(self) -> tuple[int, int]:
        """(rows, fingerprint) of the triple graph the pipeline must build."""
        n, fp = self.con.execute(
            f"SELECT {_fingerprint_sql()} FROM {self._triples()}"
        ).fetchone()
        return int(n), int(fp)

    def sparql_rows(self, text: str) -> list[tuple[str, ...]]:
        """Expected solutions of a SPARQL SELECT over the oracle graph,
        in the form :func:`render` gives."""
        from jsonld_ex_spark.operators.sparql_text import sparql_oracle_sql

        sql = sparql_oracle_sql(f"SELECT * FROM {self._triples()}", text)
        return render(self.con.execute(sql).fetchall())


def render(rows) -> list[tuple[str, ...]]:
    """Engine-neutral form of a result set: each value as ``str``, rows sorted."""
    return sorted(tuple("" if v is None else str(v) for v in row) for row in rows)


def _snapshot_files(table_dir: str) -> str:
    """DuckDB list literal of the parquet files of a snapshot table's
    current snapshot."""
    from jsonld_ex_spark.sources.snapshot_table import snapshots

    dirs = snapshots(table_dir)[-1]["files"]
    return "[" + ", ".join(f"'{os.path.join(table_dir, d)}/*.parquet'" for d in dirs) + "]"


def snapshot_rows(table_dir: str) -> int:
    """Row count of a snapshot table's current snapshot, read by DuckDB."""
    with duckdb.connect() as con:
        return con.execute(
            f"SELECT count(*) FROM read_parquet({_snapshot_files(table_dir)}, union_by_name = true)"
        ).fetchone()[0]


def snapshot_fingerprint(table_dir: str) -> tuple[int, int]:
    """(rows, fingerprint) of a snapshot table's current snapshot, read by
    DuckDB from the files Spark wrote, same formula as the oracle."""
    with duckdb.connect() as con:
        n, fp = con.execute(
            f"SELECT {_fingerprint_sql()} "
            f"FROM read_parquet({_snapshot_files(table_dir)}, union_by_name = true)"
        ).fetchone()
    return int(n), int(fp or 0)
