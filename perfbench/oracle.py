"""Output checks, run outside the timed path.

Search results and batch outputs are compared with the program's
registered DuckDB oracle SQL (``oracles.oracle_sql()``) run over the
same generated corpus; ingest outputs are compared with the key set the
generator wrote. Comparison is exact after sorting rows, the rule the
repository's oracle-parity tests use.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import os

import duckdb


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def _sort_key(row):
    return tuple((x is None, 0 if x is None else x) for x in row)


def canonical(columns: list[str], rows) -> list[tuple]:
    """Rows as sorted tuples of normalized values, columns in ``columns`` order."""
    out = [tuple(_norm(r[c]) for c in columns) for r in rows]
    try:
        return sorted(out, key=_sort_key)
    except TypeError:
        return sorted(out, key=repr)


class Oracle:
    """The registered oracle SQL over one generated corpus, each query
    answered once and kept."""

    def __init__(self, corpus_dir: str):
        self._sql: dict[str, str] | None = None
        self._con = duckdb.connect()
        self._con.execute("SET threads TO 2")
        docs = os.path.join(corpus_dir, "documents.parquet")
        if os.path.exists(docs):
            self._con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        self._answers: dict[str, tuple[list[str], list[tuple]]] = {}
        self._expected_src: dict | None = None

    def answer(self, name: str) -> tuple[list[str], list[tuple]]:
        if self._sql is None:
            # built on first use: it takes seconds, and the ingest
            # checks never need it
            from irclogbot_spark.oracles import oracle_sql

            self._sql = oracle_sql()
        if name not in self._answers:
            cur = self._con.execute(self._sql[name])
            cols = [d[0] for d in cur.description]
            rows = [dict(zip(cols, r)) for r in cur.fetchall()]
            self._answers[name] = (cols, rows)
        return self._answers[name]

    def check_rows(self, name: str, columns: list[str], rows) -> str | None:
        """None when ``rows`` (dict-like, with ``columns``) equal the
        oracle's answer; otherwise a one-line reason."""
        ocols, orows = self.answer(name)
        if sorted(ocols) != sorted(columns):
            return f"{name}: columns {sorted(columns)} != oracle {sorted(ocols)}"
        got, want = canonical(columns, rows), canonical(columns, orows)
        if len(got) != len(want):
            return f"{name}: {len(got)} rows != oracle {len(want)}"
        for i, (a, b) in enumerate(zip(got, want)):
            if a != b:
                return f"{name}: row {i} {a!r} != oracle {b!r}"
        return None

    def check_parquet(self, name: str, path: str) -> str | None:
        """Compare a parquet directory the program wrote with the oracle."""
        cur = self._con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        cols = [d[0] for d in cur.description]
        return self.check_rows(name, cols, [dict(zip(cols, r)) for r in cur.fetchall()])

    def check_irclog(self, path: str, expected: dict[str, tuple[str, str, str]], glob: str) -> str | None:
        """An ingest output holds exactly the expected distinct keys,
        each once, with the expected content id. Compared inside DuckDB:
        the outputs run to hundreds of thousands of rows."""
        import pyarrow as pa

        if self._expected_src is not expected:
            cols = list(zip(*expected.values())) or [(), (), ()]
            self._con.register(
                "expected_keys",
                pa.table({"id": list(expected), "channel": cols[0], "nick": cols[1], "remark": cols[2]}),
            )
            self._expected_src = expected
        self._con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT id, channel, nick, remark FROM read_parquet('{path}/{glob}')")
        dup = self._con.execute("SELECT count(*) - count(DISTINCT id) FROM got").fetchone()[0]
        if dup:
            return f"{path}: {dup} duplicate ids"
        missing, extra, wrong = self._con.execute(
            """SELECT count(*) FILTER (WHERE g.id IS NULL),
                      count(*) FILTER (WHERE e.id IS NULL),
                      count(*) FILTER (WHERE e.id IS NOT NULL AND g.id IS NOT NULL
                                       AND (e.channel, e.nick, e.remark) IS DISTINCT FROM (g.channel, g.nick, g.remark))
               FROM expected_keys e FULL OUTER JOIN got g ON e.id = g.id"""
        ).fetchone()
        if missing or extra:
            return f"{path}: {missing} expected keys missing, {extra} unexpected"
        if wrong:
            return f"{path}: {wrong} ids carry the wrong (channel, nick, remark)"
        return None

    def close(self) -> None:
        self._con.close()
