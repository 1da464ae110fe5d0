"""Correctness checks of benchmark results against DuckDB.

The JVM reports each operation's result as a row count and an
order-insensitive hash (`perfbench.Canon` in scala/Main.scala); `hash_rows`
here computes the same over DuckDB's answer to the operation's `expect_sql`.
Registry keys are compared value by value against their oracle SQL
(`graft.SparkEntry.oracleSql`), the way the engine's correctness gate does.
"""
import decimal
import glob
import hashlib
import math

import duckdb

_Q = decimal.Decimal("0.0001")


def canon(v):
    """Canonical text of one value (must match `perfbench.Canon.value`)."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        v = decimal.Decimal(v)
    if isinstance(v, decimal.Decimal):
        q = v.quantize(_Q, rounding=decimal.ROUND_HALF_EVEN)
        return "0.0000" if q == 0 else format(q, "f")
    return str(v)


def hash_rows(rows):
    lines = sorted("\x1f".join(canon(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


class Checker:
    """DuckDB over the run's input tables, with expected answers cached."""

    def __init__(self, views):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for name, path in views.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self._cache = {}

    def expected(self, sql):
        if sql not in self._cache:
            rows = self.con.execute(sql).fetchall()
            self._cache[sql] = (len(rows), hash_rows(rows), rows)
        return self._cache[sql]

    def check_rows(self, op_result, sql, count_only=False):
        """None when the result matches the expected answer, else why not."""
        if op_result.get("err"):
            return op_result["err"]
        n, h, rows = self.expected(sql)
        if count_only:
            want = rows[0][0]
            return None if op_result["rows"] == want else f"rows {op_result['rows']} != {want}"
        if op_result["rows"] != n:
            return f"rows {op_result['rows']} != {n}"
        if op_result["hash"] != h:
            return "hash differs"
        return None


def check_td_session(checker, plan_ops, results):
    """Per executed op: None or the reason it is wrong."""
    out = []
    for r in results:
        o = plan_ops[r["i"]]
        kind = o["kind"]
        if kind in ("query", "issue"):
            out.append(checker.check_rows(r, o["expect_sql"]))
        elif kind in ("requery", "job"):
            out.append(checker.check_rows(r, plan_ops[o["ref"]]["expect_sql"]))
        elif kind == "table":
            out.append(checker.check_rows(r, o["expect_sql"], o.get("count_only", False)))
        else:  # jobs: one row per live cached result
            want = o["live_jobs"]
            out.append(r.get("err") or
                       (None if r["rows"] == want else f"rows {r['rows']} != {want}"))
    return out


def check_ingest(checker, plan_ops, results):
    out = []
    for r in results:
        o = plan_ops[r["i"]]
        if o["kind"] == "write":
            out.append(r.get("err"))
        else:
            out.append(checker.check_rows(r, o["expect_sql"]))
    return out


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def compare_key(con, oracle_sql, out_dir):
    """None when the engine's written answer equals the oracle's, as a
    multiset of rows over name-sorted columns; else why not."""
    files = sorted(glob.glob(f"{out_dir}/*.parquet"))
    if not files:
        return "no output"
    d = con.execute(oracle_sql)
    dcols = [c[0] for c in d.description]
    drows = d.fetchall()
    s = con.execute(f"SELECT * FROM read_parquet({files!r})")
    scols = [c[0] for c in s.description]
    srows = s.fetchall()
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} != {sorted(dcols)}"
    si = [scols.index(c) for c in sorted(scols)]
    di = [dcols.index(c) for c in sorted(dcols)]
    a = sorted(tuple(_norm(r[j]) for j in si) for r in srows)
    b = sorted(tuple(_norm(r[j]) for j in di) for r in drows)
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    return None if a == b else "values differ"


def check_operator_batch(checker, oracle, run_dir, results):
    out = []
    for r in results:
        if r.get("err"):
            out.append(r["err"])
        elif r["cls"] == "check":
            sql = oracle.get(r["key"])
            out.append(compare_key(checker.con, sql, f"{run_dir}/out/{r['key']}")
                       if sql else f"no oracle for {r['key']}")
        else:
            out.append(None)
    return out
