"""Seeded inputs for the benchmark: parquet tables and operation plans.

Everything here is a pure function of the seed, so the same seed gives the
same tables and the same operation sequence. The tables follow the schemas
and value domains of the TPC-H-style fixture set the engine is graded on
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), scaled by `sf` like the fixtures (lineitem =
6M * sf rows).

Each operation that returns rows carries the DuckDB text of its expected
answer (`expect_sql`), so the checker in `oracle.py` can compute that answer
independently of the engine under test.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# td's job-result cache keeps this many results live (graft.api.td
# MaxLiveJobs); re-fetches are placed on both sides of it.
MAX_LIVE_JOBS = 20

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "red small hot old large blue cold new".split()
PART_NOUN = "plate widget ring rod bolt gizmo gear anvil".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH = dt.datetime(1970, 1, 1)
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def rng(seed, stream):
    """Independent generator per (seed, purpose)."""
    return np.random.default_rng([int(seed), int(stream)])


def _us(d):
    return int((d - EPOCH).total_seconds() * 1_000_000)


def _ts_array(us):
    return pa.array(np.asarray(us, dtype="int64"), type=pa.timestamp("us"))


def _days_us(r, n, lo, hi):
    """n midnight timestamps uniformly in [lo, hi] (dates)."""
    days = r.integers(0, (hi - lo).days + 1, n)
    return _us(lo) + days.astype("int64") * 86400 * 1_000_000


def _money(r, n, lo, hi):
    return np.round(r.uniform(lo, hi, n), 2)


def events_table(r, n, users, start_us, span_s, first_id=0):
    gaps = r.exponential(1.0, n)
    offs = np.cumsum(gaps)
    offs = offs / offs[-1] * (span_s - 1) * 1_000_000 if n else offs
    ts = start_us + offs.astype("int64")
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype="int64")),
        "ts": _ts_array(ts),
        "user_id": pa.array(r.integers(0, users, n).astype("int64")),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
        "value": pa.array(np.maximum(0.01, np.round(r.exponential(50.0, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def documents_table(r, n):
    texts = []
    for i in range(n):
        if i >= 20 and r.random() < 0.05:
            # near-duplicate of an earlier document: a few words swapped,
            # tagged like the fixture's planted copies
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = WORDS[int(r.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"] * int(r.integers(1, 3))))
        else:
            k = int(r.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[r.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def embeddings_table(r, n, dim=64, labels=10):
    centroids = r.normal(0, 1, (labels, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    lab = r.integers(0, labels, n)
    v = r.normal(0, 1, (n, dim)) + 1.1 * centroids[lab]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(lab.astype("int32")),
    })


def make_tables(seed, sf, names=TABLES):
    """The fixture-shaped tables at scale factor `sf`, as pyarrow tables."""
    n_sup = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    users = max(150, int(15_000 * sf))
    out = {}
    if "region" in names:
        out["region"] = pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(REGIONS)})
    if "nation" in names:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})
    if "customer" in names:
        r = rng(seed, 3)
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(_money(r, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)])})
    if "supplier" in names:
        r = rng(seed, 4)
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(n_sup, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_sup)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_sup).astype("int32")),
            "s_acctbal": pa.array(_money(r, n_sup, -999.99, 9999.99))})
    if "part" in names:
        r = rng(seed, 5)
        names_ = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                  zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))]
        out["part"] = pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": pa.array(names_),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n_part)]),
            "p_size": pa.array(r.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))})
    if "orders" in names:
        r = rng(seed, 6)
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype("int64")),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(r, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _ts_array(_days_us(r, n_ord, dt.datetime(1995, 1, 1),
                                              dt.datetime(2001, 8, 1))),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_ord)])})
    if "lineitem" in names:
        r = rng(seed, 7)
        qty = r.integers(1, 51, n_li).astype("float64")
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li).astype("int64")),
            "l_partkey": pa.array(r.integers(0, n_part, n_li).astype("int64")),
            "l_suppkey": pa.array(r.integers(0, n_sup, n_li).astype("int64")),
            "l_linenumber": pa.array(r.integers(1, 8, n_li).astype("int32")),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * r.uniform(900.0, 2100.0, n_li), 2)),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
            "l_shipdate": _ts_array(_days_us(r, n_li, dt.datetime(1995, 1, 2),
                                             dt.datetime(2001, 11, 4)))})
    if "events" in names:
        out["events"] = events_table(rng(seed, 8), n_ev, users,
                                     _us(EVENTS_START), EVENTS_SPAN_S)
    if "documents" in names:
        out["documents"] = documents_table(rng(seed, 9), n_doc)
    if "embeddings" in names:
        out["embeddings"] = embeddings_table(rng(seed, 10), n_emb)
    return out


def write_tables(directory, tables):
    for name, t in tables.items():
        pq.write_table(t, f"{directory}/{name}.parquet")


# ---------------------------------------------------------------- td_session

def _day(r, lo, hi):
    """A date string uniformly in [lo, hi]."""
    return (lo + dt.timedelta(days=int(r.integers(0, (hi - lo).days + 1)))).strftime("%Y-%m-%d")


def _ev_range(r, max_hours):
    start = EVENTS_START + dt.timedelta(hours=int(r.integers(0, 30 * 24 - max_hours)))
    end = start + dt.timedelta(hours=int(r.integers(1, max_hours + 1)))
    f = "%Y-%m-%d %H:%M:%S"
    return start.strftime(f), end.strftime(f)


def _q_events_by_type(r):
    a, b = _ev_range(r, 96)
    return (f"SELECT event_type, COUNT(*) AS n, "
            f"CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total, "
            f"MAX(value) AS top FROM events "
            f"WHERE TD_TIME_RANGE(ts, '{a}', '{b}') GROUP BY event_type",
            f"SELECT event_type, COUNT(*) AS n, "
            f"CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total, "
            f"MAX(value) AS top FROM events "
            f"WHERE ts >= TIMESTAMP '{a}' AND ts < TIMESTAMP '{b}' GROUP BY event_type")


def _q_pricing_summary(r):
    d = _day(r, dt.datetime(1996, 1, 1), dt.datetime(2001, 6, 1))
    body = (f"SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
            f"SUM(l_quantity) AS qty, "
            f"CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS base "
            f"FROM lineitem WHERE l_shipdate <= DATE '{d}' "
            f"GROUP BY l_returnflag, l_linestatus")
    return body, body


def _q_segment_orders(r):
    a = _day(r, dt.datetime(1995, 1, 1), dt.datetime(2000, 12, 1))
    b = (dt.datetime.strptime(a, "%Y-%m-%d")
         + dt.timedelta(days=int(r.integers(30, 400)))).strftime("%Y-%m-%d")
    n = int(r.integers(0, 25))
    body = (f"SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n, "
            f"CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
            f"FROM orders JOIN customer ON o_custkey = c_custkey "
            f"WHERE o_orderdate >= DATE '{a}' AND o_orderdate < DATE '{b}' "
            f"AND c_nationkey = {n} GROUP BY c_mktsegment, o_orderpriority")
    return body, body


def _q_top_orders(r):
    s = ["F", "O", "P"][int(r.integers(0, 3))]
    a = _day(r, dt.datetime(1995, 1, 1), dt.datetime(2001, 1, 1))
    k = int(r.integers(5, 50))
    body = (f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            f"WHERE o_orderstatus = '{s}' AND o_orderdate >= DATE '{a}' "
            f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}")
    return body, body


def _q_daily_users(r):
    a, b = _ev_range(r, 240)
    e = EVENT_TYPES[int(r.integers(0, 5))]
    # date_format with a %-pattern is the Presto spelling; DuckDB's is strftime
    return (f"SELECT date_format(ts, '%Y-%m-%d') AS day, COUNT(*) AS n, "
            f"COUNT(DISTINCT user_id) AS users FROM events "
            f"WHERE TD_TIME_RANGE(ts, '{a}', '{b}') AND event_type = '{e}' "
            f"GROUP BY date_format(ts, '%Y-%m-%d')",
            f"SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n, "
            f"COUNT(DISTINCT user_id) AS users FROM events "
            f"WHERE ts >= TIMESTAMP '{a}' AND ts < TIMESTAMP '{b}' AND event_type = '{e}' "
            f"GROUP BY strftime(ts, '%Y-%m-%d')")


def _q_ship_lag(r):
    a = _day(r, dt.datetime(1995, 1, 1), dt.datetime(2001, 1, 1))
    b = (dt.datetime.strptime(a, "%Y-%m-%d")
         + dt.timedelta(days=int(r.integers(20, 120)))).strftime("%Y-%m-%d")
    body = (f"SELECT o_orderpriority, COUNT(*) AS n, "
            f"MAX(date_diff('day', o_orderdate, l_shipdate)) AS max_lag, "
            f"MIN(date_diff('day', o_orderdate, l_shipdate)) AS min_lag "
            f"FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
            f"WHERE o_orderdate >= DATE '{a}' AND o_orderdate < DATE '{b}' "
            f"GROUP BY o_orderpriority")
    return body, body


def _q_user_spend(r):
    a, b = _ev_range(r, 168)
    m = int(r.integers(5, 20))
    k = int(r.integers(0, m))
    return (f"SELECT user_id, COUNT(*) AS n, "
            f"CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM events "
            f"WHERE TD_TIME_RANGE(ts, '{a}', '{b}') AND user_id % {m} = {k} "
            f"GROUP BY user_id",
            f"SELECT user_id, COUNT(*) AS n, "
            f"CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM events "
            f"WHERE ts >= TIMESTAMP '{a}' AND ts < TIMESTAMP '{b}' AND user_id % {m} = {k} "
            f"GROUP BY user_id")


TEMPLATES = [_q_events_by_type, _q_pricing_summary, _q_segment_orders,
             _q_top_orders, _q_daily_users, _q_ship_lag, _q_user_spend]

# the session repeats blocks of ten operations, each block in a seeded
# order, so every block has the same mix: five fresh queries (a
# readTdQuery, or an issueJob whose id a later "job" op re-fetches), two
# re-issued texts, one readTdJob, one readTdTable read and one jobsList
SESSION_BLOCK = ["fresh"] * 5 + ["requery"] * 2 + ["job", "table", "jobs"]


def td_session_ops(seed, n_ops, warmup):
    """A seeded notebook session: `warmup` fresh queries (block -1), then
    blocks of `SESSION_BLOCK`.

    Fresh query texts cycle through the templates in a seeded order, so each
    run sees the same template mix. Every query op adds one job to td's
    result cache; a re-issued text alternates between a query still inside
    the live window (the cache serves it) and, once more than
    `MAX_LIVE_JOBS` jobs exist, one beyond it (recomputed). A `job` op only
    re-serves ids inside the window: an evicted id cannot be re-served.
    """
    r = rng(seed, 20)
    ops, fresh_ops, issued = [], [], []
    jobs = 0  # results td has cached so far
    order, kinds = [], []
    block = -1
    while len(ops) < n_ops:
        if len(ops) < warmup:
            kind = "fresh"
        else:
            if not kinds:
                kinds = [SESSION_BLOCK[i] for i in r.permutation(len(SESSION_BLOCK))]
                block += 1
            kind = kinds.pop()
        live_issued = [i for i in issued if ops[i]["job"] > jobs - MAX_LIVE_JOBS]
        if kind == "job" and not live_issued:
            kind = "fresh"
        if kind == "fresh":
            if not order:
                order = list(r.permutation(len(TEMPLATES)))
            sql, expect = TEMPLATES[order.pop()](r)
            jobs += 1
            # the first query is issued, so a readTdJob has an id from the start
            op = {"kind": "issue" if not ops or r.random() < 0.3 else "query",
                  "sql": sql, "expect_sql": expect, "job": jobs}
            fresh_ops.append(len(ops))
            if op["kind"] == "issue":
                issued.append(len(ops))
        elif kind == "requery":
            live = [i for i in fresh_ops if ops[i]["job"] > jobs - MAX_LIVE_JOBS]
            gone = [i for i in fresh_ops if ops[i]["job"] <= jobs - MAX_LIVE_JOBS]
            pool = gone if gone and sum(o["kind"] == "requery" for o in ops) % 2 else live
            ref = int(pool[int(r.integers(0, len(pool)))])
            jobs += 1
            op = {"kind": "requery", "sql": ops[ref]["sql"], "ref": ref, "job": jobs,
                  "live": ops[ref]["job"] > jobs - 1 - MAX_LIVE_JOBS}
        elif kind == "job":
            op = {"kind": "job", "ref": int(live_issued[int(r.integers(0, len(live_issued)))])}
        elif kind == "table":
            op = _table_op(r)
        else:
            op = {"kind": "jobs", "live_jobs": min(jobs, MAX_LIVE_JOBS)}
        op["block"] = block
        ops.append(op)
    return ops


def _table_op(r):
    if r.random() < 0.7:
        a, b = _ev_range(r, 48)
        cols = ["event_id", "user_id", "event_type", "value"]
        return {"kind": "table", "table": "events", "columns": cols,
                "range": [a, b], "time_col": "ts", "limit": 10000,
                "expect_sql": f"SELECT {', '.join(cols)} FROM events "
                              f"WHERE ts >= TIMESTAMP '{a}' AND ts < TIMESTAMP '{b}'"}
    # an unranged read: which rows the limit keeps is unspecified, so only
    # the row count is checked
    limit = int(r.integers(50, 500))
    return {"kind": "table", "table": "orders",
            "columns": ["o_orderkey", "o_orderstatus", "o_totalprice"],
            "range": None, "time_col": "time", "limit": limit,
            "expect_sql": f"SELECT LEAST(COUNT(*), {limit}) FROM orders",
            "count_only": True}


# ----------------------------------------------------------- ingest_readback

INGEST_DB = "ingest"
INGEST_TABLE = "ev"
# one write, then its reads in seeded order
INGEST_BLOCK = ["write", "read_table", "read_query", "read_query"]


def ingest_batches(seed, n_batches, rows, hours):
    """Event batches for `toTd`: batch i covers hours [i*hours, (i+1)*hours)
    of the stream, plus a few late rows that land in the previous batch's
    window (so appends also add files to existing buckets). One table with a
    `batch` column; event ids are unique across batches."""
    r = rng(seed, 30)
    parts = []
    start = _us(EVENTS_START)
    for i in range(n_batches):
        t = events_table(r, rows, 150, start + i * hours * 3600 * 1_000_000,
                         hours * 3600, first_id=i * rows)
        if i > 0:
            late = r.random(rows) < 0.05
            ts = t.column("ts").cast(pa.int64()).to_numpy().copy()
            ts[late] -= hours * 3600 * 1_000_000
            t = t.set_column(1, "ts", _ts_array(ts))
        parts.append(t.append_column("batch", pa.array(np.full(rows, i, dtype="int32"))))
    return pa.concat_tables(parts)


def ingest_ops(seed, n_blocks, hours, warm_batches):
    """Writes interleaved with narrow-window reads over what is written.

    Block -1 is the untimed start: `warm_batches` writes, then one read of
    each kind. Each further block is one write followed by three reads in
    seeded order, one `readTdTable` and two `readTdQuery ... TD_TIME_RANGE`,
    over windows of 1 to 6 hours inside the written range."""
    r = rng(seed, 31)
    ops, written = [], 0
    f = "%Y-%m-%d %H:%M:%S"
    plan = ([(-1, "write")] * warm_batches + [(-1, "read_table"), (-1, "read_query")])
    for block in range(n_blocks):
        reads = INGEST_BLOCK[1:]
        plan += [(block, "write")] + [(block, reads[i]) for i in r.permutation(len(reads))]
    for block, kind in plan:
        if kind == "write":
            ops.append({"kind": "write", "batch": written, "block": block})
            written += 1
            continue
        hi_h = written * hours
        a_h = int(r.integers(0, hi_h - 1))
        b_h = min(hi_h, a_h + int(r.integers(1, 7)))
        a = (EVENTS_START + dt.timedelta(hours=a_h)).strftime(f)
        b = (EVENTS_START + dt.timedelta(hours=b_h)).strftime(f)
        a_s = int((EVENTS_START + dt.timedelta(hours=a_h) - EPOCH).total_seconds())
        b_s = int((EVENTS_START + dt.timedelta(hours=b_h) - EPOCH).total_seconds())
        where = (f"batch < {written} AND CAST(floor(epoch(ts)) AS BIGINT) >= {a_s} "
                 f"AND CAST(floor(epoch(ts)) AS BIGINT) < {b_s}")
        if kind == "read_table":
            cols = ["event_id", "user_id", "value"]
            ops.append({"kind": "read_table", "columns": cols, "range": [a, b], "block": block,
                        "expect_sql": f"SELECT {', '.join(cols)} FROM batches WHERE {where}"})
        else:
            m = int(r.integers(3, 12))
            ops.append({
                "kind": "read_query", "block": block,
                "sql": f"SELECT user_id % {m} AS g, COUNT(*) AS n, "
                       f"CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v "
                       f"FROM {INGEST_TABLE} WHERE TD_TIME_RANGE(time, '{a}', '{b}') "
                       f"GROUP BY user_id % {m}",
                "expect_sql": f"SELECT user_id % {m} AS g, COUNT(*) AS n, "
                              f"CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v "
                              f"FROM batches WHERE {where} GROUP BY user_id % {m}"})
    return ops
