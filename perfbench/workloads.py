"""Seeded inputs and the independent DuckDB oracle for each workload.

Every input is a function of the seed alone. DML statements use only SQL
that Spark and DuckDB evaluate identically (integer arithmetic, doubles
shifted by exactly representable or decimal literals, string
concatenation), and every checked aggregate is integer- or string-valued,
so results compare exactly.
"""
import datetime
import hashlib
import os
import random

import duckdb

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
WORDS = ("a the data spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "batch part join vector customer").split()
LANGS = ["en"] * 8 + ["zh", "zh", "de", "de", "fr", "fr", "es", "es"]

# ---- sizes -----------------------------------------------------------
CUSTOMER_ROWS = 15000
LONGLOG_STMTS = 120
LONGLOG_CUTS = [60, 75, 90, 105, 120]   # statements retained at each cut
LINEITEM_BASE_ROWS = 600000                # sf0.1
LINEITEM_REPLICAS = 4
CHURN_STMTS = 2000                         # more than any run appends
DOCUMENTS = 400

CUSTOMER_GROUP_BY = "c_mktsegment"
CUSTOMER_AGGS = [
    "count(*) AS n",
    "CAST(sum(c_nationkey) AS BIGINT) AS s_nation",
    "CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s_bal",
    "CAST(sum(length(c_name)) AS BIGINT) AS s_name",
    "min(c_custkey) AS min_key",
    "max(c_custkey) AS max_key",
]
Q1_SHAPE = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS s_qty, "
    "CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS s_price, "
    "CAST(sum(CAST(floor(l_discount * 100) AS BIGINT)) AS BIGINT) AS s_disc, "
    "min(l_orderkey) AS min_key "
    "FROM {table} WHERE l_shipdate <= DATE '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus")
PIPELINE_ROWS = ["dedup_survivor", "dedup_containment_incremental", "q_textrank"]


def hash_rows(rows):
    """The harness's result hash (see Harness.hashRows)."""
    lines = sorted("\u0001".join("\\N" if v is None else str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _quarter(rng):
    return f"{rng.randint(1, 200) * 0.25:.2f}"


def _date(start, days):
    return (start + datetime.timedelta(days=days)).isoformat()


# ---- scd_longlog_read ------------------------------------------------

# Statement kinds repeat in a fixed cycle, so every seed's log has the
# same plan shape; the seed draws the values and predicates.
CUSTOMER_KINDS = ["acct", "segment", "nation", "name", "acct",
                  "segment", "nation", "name", "acct", "delete"]


def customer_stmt(rng, i):
    k = CUSTOMER_KINDS[i % len(CUSTOMER_KINDS)]
    if k == "delete":
        m = rng.randint(150, 400)
        return f"DELETE FROM customer WHERE c_custkey % {m} = {rng.randrange(m)};"
    if k == "acct":
        return (f"UPDATE customer SET c_acctbal = c_acctbal + {_quarter(rng)} "
                f"WHERE c_nationkey = {rng.randrange(25)};")
    if k == "segment":
        m = rng.randint(7, 40)
        return (f"UPDATE customer SET c_mktsegment = '{rng.choice(SEGMENTS)}' "
                f"WHERE c_custkey % {m} = {rng.randrange(m)};")
    if k == "nation":
        return (f"UPDATE customer SET c_nationkey = (c_nationkey + {rng.randint(1, 24)}) % 25 "
                f"WHERE c_mktsegment = '{rng.choice(SEGMENTS)}' "
                f"AND c_acctbal > {rng.randint(-999, 9000)};")
    lo = rng.randint(-999, 9000)
    return (f"UPDATE customer SET c_name = c_name || '{rng.choice('xyz')}', "
            f"c_acctbal = c_acctbal - {_quarter(rng)} "
            f"WHERE c_acctbal BETWEEN {lo} AND {lo + rng.randint(50, 800)};")


def gen_longlog(con, seed, work):
    base = os.path.join(work, "customer_base")
    os.makedirs(base)
    con.execute(f"""COPY (SELECT i::BIGINT AS c_custkey,
        'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        (hash({seed}, i, 1) % 25)::INTEGER AS c_nationkey,
        ((hash({seed}, i, 2) % 1099999)::BIGINT - 99999)::DOUBLE / 100.0 AS c_acctbal,
        {SEGMENTS}[1 + (hash({seed}, i, 3) % 5)::INTEGER] AS c_mktsegment
        FROM range(1, {CUSTOMER_ROWS + 1}) t(i))
        TO '{base}/part-0.parquet' (FORMAT PARQUET)""")
    rng = random.Random(f"longlog-{seed}")
    start = datetime.date(2021, 1, 1)
    stmts = [(customer_stmt(rng, i), _date(start, i)) for i in range(LONGLOG_STMTS)]
    log = "".join(f"-- time={t}\n{s}\n" for s, t in stmts)
    cuts = [stmts[k - 1][1] for k in LONGLOG_CUTS]
    cfg = {"base": base, "log": log, "cuts": cuts,
           "group_by": CUSTOMER_GROUP_BY, "aggs": CUSTOMER_AGGS}
    return cfg, {"stmts": stmts, "base": base}


def _customer_agg_sql(table):
    return f"SELECT {CUSTOMER_GROUP_BY}, {', '.join(CUSTOMER_AGGS)} FROM {table} GROUP BY {CUSTOMER_GROUP_BY}"


def oracle_longlog(con, ref):
    """Expected result hash per cut: the log replayed in file order on a
    DuckDB copy of the base table, up to each cut."""
    con.execute(f"CREATE OR REPLACE TABLE customer AS SELECT * FROM read_parquet('{ref['base']}/*.parquet')")
    out, done = [], 0
    for k in LONGLOG_CUTS:
        for s, _ in ref["stmts"][done:k]:
            con.execute(s)
        done = k
        out.append(hash_rows(con.execute(_customer_agg_sql("customer")).fetchall()))
    return out


# ---- scd_churn_bigscan -----------------------------------------------

LINEITEM_KINDS = ["discount", "flag", "quantity", "discount", "flag", "delete"]


def lineitem_stmt(rng, i):
    k = LINEITEM_KINDS[i % len(LINEITEM_KINDS)]
    if k == "delete":
        m = rng.randint(2000, 5000)
        return f"DELETE FROM lineitem WHERE l_orderkey % {m} = {rng.randrange(m)};"
    if k == "discount":
        m = rng.randint(50, 400)
        return (f"UPDATE lineitem SET l_discount = l_discount + 0.01 "
                f"WHERE l_partkey % {m} = {rng.randrange(m)};")
    if k == "flag":
        return (f"UPDATE lineitem SET l_returnflag = '{rng.choice('ANR')}', "
                f"l_linestatus = '{rng.choice('OF')}' "
                f"WHERE l_suppkey = {rng.randint(1, 1000)} AND l_linenumber = {rng.randint(1, 4)};")
    m = rng.randint(100, 900)
    return (f"UPDATE lineitem SET l_quantity = l_quantity + {rng.randint(1, 5)}, "
            f"l_extendedprice = l_extendedprice + {_quarter(rng)} "
            f"WHERE l_orderkey % {m} = {rng.randrange(m)};")


def gen_churn(con, seed, work):
    base = os.path.join(work, "lineitem_base")
    os.makedirs(base)
    con.execute(f"""CREATE OR REPLACE TEMP TABLE li AS SELECT
        (i // 4 + 1)::BIGINT AS l_orderkey,
        (1 + hash({seed}, i, 1) % 20000)::BIGINT AS l_partkey,
        (1 + hash({seed}, i, 2) % 1000)::BIGINT AS l_suppkey,
        (i % 4 + 1)::INTEGER AS l_linenumber,
        (1 + hash({seed}, i, 3) % 50)::DOUBLE AS l_quantity,
        (1 + hash({seed}, i, 3) % 50)::DOUBLE
          * ((90000 + hash({seed}, i, 4) % 20000)::DOUBLE / 100.0) AS l_extendedprice,
        (hash({seed}, i, 5) % 11)::DOUBLE / 100.0 AS l_discount,
        (hash({seed}, i, 6) % 9)::DOUBLE / 100.0 AS l_tax,
        ['A', 'N', 'R'][1 + (hash({seed}, i, 7) % 3)::INTEGER] AS l_returnflag,
        ['F', 'O'][1 + (hash({seed}, i, 8) % 2)::INTEGER] AS l_linestatus,
        DATE '1992-01-02' + (hash({seed}, i, 9) % 2526)::INTEGER AS l_shipdate
        FROM range({LINEITEM_BASE_ROWS}) t(i)""")
    shift = 10 * LINEITEM_BASE_ROWS
    for r in range(LINEITEM_REPLICAS):
        con.execute(f"""COPY (SELECT l_orderkey + {r * shift} AS l_orderkey,
            l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
            l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate FROM li)
            TO '{base}/part-{r}.parquet' (FORMAT PARQUET)""")
    con.execute("DROP TABLE li")
    rng = random.Random(f"churn-{seed}")
    start = datetime.date(2000, 1, 1)
    stmts = [{"sql": lineitem_stmt(rng, i), "time": _date(start, i)} for i in range(CHURN_STMTS)]
    return {"base": base, "stmts": stmts, "query": Q1_SHAPE}, {"stmts": stmts, "base": base}


def oracle_churn(con, ref, ops):
    """Replays the appended statements in order on a DuckDB copy of the
    base table. Returns (checked, mismatches): every read's hash and every
    compaction's row count and snapshot content are compared with the
    replayed state after the same number of statements."""
    con.execute(f"CREATE OR REPLACE TABLE lineitem AS SELECT * FROM read_parquet('{ref['base']}/*.parquet')")
    wanted = sorted({o["applied"] for o in ops if o["kind"] in ("read", "compact")})
    state, done = {}, 0
    for n in wanted:
        for s in ref["stmts"][done:n]:
            con.execute(s["sql"])
        done = n
        snaps = [o for o in ops if o["kind"] == "compact" and o["applied"] == n]
        state[n] = {
            "hash": hash_rows(con.execute(Q1_SHAPE.format(table="lineitem")).fetchall()),
            "rows": con.execute("SELECT count(*) FROM lineitem").fetchone()[0],
            "content": _content_hash(con, "lineitem") if snaps else None,
        }
    bad = []
    for o in ops:
        if o["kind"] == "read" and o["hash"] != state[o["applied"]]["hash"]:
            bad.append(f"read after {o['applied']} statements: hash differs")
        if o["kind"] == "compact":
            s = state[o["applied"]]
            snap = f"(SELECT * FROM read_parquet('{o['snapshot']}/*.parquet'))"
            if o["rows"] != s["rows"]:
                bad.append(f"compaction after {o['applied']}: {o['rows']} rows, oracle {s['rows']}")
            elif _content_hash(con, snap) != s["content"]:
                bad.append(f"compaction after {o['applied']}: snapshot content differs")
    return len([o for o in ops if o["kind"] in ("read", "compact")]), bad


def _content_hash(con, table):
    """Row count plus an order-insensitive digest of each column's values."""
    return con.execute(f"SELECT count(*), sum(hash(COLUMNS(*)) % 1000000007) FROM {table}").fetchall()


# ---- pipeline_heavy --------------------------------------------------

def gen_pipeline(con, seed, work):
    data = os.path.join(work, "docs")
    os.makedirs(data)
    rng = random.Random(f"docs-{seed}")
    texts = []
    for i in range(DOCUMENTS):
        r = rng.random()
        if texts and r < 0.06:     # near-duplicate of an earlier doc
            w = rng.choice(texts).split()
            w[rng.randrange(len(w))] = rng.choice(WORDS)
        elif texts and r < 0.10:   # an earlier doc inside a longer one
            w = rng.choice(texts).split() + [rng.choice(WORDS) for _ in range(rng.randint(1, 6))]
        else:
            w = [rng.choice(WORDS) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(w))
    rows = [(i, t, rng.choice(LANGS), f"src{i % 20}", len(t)) for i, t in enumerate(texts)]
    con.execute("CREATE OR REPLACE TEMP TABLE docs (doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO docs VALUES (?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY docs TO '{data}/documents.parquet' (FORMAT PARQUET)")
    con.execute("DROP TABLE docs")
    return {"data": data, "rows": PIPELINE_ROWS, "ref": os.path.join(work, "ref")}, {"data": data}


def _norm(v):
    """tools/oracle_check.py's dtype-faithful cell rendering."""
    import numpy as np
    if v is None:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        if v != v:
            return "NaN"
        f = float(v)
        if f in (float("inf"), float("-inf")):
            return str(f)
        return f"{f:.1f}" if f == int(f) and abs(f) < 1e15 else f"{f:.9g}"
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (np.ndarray, list, dict, tuple)):
        raise TypeError(f"non-scalar cell {type(v).__name__}")
    s = str(v)
    return "NULL" if s in ("NaT", "None") else s


def _fingerprint(df):
    """tools/oracle_check.py's frame fingerprint: dtype kinds plus the md5
    of the sorted, formatted rows, columns in name order."""
    cols = sorted(df.columns)
    sub = df[cols]
    kinds = "|".join("O" if sub[c].dtype.kind == "O" else sub[c].dtype.kind for c in cols)
    rows = sorted(",".join(_norm(v) for v in row) for row in sub.itertuples(index=False))
    return cols, kinds, hashlib.md5((kinds + "\n" + "\n".join(rows)).encode()).hexdigest()


def oracle_pipeline(con, ref, post):
    """Each row's written result against its DuckDB oracle SQL."""
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{ref['data']}/documents.parquet')")
    bad = []
    for name, r in sorted(post["rows"].items()):
        if r["hash"] != r["ref_hash"]:
            bad.append(f"{name}: re-run hash differs from the set-up reference")
            continue
        try:
            want = _fingerprint(con.execute(r["oracle_sql"]).fetchdf())
            got = _fingerprint(con.execute(f"SELECT * FROM read_parquet('{r['parquet']}/*.parquet')").fetchdf())
        except Exception as e:  # noqa: BLE001 - any oracle failure is a mismatch
            bad.append(f"{name}: {str(e).splitlines()[0][:160]}")
            continue
        if want != got:
            bad.append(f"{name}: oracle mismatch")
    return len(post["rows"]), bad


def connect(work):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb-tmp')}'")
    return con
