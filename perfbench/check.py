"""Correctness checks for the graft benchmark, run after the timed region.

Each check compares what graft produced (dumped or written by the JVM)
with DuckDB running over the same generated inputs, and returns a list of
failure messages (empty when correct).
"""
import datetime
import decimal
import hashlib
import json
import os
from collections import Counter

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


# ------------------------------------------------------- canonical values

def _num(x):
    if isinstance(x, float):
        if x != x:
            return ["n", "NaN"]
        if x in (float("inf"), float("-inf")):
            return ["n", "Inf" if x > 0 else "-Inf"]
        x = decimal.Decimal(repr(x))
    s = format(decimal.Decimal(x).normalize(), "f")
    return ["n", "0" if s == "-0" else s]


def _micros(dt):
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    d = dt - EPOCH
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


def from_jvm(v):
    """A cell as rendered by perfbench.Canon -> canonical Python value."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, list):
        return [from_jvm(x) for x in v]
    if "n" in v:
        return _num(decimal.Decimal(v["n"]))
    if "d" in v:
        return _num(float(v["d"]))
    if "t" in v:
        return ["t", v["t"]]
    if "b" in v:
        return ["b", v["b"]]
    return ["m", sorted(([from_jvm(k), from_jvm(x)] for k, x in v["m"]), key=json.dumps)]


def from_duckdb(v):
    """A value fetched from DuckDB -> canonical Python value."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return _num(v)
    if isinstance(v, datetime.datetime):
        return ["t", _micros(v)]
    if isinstance(v, datetime.date):
        return ["t", _micros(datetime.datetime(v.year, v.month, v.day))]
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ["b", bytes(v).hex()]
    if isinstance(v, (list, tuple)):
        return [from_duckdb(x) for x in v]
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            items = zip(v["key"], v["value"])
        else:
            return [from_duckdb(x) for x in v.values()]
        return ["m", sorted(([from_duckdb(k), from_duckdb(x)] for k, x in items),
                            key=json.dumps)]
    return str(v)


def canon_rows(rows):
    return sorted(json.dumps(r, separators=(",", ":")) for r in rows)


def _connect(tables_dir=None):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    if tables_dir:
        for t in TABLES:
            p = os.path.join(tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# ------------------------------------------------------------- catalog

def check_catalog(tables_dir, results_dir, cache_dir, inputs_hash):
    """Every sliced query with an oracle must equal DuckDB's result as a
    multiset of canonical rows. DuckDB results are cached per (oracle SQL,
    input hash): they depend on nothing graft computes."""
    fails = []
    index = json.load(open(os.path.join(results_dir, "index.json")))
    con = None
    os.makedirs(cache_dir, exist_ok=True)
    compared = 0
    for q in index:
        name, sql = q["name"], q["oracle"]
        dump = os.path.join(results_dir, f"{name}.jsonl")
        if not os.path.exists(dump):
            fails.append(f"{name}: no result (the query failed)")
            continue
        if sql is None:
            continue  # no oracle: the JVM checks fingerprint stability
        with open(dump) as f:
            cols = json.loads(f.readline())
            got = canon_rows(from_jvm(json.loads(line)) for line in f)
        key = hashlib.sha256((inputs_hash + "\0" + sql).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cached):
            want_cols, want = json.load(open(cached))
        else:
            con = con or _connect(tables_dir)
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            order = sorted(range(len(names)), key=lambda i: names[i])
            want_cols = [names[i] for i in order]
            want = canon_rows([from_duckdb(r[i]) for i in order] for r in cur.fetchall())
            tmp = cached + ".tmp"
            json.dump([want_cols, want], open(tmp, "w"))
            os.replace(tmp, cached)
        compared += 1
        if [c.lower() for c in cols] != [c.lower() for c in want_cols]:
            fails.append(f"{name}: columns {cols} != oracle {want_cols}")
        elif got != want:
            extra = Counter(got) - Counter(want)
            missing = Counter(want) - Counter(got)
            fails.append(f"{name}: {sum(extra.values())} unexpected and "
                         f"{sum(missing.values())} missing rows (oracle has {len(want)})")
    return fails, compared


# ----------------------------------------------------------------- etl

def check_etl(data_dir, out_dir):
    d = lambda *p: os.path.join(data_dir, *p)
    o = lambda *p: os.path.join(out_dir, *p)
    con = _connect()
    fw = {}
    pos = 1
    from gen import CUSTOMER_FW
    for name, _, w in CUSTOMER_FW:
        fw[name] = f"trim(substr(line, {pos}, {w}))"
        pos += w
    con.execute(f"""CREATE VIEW cust AS SELECT
        CAST({fw['c_custkey']} AS BIGINT) AS c_custkey, {fw['c_name']} AS c_name,
        CAST({fw['c_nationkey']} AS BIGINT) AS c_nationkey,
        CAST({fw['c_acctbal']} AS DOUBLE) AS c_acctbal, {fw['c_mktsegment']} AS c_mktsegment
        FROM read_csv('{d('customer_fw', '*.txt')}', header=false, delim='\x01',
                      columns={{'line': 'VARCHAR'}}, quote='', escape='')""")
    con.execute(f"""CREATE VIEW cust_t AS SELECT c_custkey,
        replace(c_name, 'Customer#', 'C-') AS name,
        CASE WHEN c_nationkey > 20 THEN 20 ELSE c_nationkey END AS nation_band,
        c_acctbal, lower(c_mktsegment) AS segment FROM cust""")
    con.execute(f"CREATE VIEW li AS SELECT * FROM read_csv('{d('lineitem_csv', '*.csv')}', header=true, all_varchar=true)")
    con.execute(f"CREATE VIEW ord AS SELECT * FROM read_json('{d('orders_json', '*.json')}', format='newline_delimited')")
    con.execute(f"CREATE VIEW prt AS SELECT * FROM read_csv('{d('part_csv', '*.csv')}', header=true)")
    want_facts = f"""SELECT CAST(l_orderkey AS BIGINT) AS orderkey, CAST(l_partkey AS BIGINT) AS partkey,
        CAST(l_linenumber AS BIGINT) AS linenumber,
        CAST(CASE WHEN CAST(l_quantity AS DOUBLE) > 40 THEN 40 ELSE CAST(l_quantity AS DOUBLE) END AS BIGINT) AS qty_capped,
        CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) AS net_price,
        lower('<' || l_returnflag || '-' || l_linestatus || '>') AS status,
        l_shipdate[1:10] AS ship_day,
        o.custkey, p.brand, c.segment
      FROM li
      LEFT JOIN (SELECT o_orderkey, min(o_custkey) AS custkey FROM ord GROUP BY 1) o
        ON CAST(l_orderkey AS BIGINT) = o.o_orderkey
      LEFT JOIN (SELECT p_partkey, min(p_brand) AS brand FROM prt GROUP BY 1) p
        ON CAST(l_partkey AS BIGINT) = p.p_partkey
      LEFT JOIN (SELECT c_custkey, min(segment) AS segment FROM cust_t GROUP BY 1) c
        ON o.custkey = c.c_custkey"""
    got_facts = f"""SELECT CAST(orderkey AS BIGINT), CAST(partkey AS BIGINT), CAST(linenumber AS BIGINT),
        CAST(qty_capped AS BIGINT), CAST(net_price AS DOUBLE), status, CAST(ship_day AS VARCHAR),
        CAST(custkey AS BIGINT), brand, segment
      FROM read_parquet('{o('facts', '*.parquet')}')"""
    got_cust = f"""SELECT CAST(c_custkey AS BIGINT), name, CAST(nation_band AS BIGINT),
        CAST(c_acctbal AS DOUBLE), segment
      FROM read_csv('{o('customers', '*.csv')}', header=true, all_varchar=true)"""
    fails = []
    for label, got, want in (("facts", got_facts, want_facts),
                             ("customers", got_cust, "SELECT * FROM cust_t")):
        a = con.execute(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))").fetchone()[0]
        b = con.execute(f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))").fetchone()[0]
        n = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
        if a or b or not n:
            fails.append(f"etl {label}: {a} unexpected rows, {b} missing rows (of {n})")
    bad = con.execute(f"""SELECT count(*) FROM
        (SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM ord GROUP BY 1) w
        FULL JOIN read_json('{o('order_status', '*.json')}', format='newline_delimited') g
          USING (o_orderstatus)
        WHERE w.n IS DISTINCT FROM g.n OR abs(w.total - g.total) > 1e-6 * abs(w.total)
           OR g.total IS NULL""").fetchone()[0]
    if bad:
        fails.append(f"etl order_status: {bad} groups differ")
    return fails


# -------------------------------------------------------------- curate

def check_curate(data_dir, out_dir, min_recall=0.95):
    """Exact dedup and connected components against DuckDB, survivors
    against both, and near-duplicate recall against the planted pairs."""
    d = lambda *p: os.path.join(data_dir, *p)
    o = lambda n: os.path.join(out_dir, n, "*.parquet")
    con = _connect()
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM read_parquet('{d('corpus', '*.parquet')}')")
    con.execute(f"CREATE VIEW roles AS SELECT * FROM read_parquet('{d('roles.parquet')}')")
    con.execute(f"CREATE VIEW planted AS SELECT * FROM read_parquet('{d('planted_pairs.parquet')}')")
    for n in ("gated", "exact", "pairs", "labels"):
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{o(n)}')")
    con.execute(f"CREATE VIEW kept AS SELECT * FROM read_parquet('{os.path.join(out_dir, 'shards', '**', '*.parquet')}', hive_partitioning=false)")
    one = lambda sql: con.execute(sql).fetchone()[0]
    fails = []
    junk_kept = one("SELECT count(*) FROM gated JOIN roles USING (doc_id) WHERE role = 1")
    if junk_kept:
        fails.append(f"curate gate: {junk_kept} junk documents passed")
    con.execute("""CREATE VIEW want_exact AS
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM corpus JOIN gated USING (doc_id)
        GROUP BY regexp_replace(lower(text), '\\s+', ' ', 'g')""")
    for a, b in (("exact", "want_exact"), ("want_exact", "exact")):
        n = one(f"SELECT count(*) FROM (SELECT keep_id, n_copies FROM {a} EXCEPT ALL SELECT keep_id, n_copies FROM {b})")
        if n:
            fails.append(f"curate exact dedup: {n} groups in {a} not in {b}")
    con.execute("""CREATE TABLE want_labels AS
        WITH RECURSIVE e AS (SELECT id_a AS a, id_b AS b FROM pairs
                             UNION SELECT id_b, id_a FROM pairs),
        reach(id, r) AS (SELECT a, a FROM e UNION
                         SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a)
        SELECT id, min(r) AS cluster FROM reach GROUP BY id""")
    for a, b in (("labels", "want_labels"), ("want_labels", "labels")):
        n = one(f"SELECT count(*) FROM (SELECT id, cluster FROM {a} EXCEPT SELECT id, cluster FROM {b})")
        if n:
            fails.append(f"curate components: {n} labels in {a} not in {b}")
    con.execute("""CREATE VIEW want_kept AS
        SELECT keep_id AS doc_id FROM exact
        EXCEPT SELECT id FROM labels WHERE id <> cluster""")
    for a, b in (("kept", "want_kept"), ("want_kept", "kept")):
        n = one(f"SELECT count(*) FROM (SELECT doc_id FROM {a} EXCEPT ALL SELECT doc_id FROM {b})")
        if n:
            fails.append(f"curate survivors: {n} ids in {a} not in {b}")
    # each document stands for its exact-dedup representative
    con.execute("""CREATE VIEW rep AS
        SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS rep FROM corpus""")
    planted, found = con.execute("""
        SELECT count(*), count(p.id_a) FROM
          (SELECT DISTINCT least(ra.rep, rb.rep) AS a, greatest(ra.rep, rb.rep) AS b
           FROM planted JOIN rep ra ON ra.doc_id = planted.id_a
                        JOIN rep rb ON rb.doc_id = planted.id_b
           WHERE ra.rep <> rb.rep) w
        LEFT JOIN pairs p ON p.id_a = w.a AND p.id_b = w.b""").fetchone()
    recall = found / planted if planted else 1.0
    if recall < min_recall:
        fails.append(f"curate near-dup recall {recall:.3f} < {min_recall}")
    return fails, {"near_dup_recall": recall, "planted_pairs": planted}
