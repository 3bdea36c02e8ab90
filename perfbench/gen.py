"""Seeded input generators for the graft benchmark.

Everything here is plain numpy/pyarrow: the generator calls no graft code,
so graft only ever sees files written by this module. The same seed gives
byte-identical files, and `content_hash` proves it across checkouts.

Tables follow the schema of the repo's TPC-H-ish fixture tables (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings). Row counts scale with `sf` like TPC-H: lineitem = 6M x sf.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = ("the a row query stream value hash batch sort data big filter fast "
         "spark line small customer group key agg scan slow table part merge "
         "window order column join vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "shiny"]
PNOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _rng(seed, stream):
    """An independent generator per (seed, table) so adding a table never
    shifts another table's values."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _days(rng, n, lo_day, hi_day):
    d = rng.integers(lo_day, hi_day + 1, n)
    return pa.array(EPOCH_1995 + d * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def region():
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": names})


def nation():
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(seed, n):
    r = _rng(seed, 1)
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(r, n, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)]})


def supplier(seed, n):
    r = _rng(seed, 2)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(r, n, -999.99, 9999.99)})


def part(seed, n):
    r = _rng(seed, 3)
    names = [f"{PADJ[a]} {PNOUN[b]}" for a, b in
             zip(r.integers(0, len(PADJ), n), r.integers(0, len(PNOUN), n))]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": np.array(PTYPES)[r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(r.uniform(900.0, 999.9, n), 1)})


def orders(seed, n, n_cust):
    r = _rng(seed, 4)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
        "o_totalprice": _money(r, n, 1000.0, 500000.0),
        "o_orderdate": _days(r, n, 0, 2404),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)]})


def lineitem(seed, n, n_ord, n_part, n_supp):
    r = _rng(seed, 5)
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, n, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": _days(r, n, 1, 2499)})


def events(seed, n, start_id=0, t0=EPOCH_2024):
    r = _rng(seed, 6)
    gaps = (r.exponential(259.0, n) * 1e6).astype(np.int64) + 1
    return pa.table({
        "event_id": pa.array(np.arange(start_id, start_id + n), pa.int64()),
        "ts": pa.array(t0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})


def random_text(r, n_words):
    return " ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), n_words)])


def documents(seed, n, dup_share=0.05):
    """Random-vocabulary documents; `dup_share` of them are planted
    near-duplicates: another document's text plus a trailing " dup"."""
    r = _rng(seed, 7)
    texts = [random_text(r, k) for k in r.integers(10, 100, n)]
    for i in np.flatnonzero(r.random(n) < dup_share):
        j = int(r.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{s}" for s in r.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(seed, n, dim=64, n_labels=10):
    """Unit vectors, weakly clustered around one centre per label."""
    r = _rng(seed, 8)
    centres = r.normal(size=(n_labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = r.integers(0, n_labels, n)
    v = 0.14 * centres[labels] + r.normal(size=(n, dim)) / np.sqrt(dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def write_tables(out_dir, sf, seed):
    """All ten tables at scale factor `sf` as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    tabs = {
        "region": region(), "nation": nation(),
        "customer": customer(seed, n_cust), "supplier": supplier(seed, n_supp),
        "part": part(seed, n_part), "orders": orders(seed, n_ord, n_cust),
        "lineitem": lineitem(seed, int(6_000_000 * sf), n_ord, n_part, n_supp),
        "events": events(seed, int(1_000_000 * sf)),
        "documents": documents(seed, int(50_000 * sf)),
        "embeddings": embeddings(seed, int(50_000 * sf))}
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tabs.items()}


def content_hash(root):
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def dir_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


# ------------------------------------------------------------------- etl

CUSTOMER_FW = [("c_custkey", "num", 10), ("c_name", "str", 20),
               ("c_nationkey", "num", 4), ("c_acctbal", "formatnum", 12),
               ("c_mktsegment", "str", 12)]

COOKBOOK = """<?xml version="1.0" encoding="UTF-8"?>
<cookbook id="CUSTOMER-COOKBOOK">
  <source>
    <dfasdl xmlns="http://www.dfasdl.org/DFASDL" id="CUSTOMER-FW">
      <seq id="customers"><elem id="customer">
{fields}
      </elem></seq>
    </dfasdl>
  </source>
  <recipe id="CUSTOMERS" mode="one-to-one">
    <mapping><sources>c_custkey</sources><targets>c_custkey</targets></mapping>
    <mapping><sources>c_name</sources><targets>name</targets>
      <transformation class="com.wegtam.tensei.agent.transformers.Replace">
        <option name="search" value="Customer#"/><option name="replace" value="C-"/>
      </transformation></mapping>
    <mapping><sources>c_nationkey</sources><targets>nation_band</targets>
      <transformation class="com.wegtam.tensei.agent.transformers.IfThenElseNumeric">
        <option name="if" value="x&gt;20"/><option name="then" value="x=20"/>
        <option name="else" value="x"/>
      </transformation></mapping>
    <mapping><sources>c_acctbal</sources><targets>c_acctbal</targets></mapping>
    <mapping><sources>c_mktsegment</sources><targets>segment</targets>
      <transformation class="com.wegtam.tensei.agent.transformers.LowerOrUpper">
        <option name="perform" value="lower"/>
      </transformation></mapping>
  </recipe>
</cookbook>
"""


def _parts(n, k):
    """Split range(n) into k contiguous slices."""
    b = np.linspace(0, n, k + 1).astype(int)
    return [slice(b[i], b[i + 1]) for i in range(k)]


def _day_strings(col):
    return pc.strftime(col, format="%Y-%m-%d")


def write_etl(out_dir, sf, seed, files=4):
    """The etl sources: lineitem and part as CSV, orders as JSON lines,
    customer as DFASDL fixed-width text, plus the cookbook."""
    n_cust, n_part, n_ord = int(150_000 * sf), int(200_000 * sf), int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    li = lineitem(seed, n_li, n_ord, n_part, 1000)
    li = li.set_column(li.schema.get_field_index("l_shipdate"), "l_shipdate",
                       _day_strings(li["l_shipdate"]))
    part_t = part(seed, n_part)
    ords = orders(seed, n_ord, n_cust)
    cust = customer(seed, n_cust)
    for name, t in (("lineitem_csv", li), ("part_csv", part_t)):
        os.makedirs(os.path.join(out_dir, name))
        for i, s in enumerate(_parts(t.num_rows, files)):
            pacsv.write_csv(t.slice(s.start, s.stop - s.start),
                            os.path.join(out_dir, name, f"part-{i}.csv"))
    os.makedirs(os.path.join(out_dir, "orders_json"))
    od = ords.to_pydict()
    days = _day_strings(ords["o_orderdate"]).to_pylist()
    for i, s in enumerate(_parts(n_ord, files)):
        with open(os.path.join(out_dir, "orders_json", f"part-{i}.json"), "w") as f:
            for r in range(s.start, s.stop):
                f.write(json.dumps({
                    "o_orderkey": od["o_orderkey"][r], "o_custkey": od["o_custkey"][r],
                    "o_orderstatus": od["o_orderstatus"][r],
                    "o_totalprice": od["o_totalprice"][r], "o_orderdate": days[r],
                    "o_orderpriority": od["o_orderpriority"][r]}) + "\n")
    os.makedirs(os.path.join(out_dir, "customer_fw"))
    cd = cust.to_pydict()
    for i, s in enumerate(_parts(n_cust, files)):
        with open(os.path.join(out_dir, "customer_fw", f"part-{i}.txt"), "w") as f:
            for r in range(s.start, s.stop):
                vals = [str(cd["c_custkey"][r]), cd["c_name"][r], str(cd["c_nationkey"][r]),
                        f"{cd['c_acctbal'][r]:.2f}", cd["c_mktsegment"][r]]
                f.write("".join(v.ljust(w) for v, (_, _, w) in zip(vals, CUSTOMER_FW)) + "\n")
    fields = "\n".join(f'        <{t} id="{n}" length="{w}"/>' for n, t, w in CUSTOMER_FW)
    with open(os.path.join(out_dir, "customer.cookbook.xml"), "w") as f:
        f.write(COOKBOOK.format(fields=fields))
    rows = n_li + n_ord + n_cust + n_part
    with open(os.path.join(out_dir, "source_rows.txt"), "w") as f:
        f.write(f"{rows}\n")
    return {"lineitem": n_li, "orders": n_ord, "customer": n_cust, "part": n_part}


# ---------------------------------------------------------------- curate

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def corpus_vocab(n=2000):
    """A fixed vocabulary of pronounceable pseudo-words, so that distinct
    documents share few shingles (unlike the 30-word fixture vocabulary)."""
    r = _rng(0, 11)
    cons, vow = list("bcdfghklmnprstvz"), list("aeiou")
    words = set()
    while len(words) < n:
        k = int(r.integers(2, 5))
        words.add("".join(cons[r.integers(0, 16)] + vow[r.integers(0, 5)] for _ in range(k)))
    return np.array(sorted(words))


def corpus_text(r, vocab, n_words):
    """`n_words` words: about one in six a stopword, the rest from `vocab`."""
    w = vocab[r.integers(0, len(vocab), n_words)]
    stop = r.random(n_words) < 1 / 6
    w[stop] = np.array(STOPWORDS)[r.integers(0, len(STOPWORDS), int(stop.sum()))]
    return " ".join(w)


def write_curate(out_dir, n_docs, n_vectors, seed, junk=0.05, exact=0.05, near=0.15):
    """A near-duplicate corpus. Roles are assigned to random ids: `junk`
    share of short low-quality texts (the gate drops them), `exact` share of
    byte-identical copies of an original, `near` share of near-duplicates
    (an original plus two appended words, word-3-shingle Jaccard > 0.9);
    the rest are distinct originals of 40-120 words. The planted
    (copy, original) pairs are written for the recall check."""
    r = _rng(seed, 9)
    vocab = corpus_vocab()
    roles = r.choice(4, n_docs, p=[1 - junk - exact - near, junk, exact, near])
    roles[0] = 0
    texts = [None] * n_docs
    originals = []
    for i in range(n_docs):
        if roles[i] == 1:
            texts[i] = corpus_text(r, vocab, int(r.integers(3, 7)))
        elif roles[i] in (2, 3) and originals:
            j = originals[int(r.integers(0, len(originals)))]
            texts[i] = texts[j] if roles[i] == 2 else texts[j] + " " + corpus_text(r, vocab, 2)
        else:
            roles[i] = 0
            texts[i] = corpus_text(r, vocab, int(r.integers(40, 121)))
            originals.append(i)
    planted = []
    for i in range(n_docs):
        if roles[i] == 3:
            base = texts[i].rsplit(" ", 2)[0]
            j = next(k for k in originals if texts[k] == base)
            planted.append((min(i, j), max(i, j)))
    os.makedirs(os.path.join(out_dir, "corpus"))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in r.integers(0, 20, n_docs)]}),
        os.path.join(out_dir, "corpus", "part-0.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                             "role": pa.array(roles, pa.int32())}),
                   os.path.join(out_dir, "roles.parquet"))
    pq.write_table(pa.table({"id_a": pa.array([a for a, _ in planted], pa.int64()),
                             "id_b": pa.array([b for _, b in planted], pa.int64())}),
                   os.path.join(out_dir, "planted_pairs.parquet"))
    os.makedirs(os.path.join(out_dir, "vectors"))
    pq.write_table(embeddings(seed, n_vectors), os.path.join(out_dir, "vectors", "part-0.parquet"))
    with open(os.path.join(out_dir, "source_rows.txt"), "w") as f:
        f.write(f"{n_docs}\n")
    return {"docs": n_docs, "vectors": n_vectors, "planted_near_pairs": len(planted),
            "junk": int((roles == 1).sum()), "exact_copies": int((roles == 2).sum())}
