"""Seeded generator for the benchmark's input tables and DML statement mix.

The tables have the schemas and value domains of the engine's parquet
testdata (a TPC-H-like star schema without partsupp, plus `events`,
`documents` and `embeddings`); row counts scale with `scale` exactly as
that data does (scale 0.1 = 600,000 lineitem rows). The same seed always
gives byte-identical parquet files.

The dialect workload's statements are generated here together with a
model of the table they act on, so every read carries its expected rows
and the final table can be checked against the model.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

EPOCH = dt.datetime(1970, 1, 1)


def _days(d):
    return (d - EPOCH).days


def _ts_days(rng, n, lo, hi):
    """Midnight timestamps, uniform over [lo, hi] (inclusive)."""
    d = rng.integers(_days(lo), _days(hi) + 1, n).astype("int64")
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def tables(out, seed, scale):
    """Write the ten input tables for `seed` into directory `out`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = (int(150_000 * scale), int(10_000 * scale),
                              int(200_000 * scale))
    n_ord, n_line, n_ev = (int(1_500_000 * scale), int(6_000_000 * scale),
                           int(1_000_000 * scale))
    n_doc, n_emb = int(50_000 * scale), int(20_000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def pick(values, n, p=None):
        return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], s)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pick(names, n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0), f64),
        "o_orderdate": _ts_days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64"), f64),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0), f64),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2), f64),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _ts_days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))})
    # events: one stream over 30 days, timestamps ascending with event_id
    span_us = 30 * 86_400_000_000
    start_us = _days(dt.datetime(2024, 1, 1)) * 86_400_000_000
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(start_us + np.sort(rng.integers(0, span_us, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * scale)), n_ev), i64),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # documents: random 10–100-word texts; 5% are an earlier text + " dup"
    # (the near-duplicates the dedup query looks for)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n_doc)]
    dup = np.zeros(n_doc, bool)
    dup[rng.choice(np.arange(10, n_doc), n_doc // 20, replace=False)] = True
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[rng.choice(originals[originals < i])] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pick(LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # unit vectors around 16 random centres, as embeddings cluster; on
    # structureless vectors v6's IVF probe missed its recall bound (3 of 10
    # true neighbours per query) for 1 seed in 17
    centres = rng.standard_normal((16, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    v = centres[rng.integers(0, 16, n_emb)] + 0.1 * rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


# --------------------------------------------------------------------------
# dialect_dml: statements plus the model they are checked against

DML_TABLE = "bench_dml"
DML_ROWS = 2000
# Statements come in blocks of this fixed composition, shuffled within
# the block, so any whole number of blocks has the same mix: 12 reads and
# 13 writes, inserts matching deletes so the live row count stays at
# DML_ROWS. One statement per block (4%) is MySQL's own date_format
# spelling, which the dialect layer is known to reject; it stays in the
# mix and counts as a failure.
DML_BLOCK = (["read_date_format"] + ["read_point"] * 7 + ["read_agg"] * 4
             + ["insert"] * 3 + ["delete"] * 3 + ["update"] * 3 + ["upsert"] * 4)
DML_DDL = (f"CREATE TABLE {DML_TABLE} (id INT, grp INT, qty INT, "
           "name VARCHAR(32), ts TIMESTAMP)")
_TS0 = dt.datetime(2024, 1, 1)


def _row(rng, rid):
    ts = _TS0 + dt.timedelta(seconds=int(rng.integers(0, 366 * 86400)))
    return [rid, int(rng.integers(0, 10)), int(rng.integers(1, 100)),
            f"n{int(rng.integers(0, 100000))}", ts]


def _lit(v):
    if isinstance(v, dt.datetime):
        # a typed literal: a bare string into a TIMESTAMP column is rejected
        # by the dialect layer's INSERT path (see README.md, findings)
        return f"TIMESTAMP '{v:%Y-%m-%d %H:%M:%S}'"
    return f"'{v}'" if isinstance(v, str) else str(v)


def _values(r):
    return "(" + ", ".join(_lit(x) for x in r) + ")"


def _canon(row):
    """Render a row the way the harness renders result cells."""
    return "|".join(f"{x:%Y-%m-%d %H:%M:%S}" if isinstance(x, dt.datetime) else str(x)
                    for x in row)


def dml_initial(seed):
    """Initial rows (ids 0..DML_ROWS-1) as INSERT statements of 500 rows."""
    rng = np.random.default_rng([seed, 1])
    rows = [_row(rng, i) for i in range(DML_ROWS)]
    stmts = [f"INSERT INTO {DML_TABLE} VALUES " + ", ".join(_values(r) for r in rows[i:i + 500])
             for i in range(0, DML_ROWS, 500)]
    return rows, stmts


def dml_ops(seed, n):
    """At least `n` seeded statements (whole blocks), each a dict
    {kind, sql, expect, effect}.

    `expect` holds a read's sorted canonical result rows (None for a
    write); `effect` is the write's change to the model, replayed by
    `dml_model_after`.
    """
    rows, _ = dml_initial(seed)
    live = {r[0]: list(r) for r in rows}
    next_id = DML_ROWS
    rng = np.random.default_rng([seed, 2])
    ops = []

    def some_id():
        keys = list(live)
        return keys[int(rng.integers(0, len(keys)))]

    def write(kind, sql, effect):
        _apply(live, effect)
        ops.append({"kind": kind, "sql": sql, "expect": None, "effect": effect})

    def read(kind, sql, expect):
        ops.append({"kind": kind, "sql": sql, "expect": sorted(expect), "effect": None})

    while len(ops) < n:
        for kind in rng.permutation(DML_BLOCK):
            if kind == "read_date_format":
                rid = some_id()
                read(kind, f"SELECT id, date_format(ts, '%Y-%m') FROM {DML_TABLE} WHERE id = {rid}",
                     [_canon([rid, f"{live[rid][4]:%Y-%m}"])])
            elif kind == "read_point":
                rid = some_id()
                r = live[rid]
                read(kind,
                     f"SELECT id, if(qty > 50, 'big', 'small'), mo_date_format(ts, '%Y-%m-%d'), "
                     f"concat_ws('-', name, grp) FROM {DML_TABLE} WHERE id = {rid}",
                     [_canon([rid, "big" if r[2] > 50 else "small", f"{r[4]:%Y-%m-%d}",
                              f"{r[3]}-{r[1]}"])])
            elif kind == "read_agg":
                lo = int(rng.integers(1, 90))
                agg = {}
                for r in live.values():
                    if r[2] >= lo:
                        c, q = agg.get(r[1], (0, 0))
                        agg[r[1]] = (c + 1, q + r[2])
                read(kind, f"SELECT grp, count(*), sum(qty) FROM {DML_TABLE} "
                           f"WHERE qty >= {lo} GROUP BY grp",
                     [_canon([g, c, q]) for g, (c, q) in agg.items()])
            elif kind == "insert":
                r = _row(rng, next_id)
                next_id += 1
                write(kind, f"INSERT INTO {DML_TABLE} VALUES {_values(r)}", ("put", r))
            elif kind == "delete":
                rid = some_id()
                write(kind, f"DELETE FROM {DML_TABLE} WHERE id = {rid}", ("del", rid))
            elif kind == "update":
                rid, d = some_id(), int(rng.integers(1, 5))
                write(kind, f"UPDATE {DML_TABLE} SET qty = qty + {d} WHERE id = {rid}",
                      ("add", rid, d))
            else:  # upsert onto a live key: the row's qty grows
                rid, d = some_id(), int(rng.integers(1, 5))
                write(kind, f"INSERT INTO {DML_TABLE} VALUES {_values(_row(rng, rid))} "
                            f"ON DUPLICATE KEY UPDATE qty = qty + {d}", ("add", rid, d))
    return ops


def _apply(live, effect):
    if effect[0] == "put":
        live[effect[1][0]] = list(effect[1])
    elif effect[0] == "del":
        del live[effect[1]]
    else:
        live[effect[1]][2] += effect[2]


def dml_model_after(seed, ops, k):
    """Model table (canonical rows ordered by id) after the first k statements."""
    rows, _ = dml_initial(seed)
    live = {r[0]: list(r) for r in rows}
    for op in ops[:k]:
        if op["effect"]:
            _apply(live, op["effect"])
    return [_canon(live[i]) for i in sorted(live)]
