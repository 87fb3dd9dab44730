"""Input generation for the benchmark.

Two kinds of input:

* ``base_tables``: the ten tables the registry reads (TPC-H-shaped star
  schema plus ``events``, ``documents`` and ``embeddings``), in the shape
  of graft's reference test data: same columns, types, key ranges,
  vocabularies and duplicate structure, with row counts scaled by ``sf``.
  They come from a fixed internal seed, so the committed row-count and
  content-hash expectations hold for every run.
* ``ingest_batches``: seeded pipe-delimited extracts of referrals shaped
  from ``orders``: inserts of new keys plus newer versions of existing
  keys, with dirty whitespace and null-vocabulary values. The generator
  also returns the merged state the loader must reach.
"""
import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "large hot blue old cold red small green".split()
NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

def row_counts(sf):
    n = lambda base, floor=1: max(floor, int(round(base * sf)))
    return {"customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
            "orders": n(1_500_000), "lineitem": n(6_000_000),
            "events": n(1_000_000), "users": n(15_000),
            "documents": n(50_000, 500), "embeddings": n(20_000, 500)}


def _days(rng, n, start, end):
    span = (end - start).days
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    """Word-salad documents of 10-100 tokens; 5% are another document
    plus the token ``dup`` (near duplicates) and 0.2% exact copies."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    near = rng.random(n) < 0.05
    exact = (~near) & (rng.random(n) < 0.002)
    src = rng.integers(0, n, n)
    for i in np.flatnonzero(near | exact):
        j = int(src[i]) if src[i] != i else (i + 1) % n
        texts[i] = texts[j] + " dup" if near[i] else texts[j]
    return texts


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def base_tables(out_dir, sf):
    """Write the ten registry tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    c = row_counts(sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))

    _write(out_dir, "region", pa.table({"r_regionkey": i32(range(5)),
                                        "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])}))
    n = c["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": i64(range(n)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n).tolist()}))
    n = c["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": i64(range(n)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)}))
    n = c["part"]
    _write(out_dir, "part", pa.table({
        "p_partkey": i64(range(n)),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(P_TYPES, n).tolist(),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2)}))
    n = c["orders"]
    _write(out_dir, "orders", pa.table({
        "o_orderkey": i64(range(n)),
        "o_custkey": i64(rng.integers(0, c["customer"], n)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n).tolist()}))
    n = c["lineitem"]
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": i64(rng.integers(0, c["orders"], n)),
        "l_partkey": i64(rng.integers(0, c["part"], n)),
        "l_suppkey": i64(rng.integers(0, c["supplier"], n)),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4))}))
    n = c["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    _write(out_dir, "events", pa.table({
        "event_id": i64(range(n)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, c["users"], n)),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}))
    n = c["documents"]
    texts = _texts(rng, n)
    _write(out_dir, "documents", pa.table({
        "doc_id": i64(range(n)),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": i64([len(t) for t in texts])}))
    n = c["embeddings"]
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": i64(range(n)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n))}))


# ---------------------------------------------------------------- ingest

REFERRAL_COLS = ["referral_id", "client_id", "status", "program",
                 "amount_cents", "referred_on", "version"]
STATUS_OF = {"F": "closed", "O": "open", "P": "pending"}
PROGRAMS = ["housing", "food", "health", "legal", "transport", "childcare"]


def referral_row_text(r):
    """The canonical text of one merged row, as the loader's checksum
    formats it: ``|``-joined fields, a null as ``\\N``."""
    return "|".join("\\N" if v is None else str(v) for v in r)


def referral_checksum(rows):
    """Order-independent checksum of a merged referral table: the sum of
    the CRC-32 of every row's canonical text."""
    return sum(zlib.crc32(referral_row_text(r).encode()) for r in rows)


def _referrals(o, idx):
    """Referral rows (lists in REFERRAL_COLS order, version 0) shaped
    from the ``orders`` rows at positions ``idx``."""
    day0 = np.datetime64("1970-01-01", "D")
    keys = o["o_orderkey"][idx]
    days = (o["o_orderdate"][idx].astype("datetime64[D]") - day0).astype(np.int64)
    cents = np.round(o["o_totalprice"][idx] * 100).astype(np.int64)
    return [[int(k), int(c), STATUS_OF[st], PROGRAMS[int(k) % len(PROGRAMS)],
             int(a), int(d), 0]
            for k, c, st, a, d in zip(keys, o["o_custkey"][idx],
                                      o["o_orderstatus"][idx], cents, days)]


def ingest_batches(base_dir, out_dir, seed, table_rows, batch_rows, n_batches):
    """Write the initial referral table (parquet, in the loader's typed
    schema) and ``n_batches`` seeded pipe-delimited extract batches.

    Each batch is 70% updates of existing keys (a newer ``version``,
    possibly a new status or amount) and 30% inserts of new keys. Fields
    carry dirty whitespace; optional fields are sometimes written with a
    null-vocabulary token (``NULL``, ``null``, ``None`` or empty).
    Versions are unique per key across all batches, so the merged state
    does not depend on the order the batches are applied in.

    Returns ``(initial, files, expected)``: the initial table's path,
    the batch files with their row and byte counts, and the merged
    table's key count and checksum."""
    os.makedirs(out_dir, exist_ok=True)
    t = pq.read_table(os.path.join(base_dir, "orders.parquet"))
    o = {c: t.column(c).to_numpy() for c in t.column_names}
    n_orders = len(o["o_orderkey"])
    table_rows = min(table_rows, n_orders)
    rng = np.random.default_rng(seed)
    state = {r[0]: r for r in _referrals(o, np.arange(table_rows))}
    initial = os.path.join(out_dir, "initial.parquet")
    cols = list(zip(*state.values()))
    types = [pa.int64(), pa.int64(), pa.string(), pa.string(), pa.int64(),
             pa.int32(), pa.int64()]
    pq.write_table(pa.table([pa.array(c, t) for c, t in zip(cols, types)],
                            names=REFERRAL_COLS), initial)
    next_key = 10 ** len(str(n_orders))
    statuses = list(STATUS_OF.values())
    files = []
    for b in range(n_batches):
        n_upd = int(batch_rows * 0.7)
        keys = rng.choice(np.fromiter(state.keys(), np.int64), n_upd, replace=False)
        keep_status = rng.random(n_upd) < 0.5
        new_status = rng.integers(0, len(statuses), n_upd)
        delta = rng.integers(-5000, 5000, n_upd)
        drop_program = rng.random(n_upd) < 0.05
        batch = []
        for i, k in enumerate(keys):
            old = state[int(k)]
            batch.append([old[0], old[1],
                          old[2] if keep_status[i] else statuses[new_status[i]],
                          None if drop_program[i] else old[3],
                          old[4] + int(delta[i]), old[5], b + 1])
        inserts = _referrals(o, rng.integers(0, n_orders, batch_rows - n_upd))
        for r, null_program in zip(inserts, rng.random(len(inserts)) < 0.05):
            r[0], r[6] = next_key, b + 1
            next_key += 1
            if null_program:
                r[3] = None
        batch += inserts
        for r in batch:
            state[r[0]] = r
        path = os.path.join(out_dir, f"referrals_{b:03d}.txt")
        _write_extract(path, [batch[i] for i in rng.permutation(len(batch))], rng)
        files.append({"path": path, "rows": len(batch),
                      "bytes": os.path.getsize(path)})
    expected = {"keys": len(state),
                "checksum": referral_checksum(state.values())}
    return initial, files, expected


def _write_extract(path, rows, rng):
    """Write ``rows`` as a ``|``-delimited extract with a header; 20% of
    fields get surrounding blanks and nulls are written as a random token
    of the null vocabulary."""
    nulls = ["NULL", "null", "None", ""]
    n = len(rows) * len(REFERRAL_COLS)
    pad = rng.random(n) < 0.2
    left, right = rng.integers(1, 3, n), rng.integers(0, 3, n)
    token = rng.integers(0, len(nulls), n)
    lines = ["|".join(REFERRAL_COLS)]
    i = 0
    for r in rows:
        fields = []
        for v in r:
            f = nulls[token[i]] if v is None else str(v)
            if pad[i]:
                f = " " * left[i] + f + " " * right[i]
            fields.append(f)
            i += 1
        lines.append("|".join(fields))
    with open(path, "w") as out:
        out.write("\n".join(lines) + "\n")
