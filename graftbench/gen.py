"""Seeded input generation for the graft benchmark.

`make_lake` writes the ten-table star-schema lake the gates read (the
same schema and value domains as the repository's test lakes), one
parquet file per table. `make_intake` writes a pass worth of upload
sessions cut from that lake: CSVs in four delimiters and two encodings,
XLSX specs (rows that the JVM side turns into .xlsx with
`graft.sources.Xlsx.write`), and one file of every malformed class. It
returns what the intake pipeline must report for each file.

Everything is a function of the seed: the same seed writes the same
bytes.
"""
import csv
import hashlib
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group big "
         "sort query fast the").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.14, 0.14, 0.13])
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
US_PER_DAY = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Naive timestamp[us] at midnight, uniform over [start, end)."""
    a = np.datetime64(start, "D").astype(np.int64)
    b = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(a, b, n) * US_PER_DAY).astype("datetime64[us]")


def lake_tables(seed, sf):
    """The lake as {table: pyarrow.Table}; row counts depend only on sf."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_users, n_docs, n_vecs = max(15, int(15_000 * sf)), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-12-01", n_line)})
    gaps = rng.exponential(30 * US_PER_DAY / n_ev, n_ev).astype(np.int64)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array((start + np.cumsum(gaps)).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64), "text": texts,
        "lang": np.array(LANGS[0])[rng.choice(5, n_docs, p=LANGS[1])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    centers *= 1.15 / np.linalg.norm(centers, axis=1, keepdims=True)
    e = rng.normal(0, 1, (n_vecs, 64)) + centers[labels]
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def make_lake(out_dir, seed, sf):
    """Write the lake under out_dir; returns its bytes on disk."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in lake_tables(seed, sf).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return sum(os.path.getsize(os.path.join(out_dir, f"{n}.parquet")) for n in TABLES)


# ------------------------------------------------------------------ intake

CITIES_LATIN1 = ["Zürich", "São Paulo", "Málaga", "Köln", "Orléans", "Reykjavík", "Montréal", "Åre"]
CITIES_UTF8 = CITIES_LATIN1 + ["東京", "Łódź", "Москва", "Αθήνα"]
MALFORMED = ["blank_header", "dup_header", "ragged_row", "empty_file", "header_only", "over_cap"]
# What each session of a pass uploads: rungs of the well-formed size
# ladder (g0 smallest .. g5 largest; XLSX_RUNGS are .xlsx) and one file
# of each malformed class. Fixed, so every seed draws the same shape of
# work; a pass is 5 sessions of 1, 1, 2, 3 and 5 files. Each session
# parses one or two files more than the one before, so their order by
# time does not change with the seed and the median op stays one session.
SESSIONS = [["over_cap"], ["g0"], ["g5", "blank_header"], ["g1", "g2", "dup_header"],
            ["g3", "g4", "ragged_row", "empty_file", "header_only"]]
XLSX_RUNGS = {"g1", "g3"}
# the upload table each slot is cut from, fixed like the layout: a
# table's columns and types set its parse cost, so a seed that drew
# other tables would draw other work
SLOT_TABLE = {"g0": "customer", "g1": "part", "g2": "documents", "g3": "orders", "g4": "events",
              "g5": "lineitem", "blank_header": "customer", "dup_header": "part", "ragged_row": "orders",
              "empty_file": "events", "header_only": "lineitem", "over_cap": "events"}
# upload tables and the columns a session file carries (no quote or
# delimiter characters occur in these values)
UPLOAD_COLS = {
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount",
                 "l_returnflag", "l_shipdate"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "events": ["event_id", "ts", "user_id", "event_type", "value"],
    "documents": ["doc_id", "lang", "source", "text"],
}


def row_hash(rows):
    """Order-independent hash of a list of string rows."""
    acc = 0
    for r in rows:
        h = hashlib.blake2b("\x1f".join(r).encode("utf-8"), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
    return f"{acc:016x}"


def _string_columns(tab, cols):
    out = []
    for c in cols:
        arr = tab.column(c)
        if pa.types.is_timestamp(arr.type):
            vals = arr.to_numpy().astype("datetime64[s]").astype(str)
            out.append([v.replace("T", " ").replace(" 00:00:00", "") for v in vals])
        elif pa.types.is_floating(arr.type):
            out.append([repr(float(v)) for v in arr.to_numpy()])
        else:
            out.append([str(v) for v in arr.to_pylist()])
    return out


def _row_bytes(tables):
    """Mean CSV bytes per row of each upload table, city column included."""
    out = {}
    for name, cols in UPLOAD_COLS.items():
        sample = _string_columns(tables[name].slice(0, 200), cols)
        out[name] = sum(len(v) + 1 for col in sample for v in col) / len(sample[0]) + 8
    return out


def _cut(tables, row_bytes, rng, name, target_bytes, min_rows, utf8):
    """About target_bytes of consecutive rows of upload table `name`
    from a random offset, plus a city column whose first value is
    non-ASCII, so an encoding sniff has bytes to see."""
    tab = tables[name]
    n_rows = min(max(min_rows, int(target_bytes / row_bytes[name])), tab.num_rows)
    off = int(rng.integers(0, tab.num_rows - n_rows + 1))
    cols = UPLOAD_COLS[name]
    cols_vals = _string_columns(tab.slice(off, n_rows), cols)
    cities = CITIES_UTF8 if utf8 else CITIES_LATIN1
    city = [cities[i] for i in rng.integers(0, len(cities), n_rows)]
    if n_rows:
        city[0] = cities[0]
    rows = [list(r) for r in zip(*cols_vals, city)]
    # a few blank cells: canonical CSV turns them into ""
    for i in rng.integers(0, max(1, n_rows), n_rows // 50):
        if n_rows:
            rows[i][len(cols) - 1] = ""
    return cols + ["city"], rows


def _csv_bytes(header, rows, delim, encoding):
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=delim, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
    if header is not None:
        w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode(encoding)


def _ladder(n, lo, hi):
    """n sizes log-uniform over [lo, hi]: the midpoint of each of n equal
    strata, ascending."""
    q = (np.arange(n) + 0.5) / n
    return [int(x) for x in np.exp(np.log(lo) + q * (np.log(hi) - np.log(lo)))]


def make_intake(out_dir, tables, seed, good_kb, max_file_mb):
    """One pass worth of upload sessions under out_dir/sNN/.

    What each session carries is fixed by SESSIONS: rungs of a skewed,
    stratified size ladder of well-formed uploads (`good_kb`: smallest
    and largest KiB) and one file of each malformed class, so every seed
    draws the same shape of work; so is the table each file is cut
    from. The seed picks the session and file order, cut points,
    delimiters and encodings. Returns the
    expected manifest per session.
    """
    rng = np.random.default_rng([seed, 2])
    row_bytes = _row_bytes(tables)
    good = _ladder(6, good_kb[0] * 1024, good_kb[1] * 1024)
    size = {f"g{i}": b for i, b in enumerate(good)}
    size.update(zip(MALFORMED, _ladder(len(MALFORMED), 2048, 16384)))
    order = list(range(len(SESSIONS)))
    rng.shuffle(order)
    sessions = []
    for si, layout in enumerate(SESSIONS[i] for i in order):
        sdir = os.path.join(out_dir, f"s{si:02d}")
        os.makedirs(sdir, exist_ok=True)
        layout = list(layout)
        rng.shuffle(layout)
        expect = []
        for fi, slot in enumerate(layout):
            xlsx = slot in XLSX_RUNGS
            kind = "ok" if slot.startswith("g") else slot
            utf8 = xlsx or rng.random() < 0.5
            header, rows = _cut(tables, row_bytes, rng, SLOT_TABLE[slot], size[slot],
                                24 if kind == "ragged_row" else 2, utf8)
            delim = ",;\t|"[rng.integers(0, 4)]
            enc = "utf-8-sig" if utf8 else "latin-1"
            stem = f"f{fi:02d}_{kind}"
            exp = {"file": stem + (".xlsx" if xlsx else ".csv"), "kind": kind,
                   "accepted": kind == "ok", "rows": len(rows), "cols": len(header),
                   "hash": row_hash(rows), "header": header}
            if kind == "blank_header":
                header = list(header)
                header[1] = ""
            elif kind == "dup_header":
                header = list(header)
                header[-1] = header[0]
            elif kind == "ragged_row":
                # past the sniffed sample lines, so only the parse sees it
                mid = max(12, len(rows) // 2)
                rows = list(rows)
                rows[mid] = rows[mid] + ["extra"]
                exp.update(rows=0, cols=0)
            elif kind == "empty_file":
                exp.update(rows=0, cols=0)
            elif kind == "header_only":
                rows = []
                exp.update(rows=0)
            if kind == "over_cap":
                # a well-formed file whose only fault is its size
                body = _csv_bytes(header, rows, delim, enc)
                reps = int(max_file_mb * 1024 * 1024 * 1.1 // max(1, len(body) - 200)) + 1
                data = body + b"".join(_csv_bytes(None, rows, delim, enc) for _ in range(reps))
                exp.update(rows=0, cols=0)
            elif kind == "empty_file":
                data = b""
            elif xlsx:
                data = json.dumps({"header": header, "rows": rows}, ensure_ascii=False).encode("utf-8")
            else:
                data = _csv_bytes(header, rows, delim, enc)
            path = os.path.join(sdir, exp["file"] + (".spec.json" if xlsx else ""))
            with open(path, "wb") as f:
                f.write(data)
            expect.append(exp)
        sessions.append({"dir": sdir, "files": expect})
    return sessions
