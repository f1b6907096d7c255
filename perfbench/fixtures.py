"""Deterministic input fixtures for the benchmark.

Everything is generated from a fixed fixture seed, so two checkouts build
byte-for-byte the same tables. The run's --seed never changes these
tables; it only picks windows, query order and merge keys (see plan.py).

Tables (TPC-H-like star schema plus a document corpus):
  lineitem, orders, customer, part, supplier, nation, region  (parquet)
  etl_lineitem/         lineitem with injected null cells and duplicate rows,
                        as 4 parquet files
  etl_csv/              the same rows as 4 headered all-string CSV files
  documents             the corpus, as several parquet files

Each table is checked by row count and an order-independent hash
(DuckDB `sum(hash(row))`) against pins.json, and regenerated when absent
or different.
"""
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE_SEED = 20240607

# Row counts per scale. "full" mirrors TPC-H sf0.1; "smoke" is 1/100 of it.
SCALES = {
    "full": {"orders": 150_000, "customer": 15_000, "part": 20_000,
             "supplier": 1_000, "docs": 2_000, "doc_files": 8},
    "smoke": {"orders": 1_500, "customer": 150, "part": 200,
              "supplier": 10, "docs": 400, "doc_files": 2},
}

ETL_FILES = 4
DAY0 = np.datetime64("1992-01-01")
N_DAYS = 2400  # order dates 1992-01-01 .. 1998-07-27


def _write(table, path, row_group_size):
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy")


def _ts(days):
    return (DAY0 + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _star(rng, n):
    """lineitem, orders, customer, part, supplier, nation, region."""
    nations = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
               "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA",
               "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO",
               "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
               "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
    nation_region = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1,
                     2, 3, 4, 2, 3, 3, 1]
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": nations,
        "n_regionkey": pa.array(nation_region, pa.int32())})

    nc, npart, ns, no = n["customer"], n["part"], n["supplier"], n["orders"]
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, nc + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": segments[rng.integers(0, 5, nc)]})

    colors = np.array(["almond", "azure", "blush", "coral", "cream", "ivory",
                       "khaki", "linen", "olive", "plum", "rose", "tan"])
    types = np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                      "PROMO"])
    finish = np.array(["ANODIZED", "BURNISHED", "PLATED", "POLISHED",
                       "BRUSHED"])
    metal = np.array(["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"])
    pk = np.arange(1, npart + 1)
    part = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 12, npart)], " "),
                              colors[rng.integers(0, 12, npart)]),
        "p_brand": np.char.add("Brand#", (rng.integers(1, 6, npart) * 10
                                          + rng.integers(1, 6, npart)).astype(str)),
        "p_type": np.char.add(np.char.add(np.char.add(np.char.add(
            types[rng.integers(0, 6, npart)], " "), finish[rng.integers(0, 5, npart)]),
            " "), metal[rng.integers(0, 5, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1 + rng.uniform(0, 100, npart), 2)})

    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(1, ns + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})

    okeys = np.arange(no, dtype=np.int64)
    odays = rng.integers(0, N_DAYS, no)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    lines_per = rng.integers(1, 8, no)
    nl = int(lines_per.sum())
    l_ok = np.repeat(okeys, lines_per)
    l_ln = (np.arange(nl) - np.repeat(np.cumsum(lines_per) - lines_per,
                                      lines_per) + 1)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    partkey = rng.integers(1, npart + 1, nl)
    price = np.round(qty * (900 + (partkey % 1000) * 0.1), 2)
    disc = rng.integers(0, 11, nl) / 100.0
    tax = rng.integers(0, 9, nl) / 100.0
    sdays = np.repeat(odays, lines_per) + rng.integers(1, 122, nl)
    cutoff = 1270  # ship dates past ~1995-06 are still open
    returned = rng.random(nl) < 0.25
    rflag = np.where(sdays > cutoff, "N", np.where(returned, "R", "A"))
    lstatus = np.where(sdays > cutoff, "O", "F")
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, ns + 1, nl), pa.int64()),
        "l_linenumber": pa.array(l_ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": rflag,
        "l_linestatus": lstatus,
        "l_shipdate": pa.array(_ts(sdays))})
    ototal = np.bincount(np.repeat(np.arange(no), lines_per),
                         weights=price * (1 + tax) * (1 - disc), minlength=no)
    open_orders = np.bincount(np.repeat(np.arange(no), lines_per),
                              weights=(lstatus == "O"), minlength=no)
    status = np.where(open_orders == 0, "F",
                      np.where(open_orders == lines_per, "O", "P"))
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, nc + 1, no), pa.int64()),
        "o_orderstatus": status,
        "o_totalprice": np.round(ototal, 2),
        "o_orderdate": pa.array(_ts(odays)),
        "o_orderpriority": prio[rng.integers(0, 5, no)]})
    return {"lineitem": lineitem, "orders": orders, "customer": customer,
            "part": part, "supplier": supplier, "nation": nation,
            "region": region}


def _etl_lineitem(rng, lineitem):
    """The ETL job's input: the lines of the first sixth of the orders,
    with a DATE ship date, ~1% rows
    with one null cell (dropped by the cleaner's dropna) and ~1% exact
    duplicate rows (dropped by its dedup), in a fixed shuffled order."""
    keys = lineitem.column("l_orderkey")
    t = lineitem.filter(pc.less(keys, (pc.max(keys).as_py() + 1) // 6))
    t = t.set_column(
        t.schema.get_field_index("l_shipdate"), "l_shipdate",
        t.column("l_shipdate").cast(pa.timestamp("us")).cast(pa.date32()))
    n = t.num_rows
    dup_idx = rng.choice(n, n // 100, replace=False)
    t = pa.concat_tables([t, t.take(pa.array(dup_idx))])
    n2 = t.num_rows
    cols = {}
    null_rows = rng.random(n2) < 0.01
    null_col = rng.integers(0, t.num_columns, n2)
    for i, name in enumerate(t.column_names):
        mask = null_rows & (null_col == i)
        arr = t.column(name).combine_chunks()
        cols[name] = pc.if_else(pa.array(mask), pa.nulls(n2, arr.type), arr) \
            if mask.any() else arr
    t = pa.table(cols)
    return t.take(pa.array(rng.permutation(n2)))


def _documents(rng, n_docs):
    """A corpus with planted structure: exact duplicates, near-duplicates
    (one or two words changed), too-short and repetitive documents,
    documents without stopwords (undetected language), PII (emails,
    phone numbers) and a Spanish share."""
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "shi", "vo", "pe", "za",
            "dor", "len", "qui", "bra", "sto", "fen", "gar", "hul"]
    vocab = sorted({"".join(rng.choice(syll, rng.integers(2, 4)))
                    for _ in range(900)})
    vocab = np.array(vocab)
    en_stop = np.array(["the", "and", "of", "to", "is", "that", "with", "a",
                        "in", "it"])
    es_stop = np.array(["el", "la", "de", "que", "los", "una", "por", "con"])
    sources = np.array(["crawl", "forum", "news", "wiki"])
    texts, langs = [], []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.07:        # exact duplicate of an earlier doc
            j = int(rng.integers(0, i))
            texts.append(texts[j]); langs.append(langs[j]); continue
        if i > 20 and r < 0.17:        # near-duplicate: 1-2 words changed
            j = int(rng.integers(0, i))
            words = texts[j].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words)); langs.append(langs[j]); continue
        n_tok = int(rng.integers(5, 9)) if r < 0.21 else int(rng.integers(20, 80))
        words = vocab[rng.integers(0, len(vocab), n_tok)].tolist()
        if r < 0.24:                   # no stopwords: language undetected
            lang = "und"
        else:
            lang = "es" if rng.random() < 0.15 else "en"
            stop = es_stop if lang == "es" else en_stop
            for p in rng.choice(n_tok, max(1, n_tok // 4), replace=False):
                words[int(p)] = str(rng.choice(stop))
        if 0.24 <= r < 0.26:           # repetitive: one phrase over and over
            words = (words[:4] * (n_tok // 4 + 1))[:n_tok]
        if rng.random() < 0.12:        # PII
            p = int(rng.integers(0, len(words)))
            if rng.random() < 0.5:
                words[p] = f"{rng.choice(vocab)}.{rng.choice(vocab)}@example.com"
            else:
                words[p] = "555-{:03d}-{:04d}".format(int(rng.integers(0, 1000)),
                                                      int(rng.integers(0, 10000)))
        texts.append(" ".join(words)); langs.append(lang)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": sources[rng.integers(0, 4, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _digest(con, path):
    """(row count, order-independent hash) of a parquet/csv input."""
    src = (f"read_csv('{path}', header=true, all_varchar=true)"
           if path.endswith(".csv") else f"read_parquet('{path}')")
    rows, h = con.execute(
        f"SELECT count(*), sum(hash(t))::HUGEINT % 18446744073709551616 "
        f"FROM {src} t").fetchone()
    return [int(rows), str(int(h or 0))]


def _paths(root):
    return {
        **{t: os.path.join(root, f"{t}.parquet") for t in
           ["lineitem", "orders", "customer", "part", "supplier", "nation",
            "region"]},
        "etl_lineitem": os.path.join(root, "etl_lineitem"),
        "etl_csv": os.path.join(root, "etl_csv"),
        "documents": os.path.join(root, "documents"),
    }


def generate(root, scale):
    n = SCALES[scale]
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    p = _paths(root)
    rng = np.random.default_rng(FIXTURE_SEED)
    star = _star(rng, n)
    for name, t in star.items():
        _write(t, p[name], row_group_size=50_000)
    etl = _etl_lineitem(rng, star["lineitem"])
    # several files, so that every core scans from the first stage on
    con = duckdb.connect()
    os.makedirs(p["etl_lineitem"])
    os.makedirs(p["etl_csv"])
    per = -(-etl.num_rows // ETL_FILES)
    for i in range(ETL_FILES):
        part = os.path.join(p["etl_lineitem"], f"part-{i:02d}.parquet")
        _write(etl.slice(i * per, per), part, row_group_size=50_000)
        con.execute(f"COPY (SELECT * FROM read_parquet('{part}')) TO "
                    f"'{os.path.join(p['etl_csv'], f'part-{i:02d}.csv')}' (HEADER, DELIMITER ',')")
    docs = _documents(rng, n["docs"])
    os.makedirs(p["documents"])
    k = n["doc_files"]
    per = -(-docs.num_rows // k)
    for i in range(k):
        _write(docs.slice(i * per, per),
               os.path.join(p["documents"], f"part-{i:02d}.parquet"),
               row_group_size=per)


def digests(root):
    con = duckdb.connect()
    p = _paths(root)
    out = {}
    for key, path in p.items():
        if os.path.isdir(path):
            path = os.path.join(path, "*.csv" if key == "etl_csv" else "*.parquet")
        out[key] = _digest(con, path)
    return out


def _sizes(root):
    """Bytes of every fixture file, a cheap per-run presence check."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f != "digests.json":
                path = os.path.join(dirpath, f)
                out[os.path.relpath(path, root)] = os.path.getsize(path)
    return out


def ensure(root, scale, pinned):
    """Make sure the fixture at `root` exists and matches its pins:
    generate it when absent, changed or unpinned-but-different, then
    check row counts and hashes. Later runs compare file sizes only.
    Returns (paths, digests); `pinned` may be None (no pin yet)."""
    marker = os.path.join(root, "digests.json")
    if os.path.exists(marker):
        with open(marker) as f:
            have = json.load(f)
        if (pinned is None or have["digests"] == pinned) and have["sizes"] == _sizes(root):
            return _paths(root), have["digests"]
    generate(root, scale)
    have = digests(root)
    if pinned is not None and have != pinned:
        bad = sorted(k for k in have if have[k] != pinned.get(k))
        raise RuntimeError(f"fixture {scale} does not match its pins: {bad}")
    sizes = _sizes(root)
    with open(marker, "w") as f:
        json.dump({"digests": have, "sizes": sizes}, f, indent=1, sort_keys=True)
    return _paths(root), have
