"""Output checks. Each returns the ids of the ops whose output is wrong,
plus notes for the human-readable verdict.

  etl_flip     every op's written output: row count and an order-independent
               hash against DuckDB replaying fill -> dropna -> distinct ->
               ps_query on the same input; the profile's row, duplicate and
               null counts against DuckDB's
  lake_sql     each query's captured result against DuckDB running the SQL
  corpus_prep  the kept-id digest against the pin in pins.json
  lake_commit  every commit's row count and every read's count against a
               DuckDB replay of the commits; the final table's content hash
"""
import glob
import math
import os

import duckdb

ETL_TYPES = [("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"),
             ("l_suppkey", "BIGINT"), ("l_linenumber", "INTEGER"),
             ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
             ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"),
             ("l_returnflag", "VARCHAR"), ("l_linestatus", "VARCHAR"),
             ("l_shipdate", "DATE")]
ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]


def _count_hash(con, sql):
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(h)::HUGEINT % 18446744073709551616, 0) "
        f"FROM (SELECT hash(t) AS h FROM ({sql}) t)").fetchone()
    return int(n), int(h)


def _typed(src):
    cols = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in ETL_TYPES)
    return f"SELECT {cols} FROM {src}"


def etl_flip(res, plan):
    con = duckdb.connect()
    src = f"read_parquet('{plan['paths']['etl_lineitem']}/*.parquet')"
    no_null = " AND ".join(f"{c} IS NOT NULL" for c, _ in ETL_TYPES)
    rows, distinct, nulls = con.execute(
        f"SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT * FROM {src})), "
        f"sum({' + '.join(f'({c} IS NULL)::INT' for c, _ in ETL_TYPES)}) FROM {src}"
    ).fetchone()
    where = plan["etl"]["query"].split(" WHERE ", 1)[1]
    expected = _count_hash(con, _typed(
        f"(SELECT DISTINCT * FROM {src} WHERE {no_null}) WHERE {where}"))
    bad, notes = set(), []
    for op in res["ops"]:
        if not op["ok"]:
            bad.add(op["id"]); continue
        f = op["facts"]
        if f["in_format"] == "csv":
            out = f"read_parquet('{f['out']}/*.parquet')"
        else:
            out = f"read_csv('{f['out']}/*.csv', header=true, all_varchar=true)"
        got = _count_hash(con, _typed(out))
        profile = (f["profile_rows"], f["profile_rows"] - f["profile_dup_rows"],
                   f["profile_null_cells"])
        if got != expected or profile != (rows, distinct, nulls):
            bad.add(op["id"])
            notes.append(f"op {op['id']}: output {got} vs {expected}, "
                         f"profile {profile} vs {(rows, distinct, nulls)}")
    return bad, notes


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _rows_equal(x, y):
    key = lambda r: tuple((v is None, str(v)) for v in r)
    x, y = sorted(x, key=key), sorted(y, key=key)
    return len(x) == len(y) and all(
        len(a) == len(b) and all(_close(u, v) for u, v in zip(a, b))
        for a, b in zip(x, y))


def lake_sql(res, plan):
    con = duckdb.connect()
    for t, p in plan["sql"]["tables"].items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    wrong, notes, rows_out = set(), [], {}
    for q in plan["sql"]["queries"]:
        want = con.execute(q["sql"])
        names = [d[0].lower() for d in want.description]
        want = want.fetchall()
        files = glob.glob(os.path.join(res["warm"]["results"], q["name"], "*.parquet"))
        got = con.execute(f"SELECT {', '.join(names)} FROM read_parquet({files!r})"
                          ).fetchall() if files else []
        rows_out[q["name"]] = len(got)
        if not _rows_equal(got, want):
            wrong.add(q["name"])
            notes.append(f"{q['name']}: {len(got)} rows vs DuckDB {len(want)}")
    bad = {op["id"] for op in res["ops"]
           if not op["ok"] or op["facts"]["query"] in wrong}
    return bad, notes, rows_out


def corpus_prep(res, pin):
    warm = res["warm"]
    ok = pin is not None and warm["kept"] == pin["kept"] and \
        warm["kept_digest"] == pin["digest"]
    notes = [] if ok else [f"kept {warm['kept']} ids, digest {warm['kept_digest']}, "
                           f"pinned {pin}"]
    bad = {op["id"] for op in res["ops"] if not op["ok"] or not ok}
    return bad, notes


def lake_commit(res, plan):
    con = duckdb.connect()
    lk = plan["lake"]
    cols = ", ".join(ORDERS_COLS)
    con.execute(f"CREATE TABLE v AS SELECT {cols} FROM read_parquet('{plan['paths']['orders']}')")
    counts = [con.execute("SELECT count(*) FROM v").fetchone()[0]]
    for m in lk["merges"]:
        con.execute(f"CREATE OR REPLACE TABLE v AS SELECT {cols} FROM v WHERE o_orderkey "
                    f"NOT IN (SELECT o_orderkey FROM read_parquet('{m}')) "
                    f"UNION ALL SELECT {cols} FROM read_parquet('{m}')")
        counts.append(con.execute("SELECT count(*) FROM v").fetchone()[0])
    con.execute(f"INSERT INTO v SELECT {cols} FROM read_parquet('{lk['append']}')")
    counts.append(con.execute("SELECT count(*) FROM v").fetchone()[0])
    lo, hi = lk["range"]
    in_range = con.execute(
        f"SELECT count(*) FROM v WHERE o_orderkey BETWEEN {lo} AND {hi}").fetchone()[0]
    expect = {"read_range": in_range, "time_travel": counts[0]}
    final = _count_hash(con, f"SELECT {cols} FROM v")

    bad, notes = set(), []
    for op in res["ops"]:
        f = op["facts"]
        if not op["ok"]:
            bad.add(op["id"]); continue
        want = expect.get(op["kind"])
        if want is None:
            want = counts[f["version"] - 1]
        if f["rows"] != want:
            bad.add(op["id"])
            notes.append(f"op {op['id']} {op['kind']}: {f['rows']} rows vs {want}")
    live = [p.replace("file:", "", 1) for p in res.get("live_files", [])]
    got = _count_hash(con, f"SELECT {cols} FROM read_parquet({live!r})") if live else None
    if got != final:
        last = res["rounds"] - 1
        bad |= {op["id"] for op in res["ops"] if op["round"] == last}
        notes.append(f"final table {got} vs replay {final}")
    return bad, notes
