"""Seeded input generator: derives each workload's inputs from the read-only
testdata tables.

Every input is a copy of a testdata table with seed-keyed id offsets and its
row order shuffled by the seed. Input sizes do not depend on the seed, so
runs with different seeds do the same amount of work on different bytes. Nothing is ever written under
the testdata directory.
"""
import os

import duckdb

# daily_etl: copies of sf0.1 events (100k rows each) and customer (15k rows
# each); copy k gets disjoint event/user/customer id ranges
ETL_COPIES = 2
ETL_FILES = 4
# corpus_dedup: copies of the sf0.01 documents (500 each); as in
# tools.ScaleUp's "disjoint" mode, copy k > 0 suffixes every token with _c<k>,
# so copies share no vocabulary and each keeps the source's exact- and
# near-duplicate structure. The text does not depend on the seed, so every
# seed does the same dedup work; the seed moves ids and row order.
CORPUS_COPIES = 4
CORPUS_FILES = 4


def _dir_stats(path):
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs] \
        if os.path.isdir(path) else [path]
    return sum(os.path.getsize(f) for f in files)


def _copy_files(con, select_sql, out_dir, n_files):
    """Write the rows of `select_sql` (which must expose a `_rn` shuffle
    rank) as `n_files` parquet files, each in `_rn` order."""
    os.makedirs(out_dir)
    con.sql(f"CREATE OR REPLACE TEMP TABLE _g AS {select_sql}")
    for i in range(n_files):
        con.sql(f"COPY (SELECT * EXCLUDE (_rn) FROM _g WHERE _rn % {n_files} = {i} "
                f"ORDER BY _rn) TO '{out_dir}/part-{i:02d}.parquet' (FORMAT PARQUET)")
    rows = con.sql("SELECT count(*) FROM _g").fetchone()[0]
    con.sql("DROP TABLE _g")
    return rows


def _shuffle_rank(seed, key):
    # md5 of (seed, key) is stable across DuckDB versions and platforms
    return f"row_number() OVER (ORDER BY md5('{seed}:' || CAST({key} AS VARCHAR)))"


def daily_etl(con, seed, src, out):
    sf = f"{src}/sf0.1"
    off = (seed % 997) * 10_000_000
    uoff = (seed % 991) * 100_000
    tables = {}
    tables["events.parquet"] = _copy_files(con, f"""
        SELECT event_id + c * 100000 + {off} AS event_id, ts,
               user_id + c * 1500 + {uoff} AS user_id, event_type, value, props,
               {_shuffle_rank(seed, 'event_id + c * 100000')} AS _rn
        FROM read_parquet('{sf}/events.parquet'), range({ETL_COPIES}) r(c)""",
        f"{out}/events.parquet", ETL_FILES)
    os.makedirs(f"{out}/customer_csv")
    con.sql(f"""COPY (
        SELECT c_custkey + c * 15000 + {off} AS c_custkey, c_name, c_nationkey,
               c_acctbal, c_mktsegment
        FROM read_parquet('{sf}/customer.parquet'), range({ETL_COPIES}) r(c)
        ORDER BY md5('{seed}:' || CAST(c_custkey + c * 15000 AS VARCHAR)))
        TO '{out}/customer_csv/part-00.csv' (FORMAT CSV, HEADER)""")
    tables["customer_csv"] = con.sql(
        f"SELECT count(*) FROM read_csv('{out}/customer_csv/*.csv')").fetchone()[0]
    return tables


def corpus_dedup(con, seed, src, out):
    off = (seed % 997) * 10_000_000
    return {"documents.parquet": _copy_files(con, f"""
        WITH d AS (
          SELECT doc_id + c * 1000 + {off} AS doc_id,
                 CASE WHEN c = 0 THEN text
                      ELSE array_to_string(list_transform(string_split(text, ' '),
                                           t -> t || '_c' || c), ' ') END AS text,
                 lang, source
          FROM read_parquet('{src}/sf0.01/documents.parquet'),
               range({CORPUS_COPIES}) r(c))
        SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars,
               {_shuffle_rank(seed, 'doc_id')} AS _rn
        FROM d""", f"{out}/documents.parquet", CORPUS_FILES)}


GENERATORS = {"daily_etl": daily_etl, "corpus_dedup": corpus_dedup}


def generate(workload, seed, src, out):
    """Write `workload`'s inputs for `seed` under `out`; return
    {"tables": {path under out: {"rows", "bytes"}}, "rows", "bytes"}."""
    if not os.path.isdir(src):
        raise RuntimeError(f"testdata directory {src} not found")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect(config={"threads": 2})
    try:
        rows = GENERATORS[workload](con, seed, src, out)
    finally:
        con.close()
    tables = {}
    for name, n in rows.items():
        path = os.path.join(out, name)
        tables[name] = {"rows": n, "bytes": _dir_stats(path)}
    return {"tables": tables,
            "rows": sum(t["rows"] for t in tables.values()),
            "bytes": sum(t["bytes"] for t in tables.values())}
