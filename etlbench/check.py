"""Output correctness: order-independent digests of the program's parquet
outputs, compared with DuckDB computing the same results from the same
generated inputs.

A digest is the row count plus the sum, modulo 2**64, of a hash of each row's
canonical text. Every column is rendered by type (integers as digits, floating
and decimal values to 9 significant digits, dates as YYYY-MM-DD), so the
digest does not depend on row order, column order or the integer, decimal and
date types each engine picked.
"""
import duckdb

_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
         "USMALLINT", "UINTEGER", "UBIGINT"}
_FLOATS = {"FLOAT", "REAL", "DOUBLE"}


def _canon(name, type_):
    c = f'"{name}"'
    t = type_.upper()
    if t in _FLOATS or t.startswith("DECIMAL"):
        # + 0.0 folds -0.0 into 0.0
        e = f"printf('%.9g', CAST({c} AS DOUBLE) + 0.0)"
    elif t in _INTS or t in ("BOOLEAN", "VARCHAR"):
        e = f"CAST({c} AS VARCHAR)"
    elif t == "DATE":
        e = f"strftime({c}, '%Y-%m-%d')"
    elif t.startswith("TIMESTAMP"):
        e = f"strftime(CAST({c} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')"
    elif t == "BLOB":
        e = f"hex({c})"
    else:
        e = f"CAST({c} AS VARCHAR)"
    return f"coalesce({e}, '\\N')"


def connect(threads=2):
    con = duckdb.connect(config={"threads": threads})
    con.sql("SET enable_progress_bar = false")
    con.sql("SET TimeZone = 'UTC'")
    return con


def digest(con, sql):
    """(sorted lower-case column names, "rows:hash") of a query's result."""
    cols = con.sql(f"DESCRIBE {sql}").fetchall()
    names = sorted(cols, key=lambda c: c[0].lower())
    parts = ", ".join(_canon(n, t) for n, t, *_ in names)
    n, h = con.sql(f"""SELECT count(*),
        CAST(coalesce(sum(hash(concat_ws(chr(31), {parts}))), 0)
             % 18446744073709551616 AS UBIGINT)
        FROM ({sql})""").fetchone()
    return [c[0].lower() for c in names], f"{n}:{h:016x}"


def parquet_sql(path):
    return (f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
            f"hive_partitioning = true)")


def _tp(where, value):
    return f"""SELECT event_id, strftime(ts, '%Y-%m-%d') AS day, user_id,
                 event_type AS event, {value}
               FROM events WHERE {where}"""


# DuckDB twins of the daily_etl outputs (TestpilotDaily's three configs and
# the harness's profile job), over the generated `events` and `customer_csv`
_PROP_K = "CAST(regexp_extract(props, '[0-9]+') AS BIGINT)"
TESTPILOT = _tp(f"event_type IN ('click', 'view') AND {_PROP_K} IS NOT NULL",
                f"{_PROP_K} AS prop_k")
TESTPILOTTEST = _tp("event_type NOT IN ('click', 'view')",
                    "CAST(round(value * 100) AS BIGINT) AS value_cents")
DAILY_ORACLE = {
    "testpilot": TESTPILOT,
    "testpilottest": TESTPILOTTEST,
    "search": """SELECT CAST(c_custkey AS BIGINT) AS cust_id,
                   string_split(c_name, '#')[1] AS name_prefix,
                   c_mktsegment IN ('AUTOMOBILE', 'MACHINERY') AS is_auto,
                   CAST(round(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT)
                     AS balance_cents
                 FROM customer_csv""",
    "profile": f"""WITH a AS (
          SELECT user_id, day,
                 sum(CASE WHEN event = 'click' THEN 1 ELSE 0 END) AS clicks,
                 sum(CASE WHEN event = 'view' THEN 1 ELSE 0 END) AS views,
                 sum(prop_k) AS prop_k_sum
          FROM ({TESTPILOT}) GROUP BY 1, 2),
        b AS (
          SELECT user_id, day, count(*) AS other_events,
                 sum(CASE WHEN event = 'purchase' THEN 1 ELSE 0 END) AS purchases,
                 sum(value_cents) AS value_cents
          FROM ({TESTPILOTTEST}) GROUP BY 1, 2)
        SELECT coalesce(a.user_id, b.user_id) AS user_id,
               coalesce(a.day, b.day) AS day,
               coalesce(clicks, 0) AS clicks, coalesce(views, 0) AS views,
               coalesce(prop_k_sum, 0) AS prop_k_sum,
               coalesce(other_events, 0) AS other_events,
               coalesce(purchases, 0) AS purchases,
               coalesce(value_cents, 0) AS value_cents
        FROM a FULL OUTER JOIN b ON a.user_id = b.user_id AND a.day = b.day""",
}


def _views(con, workload, inputs):
    if workload == "daily_etl":
        con.sql(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{inputs}/events.parquet/*.parquet')")
        con.sql(f"CREATE VIEW customer_csv AS SELECT * FROM read_csv("
                f"'{inputs}/customer_csv/*.csv', header = true, all_varchar = true)")
    else:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{inputs}/documents.parquet/*.parquet')")


def expected_sql(workload, oracle_sql):
    """Output name -> DuckDB SQL computing it from the inputs."""
    if workload == "daily_etl":
        return dict(DAILY_ORACLE)
    sql = dict(oracle_sql)
    sql["corpus"] = sql.pop("q79_corpus_pipeline")
    return sql


def check(workload, inputs, outputs_by_mode, oracle_sql, threads=2):
    """Digest every output of every mode and compare it with the oracle's.

    `outputs_by_mode`: {"untraced"|"traced": directory holding one
    sub-directory per output}. Returns {output: {"expected", mode: digest,
    "ok", "error"}}; an output is ok when every mode matches the oracle."""
    con = connect(threads)
    _views(con, workload, inputs)
    report = {}
    for name, sql in expected_sql(workload, oracle_sql).items():
        entry = {"ok": False, "error": None}
        try:
            cols, exp = digest(con, sql)
            entry["expected"] = exp
            ok = True
            for mode, base in outputs_by_mode.items():
                got_cols, got = digest(con, parquet_sql(f"{base}/{name}"))
                entry[mode] = got
                if got_cols != cols:
                    entry["error"] = f"{mode} columns {got_cols} != oracle {cols}"
                ok = ok and got == exp and got_cols == cols
            entry["ok"] = ok
        except Exception as e:  # noqa: BLE001 - any failure fails the output
            entry["error"] = str(e).splitlines()[0][:300]
        report[name] = entry
    con.close()
    return report
