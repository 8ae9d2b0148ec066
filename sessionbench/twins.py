"""DuckDB twins of the benchmark's outputs.

etl_incremental: the final state is rebuilt in SQL from the paged source's
generator rule and the seeded transport's rule, and must equal the Spark
state row for row.

catalog_session: each query's Spark result must equal its
`SparkEntry.oracleSql` twin run by DuckDB over the same parquet tables,
cell for cell and type for type (floats exactly).
"""
import json
import math
import os
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(twin_dir, workload):
    """Returns [{step, ok, message}], one per twin comparison."""
    if not os.path.isdir(twin_dir):
        return [{"step": "twin.outputs", "ok": False, "message": "no outputs for the twin check"}]
    if workload == "etl_incremental":
        return [etl(twin_dir)]
    return catalog(twin_dir)


ETL_STATE_SQL = """
WITH ids AS (
  SELECT f AS format_id, ({end_last} - i * {gap})::BIGINT AS uploadtime
  FROM (SELECT unnest({formats}) AS f) t, range({total}) r(i)
), first_seen AS (
  -- the first window holding an id discovers it; the paged source derives
  -- `players` from the id's index within that window
  SELECT *, GREATEST(0, CAST(ceil((uploadtime - {base}) / {stride}) AS INTEGER)) AS b
  FROM ids
), keyed AS (
  SELECT format_id || '-' || CAST(uploadtime AS VARCHAR) AS replay_id, format_id, uploadtime, b,
         'p' || CAST(((({base} + b * {stride_i} - uploadtime) // {gap}) * 7919) % 1000 AS VARCHAR)
             || ' vs p' || CAST(((({base} + b * {stride_i} - uploadtime) // {gap}) * 104729) % 1000 AS VARCHAR)
             AS players
  FROM first_seen
), bucketed AS (
  SELECT *, CAST(CAST('0x' || substr(md5('{salt}' || replay_id), 1, 8) AS UBIGINT) % 100 AS INTEGER) AS k
  FROM keyed
)
SELECT replay_id, format_id, uploadtime, players,
       k >= 5 AS is_downloaded,
       CASE WHEN k < 5 THEN 'Failed: HTTP 404' WHEN k < 20 THEN 'OK'
            WHEN k < 25 THEN 'OK (retry)' ELSE 'OK' END AS download_details,
       CASE WHEN k < 5 OR (k >= 20 AND k < 25) THEN true END AS is_retry_attempted,
       CAST(CASE WHEN k < 5 THEN 2 WHEN k < 20 THEN 2 WHEN k < 25 THEN 4 ELSE 1 END AS INTEGER) AS attempts,
       b AS discovered_batch,
       CASE WHEN k >= 5 THEN b END AS downloaded_batch,
       CAST(CASE WHEN k < 5 OR (k >= 20 AND k < 25) THEN 2 * b + 1 ELSE 2 * b END AS INTEGER) AS rev
FROM bucketed
"""


def etl(twin_dir):
    try:
        with open(os.path.join(twin_dir, "etl.json")) as fh:
            p = json.load(fh)
        stride = p["step"] * p["gap"]
        end_last = p["base"] + (p["batches"] - 1) * stride
        sql = ETL_STATE_SQL.format(
            end_last=end_last, gap=p["gap"], formats=json.dumps(p["formats"]).replace('"', "'"),
            total=(p["batches"] - 1) * p["step"] + p["window"], base=p["base"],
            stride=float(stride), stride_i=stride, salt=p["salt"])
        con = duckdb.connect()
        con.sql(f"CREATE VIEW twin AS {sql}")
        state = os.path.join(twin_dir, "etl_state", "*.parquet")
        con.sql(f"CREATE VIEW spark AS SELECT * FROM read_parquet('{state}')")
        n_twin, n_spark = (con.sql(f"SELECT count(*) FROM {v}").fetchone()[0] for v in ("twin", "spark"))
        only_spark = con.sql("SELECT count(*) FROM (SELECT * FROM spark EXCEPT ALL SELECT * FROM twin)").fetchone()[0]
        only_twin = con.sql("SELECT count(*) FROM (SELECT * FROM twin EXCEPT ALL SELECT * FROM spark)").fetchone()[0]
        ok = only_spark == 0 and only_twin == 0
        msg = f"state rows spark={n_spark} twin={n_twin}; only in spark={only_spark}, only in twin={only_twin}"
        return {"step": "twin.etl_state", "ok": ok, "message": msg}
    except Exception as e:  # a broken twin input is a failed check, not a crash
        return {"step": "twin.etl_state", "ok": False, "message": f"{type(e).__name__}: {e}"}


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def rows_of(rel, cols):
    rows = rel.project(", ".join(f'"{c}"' for c in cols)).fetchall()
    return sorted(rows, key=lambda r: [repr(x) for x in r])


def catalog(twin_dir):
    with open(os.path.join(twin_dir, "catalog.json")) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(spec["data_dir"], f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = []
    for name, sql in sorted(spec["oracle"].items()):
        step = f"twin.{name}"
        t0 = time.time()
        try:
            if not sql:
                raise ValueError("no oracle SQL for this query")
            srel = con.sql(f"SELECT * FROM read_parquet('{os.path.join(twin_dir, 'catalog', name, '*.parquet')}')")
            orel = con.sql(sql)
            scols, ocols = sorted(srel.columns), sorted(orel.columns)
            if scols != ocols:
                raise AssertionError(f"columns spark={scols} oracle={ocols}")
            st = dict(zip(srel.columns, map(str, srel.types)))
            ot = dict(zip(orel.columns, map(str, orel.types)))
            tdiff = [c for c in scols if st[c] != ot[c]]
            if tdiff:
                raise AssertionError("types differ: " + ", ".join(f"{c} spark={st[c]} oracle={ot[c]}" for c in tdiff))
            srows, orows = rows_of(srel, scols), rows_of(orel, ocols)
            if len(srows) != len(orows):
                raise AssertionError(f"rows spark={len(srows)} oracle={len(orows)}")
            bad = [(i, c) for i, (a, b) in enumerate(zip(srows, orows))
                   for c, (x, y) in enumerate(zip(a, b)) if not same(x, y)]
            if bad:
                i, c = bad[0]
                raise AssertionError(f"{len(bad)} cells differ; first row {i} column {scols[c]}: "
                                     f"spark={srows[i][c]!r} oracle={orows[i][c]!r}")
            out.append({"step": step, "ok": True,
                        "message": f"{len(srows)} rows in {time.time() - t0:.2f} s"})
        except Exception as e:
            out.append({"step": step, "ok": False, "message": f"{type(e).__name__}: {str(e)[:300]}"})
    return out
