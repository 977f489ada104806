"""Output checks for the benchmark, run outside the timed region.

ETL: the Postgres tables must equal a DuckDB replay of the generated
input, built on the engine's own replay SQL (EtlQueries.trackingReplaySql
/ eventsReplaySql) with the corpus path swapped for the generated files.
The replay runs once for the bulk-loaded corpus and once per landed batch,
and keeps, per key, the rows of the last batch that contains it: the
exactly-once state of the incremental loads.
Tables compare on row count plus an order-independent hash.

Queries: each output of every pass (the warm-up and each timed pass)
must match the fingerprint of its DuckDB oracle (SparkEntry.oracleSql) over the same tables: columns sorted by
name, value kinds equal, rows sorted, values exact. Expected fingerprints
are cached by a hash of the oracle SQL and the input tables.

`attempted` counts the operations whose output a check covers: the
loadIncremental calls of the last etl pass (its end state is the one
compared), and every query execution.
"""
import hashlib
import json
import math
import os
import re
import subprocess

import duckdb
import pandas as pd

# Spark column types of the pipeline outputs -> DuckDB types for the export
DUCKDB_TYPES = {"string": "VARCHAR", "timestamp": "TIMESTAMP"}


class CheckError(Exception):
    pass


def connect(work, mem="2GB"):
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET threads=4; SET memory_limit='{mem}'; "
                f"SET temp_directory='{tmp}'; SET autoinstall_known_extensions=false")
    return con


def quote(c):
    return '"' + c.replace('"', '""') + '"'


def fingerprint(con, relation, cols):
    hashed = ", ".join(quote(c) for c in cols)
    n, h = con.execute(f"SELECT count(*), coalesce(sum(hash({hashed})::HUGEINT), 0) "
                       f"FROM {relation}").fetchone()
    return int(n), str(h)


def replay_over(sql, files):
    """The replay SQL with its corpus glob replaced by an explicit list."""
    pat = re.compile(r"read_csv\('([^']*)/\*\.csv'")
    if not pat.search(sql):
        raise CheckError("replay SQL no longer reads a '<dir>/*.csv' corpus glob")
    listed = "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"
    return pat.sub(lambda m: "read_csv(" + listed, sql, count=1)


def export_table(pg, table, cols, path):
    sel = ", ".join(quote(c) for c in cols)
    cmd = ["psql", "-X", "-q", "-v", "ON_ERROR_STOP=1", "-c",
           f"\\copy (SELECT {sel} FROM {table}) TO '{path}' WITH (FORMAT csv)"]
    r = subprocess.run(cmd, env=pg.psql_env(), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    if r.returncode != 0:
        raise CheckError(f"export of {table} failed: {r.stdout[-1000:]}")


def check_etl(res, work, pg):
    corpus = os.path.join(work, "corpus")
    if not os.path.isdir(corpus):
        raise CheckError(f"missing corpus directory: {corpus}")
    # the last pass left the bulk load plus every batch of the schedule
    batches = [res["base_files"]] + res["schedule"]
    con = connect(work)
    messages, failed = [], 0
    for table, typed in res["columns"].items():
        cols = [c for c, _ in typed]
        sql = res["replay_sql"][table]
        parts = []
        for b, names in enumerate(batches):
            files = [os.path.join(corpus, n) for n in names]
            missing = [f for f in files if not os.path.isfile(f)]
            if missing:
                raise CheckError(f"missing input file: {missing[0]}")
            con.execute(f"CREATE OR REPLACE TABLE replay_{table}_{b} AS "
                        f"SELECT {b} AS __batch, * FROM ({replay_over(sql, files)})")
            parts.append(f"SELECT * FROM replay_{table}_{b}")
        con.execute(f"CREATE OR REPLACE TABLE expected_{table} AS "
                    f"SELECT * EXCLUDE (__batch) FROM ({' UNION ALL '.join(parts)}) "
                    f"QUALIFY __batch = max(__batch) OVER (PARTITION BY oid__id)")
        path = os.path.join(work, f"pg_{table}.csv")
        export_table(pg, table, cols, path)
        types = ", ".join(f"'{c}': '{DUCKDB_TYPES[t]}'" for c, t in typed)
        con.execute(f"CREATE OR REPLACE TABLE got_{table} AS SELECT * FROM "
                    f"read_csv('{path}', header=false, columns={{{types}}})")
        exp = fingerprint(con, f"expected_{table}", cols)
        got = fingerprint(con, f"got_{table}", cols)
        if exp[0] == 0:
            raise CheckError(f"replay of {table} produced no rows")
        if exp != got:
            failed += 1
            messages.append(f"{table}: postgres has {got[0]} rows (hash {got[1]}), "
                            f"replay expects {exp[0]} (hash {exp[1]})")
        else:
            messages.append(f"{table}: {got[0]} rows match the replay")
    con.close()
    # one loadIncremental call per table and step of the checked pass
    ops = 2 * (1 + len(res["passes"][-1]["batch_s"]))
    return {"attempted": ops, "failed": failed, "messages": messages}


# ---------------------------------------------------------------- queries

def _norm(v):
    if hasattr(v, "item") and not hasattr(v, "__len__"):
        v = v.item()
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "tolist"):
        return _norm(v.tolist())
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if v is pd.NaT:
        return None
    return v


def frame_fingerprint(df):
    """Order-independent fingerprint of a result frame: columns sorted by
    name, value kinds (integer widths folded), rows sorted, exact values."""
    df = df[sorted(df.columns)]

    def kind(dt):
        return "int" if dt.kind in ("i", "u") else dt.kind
    rows = sorted(repr(tuple(_norm(v) for v in r)) for r in df.itertuples(index=False))
    h = hashlib.sha256()
    h.update(repr([(c, kind(df[c].dtype)) for c in df.columns]).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(rows), "hash": h.hexdigest()}


def data_id(sf_dir, tables):
    h = hashlib.sha256()
    for t in sorted(tables):
        with open(os.path.join(sf_dir, t + ".parquet"), "rb") as f:
            h.update(t.encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle_fingerprint(sql, sf_dir, tables, work):
    con = connect(work, mem="3GB")
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
        # the engine's fenced oracles lead with their own resource settings
        body = "\n".join(l for l in sql.splitlines()
                         if not re.match(r"\s*SET\s+(memory_limit|threads)\b", l, re.I))
        return frame_fingerprint(con.sql(body).df())
    finally:
        con.close()


def check_queries(res, work, sf_dir, cfg, build_dir):
    tables = cfg["sf_tables"]
    did = data_id(sf_dir, tables)
    cache_path = os.path.join(build_dir, "expected_cache.json")
    cache = json.load(open(cache_path)) if os.path.isfile(cache_path) else {}
    messages, failed, unchecked, result_rows, ops = [], 0, [], 0, 0
    con = connect(work)
    for name, sql in sorted(res["oracle_sql"].items()):
        if sql is None:
            unchecked.append(name)
        else:
            key = hashlib.sha256((did + "\n" + sql).encode()).hexdigest()
            exp = cache.get(key)
            if exp is None:
                exp = oracle_fingerprint(sql, sf_dir, tables, work)
                cache[key] = exp
                with open(cache_path, "w") as f:
                    json.dump(cache, f)
        for check_pass in res["check_passes"]:
            out = os.path.join(work, "outputs", check_pass, name)
            if not os.path.isdir(out):
                raise CheckError(f"missing query output: {out}")
            got = frame_fingerprint(
                con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')").df())
            if check_pass == res["check_passes"][-1]:
                result_rows += got["rows"]
            if sql is None:
                continue
            ops += 1
            if got != exp:
                failed += 1
                messages.append(f"{name} ({check_pass} pass): got {got['rows']} rows "
                                f"{got['hash'][:12]}, oracle {exp['rows']} rows "
                                f"{exp['hash'][:12]}")
    con.close()
    if not ops:
        raise CheckError("no query in the workload has an oracle to check against")
    if unchecked:
        messages.append("unchecked (no oracle): " + ", ".join(unchecked))
    messages.append(f"{ops - failed} query "
                    f"outputs of the passes {', '.join(res['check_passes'])} "
                    f"match their oracle")
    return {"attempted": ops, "failed": failed, "messages": messages,
            "unchecked": unchecked, "result_rows": result_rows}
