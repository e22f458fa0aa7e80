"""Expected results for `corpus_prep`: the program's own oracle
SQL (`SparkEntry.oracleSql`) replayed in DuckDB over the same generated
tables, compared representation-exactly with the collected Spark output
by `canon` and `values_equal` of tools/check_oracle.py: columns sorted by
name, rows by all columns, dtypes equal, each cell equal in type and
canonical repr, no numeric tolerance.

Replayed results are cached under .bench_build/oracle, keyed by query,
data fingerprint and SQL text. To make them for one seed (anew with
--refresh), from the root of a checkout:

    python3 perfbench/oracle.py --seed <n> [--refresh]

This builds the harness if needed, takes the oracle SQL of the corpus
queries from the program, generates the seed's corpus in a temporary
directory and replays every query.
"""
import argparse
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ("documents", "embeddings", "events")

# the project's own representation-exact compare
sys.path.insert(0, os.path.join(HERE, "..", "tools"))
from check_oracle import canon, values_equal  # noqa: E402


def compare(got, want):
    """None when equal, else the first difference."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if [str(t) for t in g.dtypes] != [str(t) for t in w.dtypes]:
        return f"dtypes {list(map(str, g.dtypes))} != {list(map(str, w.dtypes))}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for c in g.columns:
        for i, (x, y) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if not values_equal(x, y):
                return f"col {c} row {i}: spark={x!r} duck={y!r}"
    return None


def fingerprint(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def expected(con, cache_dir, fp, name, sql, hint, done_setups, refresh=False):
    """The replayed result of one query, from the cache when present."""
    import pandas as pd
    key = hashlib.sha256((sql + json.dumps(hint)).encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"{name}-{fp}-{key}.pkl")
    if os.path.exists(path) and not refresh:
        return pd.read_pickle(path)
    if hint:
        # a shared CTE chain is materialized once instead of inlined per use
        if hint["setup"] not in done_setups:
            con.execute(hint["setup"])
            done_setups.add(hint["setup"])
        sql = hint["sql"]
    df = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".part")
    os.replace(path + ".part", path)
    return df


def check_corpus(result, work, cache_dir):
    """Per-sample verdicts for a corpus_prep run. Each query's first
    output is compared with the DuckDB replay; a measured call fails when
    it threw, when its output digest differs from the first output's, or
    when the first output itself was wrong."""
    data = os.path.join(work, "data")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    hints = {}
    if os.path.exists(os.path.join(work, "oracle_hints.json")):
        with open(os.path.join(work, "oracle_hints.json")) as fh:
            hints = json.load(fh)
    con = connect(data)
    fp = fingerprint(data)
    setups, wrong, problems = set(), set(), []
    for name in result["queries"]:
        ref = result["reference"].get(name)
        if ref is None or ref.startswith("error"):
            problems.append(f"{name}: first call failed: {ref}")
            continue
        got = con.sql(f"SELECT * FROM '{work}/outputs/{name}/*.parquet'").df()
        want = expected(con, cache_dir, fp, name, sqls[name], hints.get(name), setups)
        diff = compare(got, want)
        if diff:
            wrong.add(name)
            problems.append(f"{name}: {diff}")
    con.close()
    good, bad_digest = [], 0
    for s in result["samples"]:
        same = s["out"] == result["reference"].get(s["op"])
        if s["ok"] and not same:
            bad_digest += 1
            problems.append(f"{s['op']} round {s['round']}: output differs from the first call")
        good.append(s["ok"] and same and s["op"] not in wrong)
    return {"good": good, "correct": not wrong and bad_digest == 0, "problems": problems}


def main():
    ap = argparse.ArgumentParser(
        description="make corpus_prep's expected results for one seed")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--refresh", action="store_true", help="replay even when cached")
    args = ap.parse_args()
    import subprocess
    import tempfile
    import corpusgen
    import run
    root = os.getcwd()
    classpath = run.build(root)
    with tempfile.TemporaryDirectory(dir=os.path.join(root, run.BUILD)) as d:
        # the program's oracle SQL for the corpus queries, without Spark
        subprocess.check_call(run.jvm_cmd(classpath, [
            "--workload", "oracle", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--work", d, "--data", d, "--cpus", "1"]), stdout=subprocess.DEVNULL)
        with open(os.path.join(d, "oracle_sql.json")) as fh:
            sqls = json.load(fh)
        with open(os.path.join(d, "oracle_hints.json")) as fh:
            hints = json.load(fh)
        data = os.path.join(d, "data")
        corpusgen.generate(data, args.seed)
        con = connect(data)
        fp = fingerprint(data)
        cache = os.path.join(root, run.BUILD, "oracle")
        setups = set()
        for name, sql in sorted(sqls.items()):
            df = expected(con, cache, fp, name, sql, hints.get(name), setups, args.refresh)
            print(f"{name}: {len(df)} rows (data {fp})")


if __name__ == "__main__":
    main()
