"""Correctness checks of a benchmark run, made outside the timed region.

Analytics: every listed query's full output is hashed against its DuckDB
oracle (`SparkEntry.oracleSql`) over the same generated tables, with the
canonicalization of the repository's `tools/check.py` (columns sorted by
name, cells rendered the same way, rows hashed in order).

Catalog pipeline: the harness's reported outcomes are compared with the
expected-state model of `gen.py`.

Each function returns a list of failure descriptions; empty means pass.
"""
import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _check_module():
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def analytics(names, outputs, data_dir):
    import duckdb
    import pandas as pd
    check = _check_module()
    with open(os.path.join(outputs, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failures = []
    for name in names:
        out = os.path.join(outputs, name)
        if not os.path.isdir(out):
            failures.append(f"{name}: no output")
            continue
        got = check.canon(pd.read_parquet(out))
        if name not in oracles:
            if len(got) == 0:
                failures.append(f"{name}: empty output and no oracle")
            continue
        try:
            want = check.canon(con.sql(oracles[name]).df())
        except Exception as e:  # an oracle that cannot run is a failure
            failures.append(f"{name}: oracle error {e}")
            continue
        if list(got.columns) != list(want.columns) or len(got) != len(want) \
                or check.table_hash(got) != check.table_hash(want):
            failures.append(f"{name}: output differs from oracle "
                            f"(rows {len(got)} vs {len(want)})")
    return failures


def catalog(checks, expects):
    """Compare each catalog cycle's reported state with the model."""
    failures = []
    for c in checks:
        want = expects[c["cycle"]]
        tag = f"pass {c['pass']}"

        def same(what, got, exp):
            if got != exp:
                failures.append(f"{tag}: {what} {got!r} != {exp!r}")

        same("accepted", c.get("accepted"), want["accepted"])
        same("dead letters", c.get("dead_letters"), want["dead_letters"])
        same("indexed rows", c.get("indexed"), want["indexed"])
        same("final rows", c.get("final_rows"), want["final_rows"])
        same("job states", c.get("job_states"), want["job_states"])
        same("stream rejects", c.get("stream_rejects"), want["stream_rejects"])
        for r in c.get("reads", []):
            exp = want["after_batch"][r["batch"]]
            if r["what"] == "counts":
                got = r["digest"]
                exp = {k: v[0] for k, v in exp["level"].items()}
            else:
                got = r["digest"]["v"]
                exp = exp[r["what"]].get(r["key"], [0, 0, 0])
            same(f"read {r['what']}:{r['key']} after batch {r['batch']}",
                 got, exp)
    return failures
