#!/usr/bin/env python3
"""Regenerates perfbench/expected.json: the row count and value digest
(analyse.result_digest) each catalog entry of the operators and snapshots
workloads must return on the benchmark's fixed catalog tables.

Usage (from the root of a checkout, engine sources present):

    python3 perfbench/expected.py

Entries with oracle SQL get their expectation from DuckDB over the same
tables; the rest get what this commit's engine returns (one run of each
workload). The file is written only when every entry ran and every oracle
entry agrees with the engine; otherwise the disagreements are printed and
the committed file is left as it is.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyse  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PASS_SECONDS = 40


def expectation(columns, rows, source):
    return {"rows": len(rows), "digest": analyse.result_digest(columns, rows),
            "source": source}


def main():
    import duckdb

    cp = run.ensure_build()
    work = os.path.join(run.RUNS, "expected")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        dump = os.path.join(work, "oracle.json")
        subprocess.run(["java", "-cp", cp, "perfbench.OracleDump", dump], check=True)
        with open(dump) as f:
            oracle = json.load(f)
        gen.write_catalog_tables(data, run.TABLES_SF)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, t)}.parquet')")
        out, bad = {}, []
        for workload, entries in sorted(oracle.items()):
            wdir = os.path.join(work, workload)
            os.makedirs(wdir)
            result = os.path.join(wdir, "result.json")
            run.run_jvm(cp, workload, 0, 0, PASS_SECONDS, data, wdir, result)
            with open(result) as f:
                got = {e["name"]: e for e in json.load(f)["result"]["entries"]}
            out[workload] = {}
            for name, sql in sorted(entries.items()):
                e = got.get(name, {"error": "did not run"})
                if "error" in e:
                    bad.append(f"{name}: {e['error']}")
                    continue
                engine = expectation(e["columns"], e["values"], "engine")
                if sql is None:
                    out[workload][name] = engine
                    continue
                cur = con.execute(sql)
                want = expectation([d[0] for d in cur.description], cur.fetchall(), "duckdb")
                if (want["rows"], want["digest"]) != (engine["rows"], engine["digest"]):
                    bad.append(f"{name}: engine {engine['rows']} rows {engine['digest'][:12]}, "
                               f"duckdb {want['rows']} rows {want['digest'][:12]}")
                out[workload][name] = want
        if bad:
            sys.exit("not written; entries that failed or disagree with the oracle:\n"
                     + "\n".join(bad))
        with open(os.path.join(HERE, "expected.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        print(json.dumps(out, indent=1, sort_keys=True))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(run.RUNS) and not os.listdir(run.RUNS):
            os.rmdir(run.RUNS)


if __name__ == "__main__":
    main()
