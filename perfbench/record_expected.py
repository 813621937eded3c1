#!/usr/bin/env python3
"""Records perfbench/expected.json: the result digest of every relational
and pipeline pool entry on perfbench/data. The JVM dumps each entry's
output as parquet; each dump with an oracle query in
SparkEntry.oracleSql is compared row by row with DuckDB running that
query on the same parquet tables (exact values, rows sorted, columns
by name). An entry whose dump disagrees with its oracle, or whose
digest differs between the live frame and the dump, is not recorded,
so the benchmark counts it as failed.

Usage: python3 perfbench/record_expected.py
"""
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_compare(con, sql, files):
    spark_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    ora_rel = con.sql(sql)
    s_cols, o_cols = sorted(spark_rel.columns), sorted(ora_rel.columns)
    if s_cols != o_cols:
        return f"schema: spark={s_cols} oracle={o_cols}"
    rows = [sorted(tuple(repr(v) for v in r) for r in
                   rel.select(*[f'"{c}"' for c in cols]).fetchall())
            for rel, cols in ((spark_rel, s_cols), (ora_rel, o_cols))]
    if len(rows[0]) != len(rows[1]):
        return f"rows: spark={len(rows[0])} oracle={len(rows[1])}"
    diffs = sum(a != b for a, b in zip(*rows))
    return f"{diffs} differing rows" if diffs else None


def main():
    classes = run.build.build()
    work = os.path.join(run.build.build_dir(), f"record-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = (["java", f"-Xmx{run.HEAP}"]
               + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={work}/tmp",
                  f"-Dlog4j2.configurationFile={os.path.join(run.HERE, 'log4j2.properties')}",
                  "-cp", classes + os.pathsep + run.build.SPARK_JARS, "perfbench.Main",
                  "--record", os.path.join(work, "out"), "--data", os.path.join(run.HERE, "data"),
                  "--work", work])
        subprocess.run(cmd, cwd=run.ROOT, check=True, stdout=subprocess.DEVNULL)
        out = os.path.join(work, "out")
        digests = json.load(open(os.path.join(out, "digests.json")))
        oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(run.HERE, 'data', t)}.parquet'")
        expected, oracle_state, refused = {}, {}, {}
        for name in sorted(digests):
            d = digests[name]
            if d["digest"] != d["dumped_digest"] and not d["dumped_digest"].startswith("unwritable"):
                refused[name] = f"live digest {d['digest']} != dumped {d['dumped_digest']}"
                continue
            if name in oracles:
                if d["dumped_digest"].startswith("unwritable"):
                    refused[name] = d["dumped_digest"]
                    continue
                files = sorted(os.path.join(out, name, f) for f in os.listdir(os.path.join(out, name))
                               if f.endswith(".parquet"))
                try:
                    why = oracle_compare(con, oracles[name], files)
                except Exception as e:  # oracle SQL that DuckDB cannot run
                    why = f"oracle error: {e}"
                if why:
                    refused[name] = why
                    continue
                oracle_state[name] = "matches DuckDB oracle"
            else:
                oracle_state[name] = "no oracle SQL; digest of a recorded run"
            expected[name] = d["digest"]
        doc = {"data": "perfbench/data (sf0.01)", "digests": expected,
               "oracle": oracle_state, "not_recorded": refused}
        with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"recorded {len(expected)} digests; not recorded: {refused or 'none'}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
