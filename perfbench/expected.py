#!/usr/bin/env python3
"""Regenerates perfbench/expected.json, the expected result digest of every
query of the `queries` workload:

    python3 perfbench/expected.py

It builds the harness (as run.py does), has the JVM write the workload's
tables and the queries' `SparkEntry.oracleSql` text, runs each oracle in
DuckDB over the same parquet files, and digests DuckDB's answer exactly as
perfbench.Canon digests Spark's: columns sorted by name, cells rendered
canonically (doubles by their IEEE-754 bits, timestamps as UTC microseconds),
rendered rows sorted, SHA-256. Rerun it whenever the table generator, the
query list, or an oracle changes.
"""
import calendar
import datetime
import decimal
import hashlib
import json
import os
import shutil
import struct
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        return format(struct.unpack(">q", struct.pack(">d", v))[0] & (2**64 - 1), "x")
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + str(calendar.timegm(v.timetuple()) * 1000000 + v.microsecond)
    if isinstance(v, datetime.date):
        return "d" + str((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "b" + v.hex()
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = "\x1f".join(columns[i] for i in order)
    body = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join([header] + body).encode("utf-8")).hexdigest()


def main():
    cp = run.build()
    with open(os.path.join(run.BENCH, "workloads.json")) as fh:
        conf = json.load(fh)["queries"]
    work = os.path.join(run.BENCH, ".work", f"expected-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        cmd = [run.java_bin()]
        for p in run.ADD_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main", "tables",
                "--bench-dir", run.BENCH, "--work", work]
        subprocess.run(cmd, cwd=run.ROOT, check=True, stdout=sys.stderr)
        with open(os.path.join(work, "oracle_sql.json")) as fh:
            oracles = json.load(fh)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{work}/tables/{t}.parquet')")
        digests = {}
        for name in conf["list"]:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            digests[name] = {"sha256": digest(cols, rows), "rows": len(rows)}
            print(f"{name}: {len(rows)} rows", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = {"command": "python3 perfbench/expected.py", "duckdb": duckdb.__version__,
           "sf": conf["sf"], "data_seed": conf["data_seed"], "digests": digests}
    with open(os.path.join(run.BENCH, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
