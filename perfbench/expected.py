#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the committed expected results.

    python3 perfbench/expected.py

Run from the repository root. For every query of olap_queries and
curation_batch it takes the answer of the DuckDB oracle (the query's
`oracle` SQL over the generated tables) and stores its order-insensitive
fingerprint. A query without oracle SQL stores the engine's own
fingerprint instead, marked `"source": "engine"`. Queries where the engine
disagrees with the oracle are listed, and the script exits non-zero;
their expected entry is still the oracle's answer.

The fingerprint must match perfbench.Fingerprint (Scala) exactly: see the
rules in its scaladoc.
"""
import datetime
import decimal
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

DIGITS = 12
CTX = decimal.Context(prec=DIGITS, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def number(d):
    if d == 0:
        return "0"
    return format(CTX.create_decimal(d).normalize(CTX), "f")


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Infinity" if v > 0 else "-Infinity"
        return number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - EPOCH
        return str((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        if set(v) >= {"key", "value"} and isinstance(v.get("key"), list):
            items = zip(v["key"], v["value"])
        else:
            return "(" + ",".join(cell(x) for x in v.values()) + ")"
        return "{" + ",".join(f"{k}:{x}" for k, x in
                              sorted((cell(k), cell(x)) for k, x in items)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\u0001".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return f"{len(rows)}:" + h.digest()[:12].hex()


def main():
    run.check_checkout()
    data = run.data()
    cp = run.build(data)
    raw = os.path.join(run.WORK, "engine-fingerprints.json")
    code, _ = run.run_jvm(cp, ["--mode", "fingerprints", "--data", data, "--expected", raw], 3600)
    with open(raw) as f:
        engine = json.load(f)
    con = duckdb.connect()
    for name in sorted(os.listdir(data)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{data}/{name}'")
    out, mismatches = {}, []
    for q, e in engine.items():
        if "oracle" in e:
            cur = con.execute(e["oracle"])
            cols = [c[0] for c in cur.description]
            fp, source = fingerprint(cols, cur.fetchall()), "oracle"
        else:
            fp, source = e.get("engine"), "engine"
        out[q] = {"family": e["family"], "fp": fp, "source": source}
        if e.get("engine") != fp:
            mismatches.append(f"{q}: engine {e.get('engine') or e.get('error')}, oracle {fp}")
    doc = {"data_scale": run.DATA_SCALE, "queries": out}
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} queries, {sum(v['source'] == 'oracle' for v in out.values())} from the oracle")
    for m in mismatches:
        print("MISMATCH", m)
    return 1 if mismatches or code != 0 else 0


if __name__ == "__main__":
    sys.exit(main())
