#!/usr/bin/env python3
"""Cross-checks perfbench/expected.json against the DuckDB oracles.

Runs every query's oracle SQL (dumped by `run.py --record` into
perfbench/results/oracle_sql.json) over the benchmark's tables in
DuckDB, digests the rows the way Digest.scala digests Spark's, and
writes the per-query verdict to perfbench/crosscheck.json. Queries
without an oracle are listed as such.

Usage: python3 perfbench/crosscheck.py
"""
import datetime
import decimal
import hashlib
import json
import math
from pathlib import Path

import duckdb

BENCH = Path(__file__).resolve().parent
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SIG = decimal.Context(prec=10, rounding=decimal.ROUND_HALF_EVEN)
WIDE = decimal.Context(prec=60)
EPOCH = datetime.datetime(1970, 1, 1)


def number(d):
    if d.is_zero():
        return "0e0"
    sign, digits, exp = d.normalize(WIDE).as_tuple()
    return f"{'-' if sign else ''}{int(''.join(map(str, digits)))}e{exp}"


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return number(decimal.Decimal(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return number(SIG.create_decimal_from_float(v))
    if isinstance(v, decimal.Decimal):
        return number(SIG.create_decimal(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"t{(v - EPOCH) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return f"d{(v - EPOCH.date()).days}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")
    return len(rows), format(total % (1 << 64), "016x")


def main():
    expected = json.loads((BENCH / "expected.json").read_text())["queries"]
    oracle = json.loads((BENCH / "results" / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{BENCH / 'data' / (t + '.parquet')}')")
    verdicts = {}
    for name in sorted(expected):
        e = expected[name]
        if name not in oracle:
            verdicts[name] = "no oracle"
            continue
        try:
            cur = con.execute(oracle[name])
            cols = [d[0] for d in cur.description]
            rows, dig = digest(cols, cur.fetchall())
        except Exception as ex:  # noqa: BLE001
            verdicts[name] = f"oracle error: {ex}"[:200]
            continue
        if rows == e["rows"] and dig == e["digest"]:
            verdicts[name] = "match"
        else:
            verdicts[name] = f"mismatch: rows {rows}/{e['rows']} digest {dig}/{e['digest']}"
    counts = {}
    for v in verdicts.values():
        k = v.split(":")[0]
        counts[k] = counts.get(k, 0) + 1
    out = {"summary": counts, "queries": verdicts}
    (BENCH / "crosscheck.json").write_text(json.dumps(out, indent=1, ensure_ascii=False) + "\n")
    print(json.dumps(counts))
    for n, v in sorted(verdicts.items()):
        if v not in ("match", "no oracle"):
            print(f"{n}: {v}")


if __name__ == "__main__":
    main()
