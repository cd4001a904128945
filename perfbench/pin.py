#!/usr/bin/env python3
"""Re-derive perfbench/expected.json, the expected output of every mix
entry.

Usage (from the root of a checkout):  python3 perfbench/pin.py

For each workload the harness runs twice, with two seeds, each time
making its warm-up passes and two timed passes over the mix. An entry
whose digest repeats in every operation is checked on its digest; one
whose digest does not repeat is checked on its row count (which must
repeat), with the reason recorded beside it.

Entries with a DuckDB oracle (`SparkEntry.oracleSql`) are also run in
DuckDB over the same tables, and the DuckDB result's digest, rendered
with the rules of Digest.scala, must equal Spark's exact digest - the
comparison `tools/check_oracle.py` makes. An entry where the two
disagree stays in the mix as a known failure, expected to DuckDB's
answer. Streaming twins have no oracle; their digests are pinned.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import survey  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SEEDS = (0, 1)
PASSES = 2


def _dbl(x):
    x = float(x)
    if x == 0.0:
        x = 0.0
    if x != x:
        return "f7ff8000000000000"
    return "f" + format(struct.unpack(">Q", struct.pack(">d", x))[0], "x")


def render(v):
    """One DuckDB value, rendered as Digest.render renders Spark's."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _dbl(v)
    if isinstance(v, decimal.Decimal):
        return _dbl(float(str(v)))
    if isinstance(v, str):
        return "s" + v.replace("\\", "\\\\").replace("\n", "\\n").replace("\x1f", "\\u001f")
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return "t" + str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "d" + str((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(render(x) for x in v.values()) + ")"
    return "?" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rendered = sorted("\x1f".join(render(r[i]) for i in order).encode()
                      for r in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for b in rendered:
        h.update(b"\n" + b)
    return h.hexdigest()


def duckdb_digests(sql_by_entry, sf):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    out = {}
    for name, sql in sorted(sql_by_entry.items()):
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out[name] = (len(rows), digest(cols, rows), None)
        except Exception as e:  # a failing oracle is a disagreement
            out[name] = (None, None, f"{type(e).__name__}: {e}")
        print(f"oracle {name}: {out[name][:2]}", flush=True)
    return out


def recorded_ops(classpath, workload, mix, seed):
    """Every operation of one run: its warm-up passes and PASSES timed
    passes."""
    warmup, timed = run.run_plan(mix, seed)
    return run.launch(classpath, workload, seed, 1e6, 0, warmup, timed[:PASSES])["ops"]


def main():
    cfg = run.load_config()
    classpath = run.build()
    oracle_sql = survey.registry(classpath)["oracle"]
    expected = {}
    for workload, w in cfg["workloads"].items():
        seen = {}
        ops = [op for seed in SEEDS
               for op in recorded_ops(classpath, workload, w["entries"], seed)]
        for op in ops:
            if op["status"] != "ok":
                raise SystemExit(f"{workload}/{op['entry']}: {op['status']} {op.get('error')}")
            seen.setdefault(op["entry"], []).append(op)
        oracle = {}
        if workload != "stream_replay":
            oracle = duckdb_digests({e: oracle_sql[e] for e in w["entries"]
                                     if e in oracle_sql}, cfg["data"])
        for entry in w["entries"]:
            ops = seen[entry]
            first = ops[0]
            e = {"rows": first["rows"], "digest": first["digest"]}
            if len({o["digest"] for o in ops}) == 1:
                e["check"] = "exact"
            else:
                e["check"] = "rows"
                e["note"] = (f"digest differed across {len(ops)} runs; checked "
                             "on row count, which repeated")
            if len({o["rows"] for o in ops}) != 1:
                raise SystemExit(f"{entry}: row count differs across runs")
            if entry in oracle:
                e["source"] = "duckdb"
                rows, dig, err = oracle[entry]
                if err is not None or dig != first["digest"]:
                    e["known_failure"] = True
                    e["note"] = ("DuckDB oracle disagrees: " + (err or
                                 f"oracle rows {rows}, spark rows {first['rows']}"))
                    e.update(check="exact", digest=dig, rows=rows)
            else:
                e["source"] = "pinned"
            expected[entry] = e
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    bad = [k for k, v in expected.items() if v.get("known_failure")]
    print(f"pinned {len(expected)} entries; known failures: {bad or 'none'}")


if __name__ == "__main__":
    main()
