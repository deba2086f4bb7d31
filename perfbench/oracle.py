"""Correctness gate: every operation's output is checked against DuckDB.

* CSV jobs: each destination file must be in the reference single-file
  format (quoted header, every value quoted, bare ``NULL``, ``;``, ``\\n``)
  and hold exactly the rows DuckDB derives from the same generated inputs:
  equal row count and an equal order-insensitive checksum of the typed
  values. The mappings below mirror ``Workloads`` in ``src/Harness.scala``.
* Oracle queries: rows equal to ``SparkEntry.oracleSql`` run in DuckDB on
  the same corpus copy (column names sorted; doubles within 1e-9 relative,
  since a permuted input changes floating-point summation order).
* d27 (k-means, no oracle): exactly one cluster id for every corpus
  vector, checked against the vector ids DuckDB reads from the same copy.
"""
import codecs
import datetime
import decimal
import hashlib
import json
import math
import os
import re

import duckdb

INGEST_COLS = [("id", "int"), ("region", "str"), ("customer", "str"), ("amount", "float"),
               ("qty", "int"), ("created", "ts"), ("note", "str"), ("src", "const")]
EXPORT_COLS = [("id", "int"), ("name", "str"), ("price", "float"), ("ratio", "float"),
               ("ts", "ts"), ("flag", "str"), ("batch", "const")]

# job -> (source encoding, decimal separator of the job culture,
#         source file, destination table, constant, WHERE clause)
CSV_JOBS = {
    "sel_a": ("utf-8", ".", "ingest/orders_a.csv", "sel_a", "a", "region = 'R07'"),
    "sel_b": ("utf-8", ".", "ingest/orders_b.csv", "sel_b", "b",
              "status = 'HOLD' AND TRY_CAST(qty AS DOUBLE) > 10"),
    **{f"t{i:02d}_out": ("cp1252", ",", f"export/t{i:02d}.csv", f"t{i:02d}_out", "B7", "TRUE")
       for i in range(6)},
}
FIELD = re.compile(r'NULL|"((?:[^"]|"")*)"')


def input_bytes(work):
    """Bytes of the generated CSV inputs; one pass reads each once."""
    root = os.path.join(work, "csv")
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root)
               for f in fs if f.endswith(".csv"))


def output_bytes(dest):
    return sum(os.path.getsize(os.path.join(dest, f)) for f in os.listdir(dest)) \
        if os.path.isdir(dest) else 0


def checksum(rows):
    total = 0
    for r in rows:
        total += int.from_bytes(hashlib.blake2b(repr(r).encode(), digest_size=8).digest(), "big")
    return len(rows), total % (1 << 64)


# ------------------------------------------------------------------ CSV

def _expected_csv(con, work, cols, encoding, src, tag, where):
    path = os.path.join(work, "csv", src)
    if encoding != "utf-8":
        # DuckDB reads UTF-8; transcode here, independently of the engine
        staged = os.path.join(work, "oracle_" + os.path.basename(src))
        with codecs.open(path, "r", encoding) as i, open(staged, "w", encoding="utf-8") as o:
            o.write(i.read())
        path = staged
    sel = []
    for name, kind in cols:
        if kind == "int":
            sel.append(f"CAST({name} AS {'INTEGER' if name == 'qty' else 'BIGINT'})")
        elif kind == "float":
            sel.append(f"CAST(replace({name}, ',', '.') AS DOUBLE)")
        elif kind == "ts":
            sel.append(f"strptime({name}, '%Y-%m-%d %H:%M:%S')")
        elif kind == "const":
            sel.append(f"'{tag}'")
        else:
            sel.append(name)
    sql = (f"SELECT {', '.join(sel)} FROM read_csv('{path}', delim=';', quote='\"', "
           f"escape='\"', header=true, nullstr='NULL', all_varchar=true) WHERE {where}")
    return checksum(con.execute(sql).fetchall())


def _parse_reference_file(path, cols, sep):
    """Parse a single-file output strictly; returns typed rows or raises."""
    with open(path, "rb") as f:
        text = f.read().decode("utf-8")
    if not text.endswith("\n"):
        raise ValueError("file does not end with a newline")
    lines = text[:-1].split("\n")
    header = ";".join(f'"{n}"' for n, _ in cols)
    if lines[0] != header:
        raise ValueError(f"header {lines[0]!r} != {header!r}")
    rows = []
    for ln, line in enumerate(lines[1:], 2):
        vals, pos = [], 0
        while True:
            m = FIELD.match(line, pos)
            if not m:
                raise ValueError(f"line {ln}: bad field at {pos}: {line!r}")
            vals.append(None if m.group(1) is None else m.group(1).replace('""', '"'))
            pos = m.end()
            if pos == len(line):
                break
            if line[pos] != ";":
                raise ValueError(f"line {ln}: expected ';' at {pos}: {line!r}")
            pos += 1
        if len(vals) != len(cols):
            raise ValueError(f"line {ln}: {len(vals)} fields, want {len(cols)}")
        rows.append(tuple(_typed(v, kind, sep) for v, (_, kind) in zip(vals, cols)))
    return rows


def _typed(v, kind, sep):
    if v is None:
        return None
    if kind == "int":
        return int(v)
    if kind == "float":
        if sep != "." and "." in v:
            raise ValueError(f"{v!r} does not use the culture's decimal separator")
        return float(v.replace(sep, "."))
    if kind == "ts":
        return datetime.datetime.strptime(v, "%d-%m-%Y %H:%M:%S:%f")
    return v


def check_csv(work, ops):
    con = _duckdb(work)
    expected, seen, failures = {}, {}, {}
    for o in ops:
        name = f"{'traced' if o['traced'] else 'untraced'} p{o['pass']}/{o['name']}"
        if not o["ok"]:
            failures[name] = o["error"] or "job failed"
            continue
        encoding, sep, src, dest, tag, where = CSV_JOBS[o["name"]]
        cols = INGEST_COLS if dest.startswith("sel_") else EXPORT_COLS
        if dest not in expected:
            expected[dest] = _expected_csv(con, work, cols, encoding, src, tag, where)
        path = os.path.join(o["output"], f"{dest}.csv")
        try:
            with open(path, "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
        except OSError as e:
            failures[name] = str(e)
            continue
        if digest not in seen:
            try:
                got = checksum(_parse_reference_file(path, cols, sep))
                seen[digest] = "" if got == expected[dest] else f"(rows, checksum) {got} != {expected[dest]}"
            except ValueError as e:
                seen[digest] = str(e)
        if seen[digest]:
            failures[name] = seen[digest]
        elif o["rows_out"] != expected[dest][0]:
            failures[name] = f"job reported {o['rows_out']} rows, oracle {expected[dest][0]}"
    return failures


# ------------------------------------------------------------------ suites

def _num(v):
    return isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool)


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _same(a, b):
    if _num(a) and _num(b):
        a, b = float(a), float(b)
        return a == b or (math.isfinite(a) and abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if _num(v):
            return (1, f"{float(v):.9g}")
        return (2, json.dumps(v, sort_keys=True, default=str))
    return [k(v) for v in row]


def _rows_equal(got, want):
    if len(got) != len(want):
        return False
    if all(all(_same(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)):
        return True
    # ties in ORDER BY may come out in another order; compare as multisets
    got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    return all(all(_same(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))


def _read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _duckdb(work):
    # bounded memory; spill files stay in the run's work directory
    return duckdb.connect(config={"memory_limit": "2GB", "threads": 2,
                                  "temp_directory": os.path.join(work, "duckdb-tmp")})


def _connect(work, corpus):
    con = _duckdb(work)
    for f in sorted(os.listdir(corpus)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(corpus, f)}')")
    return con


def _check_d27(con, got):
    """k-means assignment: exactly one cluster id per corpus vector."""
    ids = [r[0] for r in con.execute("SELECT vec_id FROM embeddings ORDER BY 1").fetchall()]
    if sorted(r["vec_id"] for r in got) != ids:
        return f"{len(got)} assignments, want one per each of {len(ids)} vectors"
    if any(not isinstance(r["cluster"], int) or r["cluster"] < 0 for r in got):
        return "a vector has no cluster"
    return ""


def check_suite(work, ops):
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    cons, want, failures = {}, {}, {}
    for o in ops:
        name = f"{'traced' if o['traced'] else 'untraced'} p{o['pass']}/{o['name']}"
        q = o["name"]
        if not o["ok"]:
            failures[name] = o["error"] or "query failed"
            continue
        got = _read_jsonl(o["output"])
        # results do not depend on the row order, so every pass is checked
        # against the oracle over the first copy
        scale = os.path.basename(os.path.dirname(o["output"]))
        if scale not in cons:
            cons[scale] = _connect(work, os.path.join(work, "corpus", "p000", scale))
        con = cons[scale]
        if q == "d27_kmeans":
            err = _check_d27(con, got)
        else:
            if q not in want:
                cur = con.execute(sql[q])
                cols = [d[0] for d in cur.description]
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                want[q] = ([cols[i] for i in order],
                           [[_norm(r[i]) for i in order] for r in cur.fetchall()])
            cols, rows = want[q]
            got_cols = sorted(got[0].keys()) if got else cols
            if got_cols != cols:
                err = f"columns {got_cols} != {cols}"
            elif not _rows_equal([[_norm(r[c]) for c in cols] for r in got], rows):
                err = f"{len(got)} rows differ from the oracle's {len(rows)}"
            else:
                err = ""
        if err:
            failures[name] = err
    return failures


def check(workload, work, ops):
    """{operation: reason} for every operation that failed or whose output
    is wrong; a trace run's two JVMs are told apart as traced/untraced."""
    if workload == "csv_jobs":
        return check_csv(work, ops)
    return check_suite(work, ops)
