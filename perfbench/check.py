"""Output checks. Each `check_*` returns the problems it found (empty means
correct)."""
import csv
import glob
import json
import os
import re
import sqlite3
import zipfile

import pyarrow.parquet as pq

csv.field_size_limit(1 << 30)


def _csv_table(path):
    with open(path, newline="", encoding="utf-8") as f:
        r = csv.reader(f)
        header = next(r)
        return header, sum(1 for _ in r)


def _fields_csv(path):
    with open(path, newline="", encoding="utf-8") as f:
        return {(row["table_name"], row["field_name"]): int(row["count"])
                for row in csv.DictReader(f)}


def _parquet_table(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None, 0
    rows = sum(pq.read_metadata(p).num_rows for p in files)
    return pq.read_schema(files[0]).names, rows


def _xlsx_sheets(path):
    """Sheet name -> data row count (header excluded), read from the zip."""
    with zipfile.ZipFile(path) as z:
        wb = z.read("xl/workbook.xml").decode("utf-8")
        names = re.findall(r'<sheet [^>]*name="([^"]*)"', wb)
        out = {}
        for i, n in enumerate(names):
            xml = z.read("xl/worksheets/sheet%d.xml" % (i + 1))
            out[n] = len(re.findall(rb"<row[ >]", xml)) - 1
        return out


def _sqlite(path):
    con = sqlite3.connect("file:%s?mode=ro" % path, uri=True)
    try:
        ok = con.execute("PRAGMA integrity_check").fetchall()
        tables = [r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type = 'table'")]
        out = {}
        for t in tables:
            cols = [r[1] for r in con.execute('PRAGMA table_info("%s")' % t)]
            n = con.execute('SELECT count(*) FROM "%s"' % t).fetchone()[0]
            out[t] = (cols, n)
        idx = [r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type = 'index'")]
        return ok, out, idx
    finally:
        con.close()


def check_flatten(out, expected, sqlite):
    """`expected`: table -> {"rows": n, "fields": {field: non-null count}}."""
    probs = []
    tables = set(expected)
    for t, exp in expected.items():
        cols = set(exp["fields"])
        p = os.path.join(out, "csv", t + ".csv")
        if not os.path.exists(p):
            probs.append("missing %s" % p)
            continue
        header, n = _csv_table(p)
        if set(header) != cols:
            probs.append("csv %s columns %s != %s" % (t, sorted(header), sorted(cols)))
        if n != exp["rows"]:
            probs.append("csv %s rows %d != %d" % (t, n, exp["rows"]))
        if not sqlite:
            names, n = _parquet_table(os.path.join(out, "parquet", t + ".parquet"))
            if names is None or set(names) != cols or n != exp["rows"]:
                probs.append("parquet %s: columns/rows %s/%d" % (t, names, n))
    counts = _fields_csv(os.path.join(out, "fields.csv"))
    want = {(t, f): c for t, e in expected.items() for f, c in e["fields"].items()}
    if counts != want:
        diff = sorted(set(counts.items()) ^ set(want.items()))[:6]
        probs.append("fields.csv counts differ: %s" % diff)
    with open(os.path.join(out, "datapackage.json"), encoding="utf-8") as f:
        dp = json.load(f)
    if {r["name"] for r in dp.get("resources", [])} != tables:
        probs.append("datapackage.json resources differ")
    if sqlite:
        ok, db, idx = _sqlite(os.path.join(out, "sqlite.db"))
        if ok != [("ok",)]:
            probs.append("sqlite integrity_check: %s" % ok[:3])
        if set(db) != tables:
            probs.append("sqlite tables %s" % sorted(db))
        for t, (cols, n) in db.items():
            if t in expected and (set(cols) != set(expected[t]["fields"])
                                  or n != expected[t]["rows"]):
                probs.append("sqlite %s: %d rows, columns %s" % (t, n, cols))
        for t in tables:
            if "idx_%s__link" % t not in idx:
                probs.append("sqlite index idx_%s__link missing" % t)
        sheets = _xlsx_sheets(os.path.join(out, "output.xlsx"))
        if sheets != {t: e["rows"] for t, e in expected.items()}:
            probs.append("xlsx sheet rows %s" % sheets)
    return probs


def _ids(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    ids = []
    for p in files:
        ids.extend(pq.read_table(p, columns=["doc_id"]).column(0).to_pylist())
    return ids


def check_batches(out, keep, pattern):
    """Per-batch kept id sets. `pattern` formats the batch index into the
    output partition name. Returns (one problem list per batch, number of
    documents kept in all)."""
    result, kept = [], 0
    for b, want in enumerate(keep):
        ids = _ids(os.path.join(out, pattern % b))
        kept += len(ids)
        probs = []
        if len(ids) != len(set(ids)):
            probs.append("batch %d: duplicate kept ids" % b)
        got = set(ids)
        if got != set(want):
            missing = sorted(set(want) - got)[:5]
            extra = sorted(got - set(want))[:5]
            probs.append("batch %d: %d kept, %d expected; missing %s, extra %s"
                         % (b, len(got), len(want), missing, extra))
        result.append(probs)
    return result, kept


def tree_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
    return total


def data_meta_mtimes(out):
    """(latest mtime of a data output, latest mtime of a metadata file)."""
    meta = {"fields.csv", "tables.csv", "datapackage.json"}
    data_t, meta_t = 0.0, 0.0
    for d, _, fs in os.walk(out):
        for f in fs:
            t = os.path.getmtime(os.path.join(d, f))
            if f in meta and d == out:
                meta_t = max(meta_t, t)
            elif not f.startswith(".") and not f.endswith(".crc"):
                data_t = max(data_t, t)
    return data_t, meta_t
