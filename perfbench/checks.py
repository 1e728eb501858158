"""Output checks. Each returns {operation: reason} for the failures."""
import glob
import json
import os
import sys

import pyarrow.parquet as pq

TOOLS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools")


def dir_bytes(path):
    """Bytes of the data files under `path` (Spark's markers and
    checksums excluded)."""
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names
                     if not n.startswith((".", "_")))
    return total


def _read(path):
    parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not parts:
        raise ValueError("no parquet part files")
    return [pq.read_table(p) for p in parts]


def _has_field(schema_type, dotted):
    """Does the dotted path exist in an Arrow type (lists are looked
    through)?"""
    t = schema_type
    for name in dotted.split("."):
        while hasattr(t, "value_type"):
            t = t.value_type
        if not hasattr(t, "get_field_index") or t.get_field_index(name) < 0:
            return False
        t = t.field(name).type
    return True


def check_xml(out_dir, manifest):
    """Compare converted Parquet with the generator's manifest: output
    names, one row per document, the file or member name in `file_info`,
    books and copies totals, and the fields the include/exclude paths
    remove. Failures are keyed by input file."""
    bad = {}
    present = set(os.listdir(out_dir)) if os.path.isdir(out_dir) else set()
    outputs = manifest["outputs"]
    for name in sorted(set(outputs) - present):
        bad[outputs[name][0]] = "output %s missing" % name
    for name in sorted(present - set(outputs)):
        bad[name] = "unexpected output"
    books = copies = 0
    for name in sorted(set(outputs) & present):
        source, info_name = outputs[name]
        try:
            tables = _read(os.path.join(out_dir, name))
        except Exception as e:  # noqa: BLE001 - any read error fails the file
            bad[source] = "%s unreadable: %s" % (name, e)
            continue
        rows = sum(t.num_rows for t in tables)
        if rows != 1:
            bad[source] = "%s has %d rows, expected 1" % (name, rows)
            continue
        root = tables[0].schema.field("bookOrder").type
        for path in manifest["absent_fields"]:
            if _has_field(root, path.split(".", 1)[1]):
                bad[source] = "%s: field %s not excluded" % (name, path)
        info = tables[0].column("file_info").to_pylist()[0]["name"]
        if info != info_name:
            bad[source] = "%s: file_info.name %s != %s" % (name, info, info_name)
        for t in tables:
            for doc in t.column("bookOrder").to_pylist():
                for book in ((doc.get("books") or {}).get("book") or []):
                    books += 1
                    copies += book["copies"]
    if not bad and (books, copies) != (manifest["books"], manifest["sum_copies"]):
        bad["aggregates"] = "books %d copies %d, expected %d and %d" % (
            books, copies, manifest["books"], manifest["sum_copies"])
    return bad


def check_queries(sf_dir, verify_dir, queries):
    """Compare each query's dumped result with its DuckDB oracle at the
    same scale factor, as tools/check_oracle.py does; queries without
    oracle SQL get a row-count check only."""
    sys.path.insert(0, TOOLS)
    import duckdb
    from check_oracle import TABLES, canon
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(sf_dir, t + ".parquet")
        if os.path.isfile(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for q in dict.fromkeys(queries):
        path = os.path.join(verify_dir, q)
        if not glob.glob(os.path.join(path, "*.parquet")):
            bad[q] = "no result written"
            continue
        try:
            got = con.sql("SELECT * FROM read_parquet('%s/*.parquet')" % path)
            got_cols = sorted(got.columns)
            got_rows = con.sql("SELECT %s FROM got" % ", ".join(
                '"%s"' % c for c in got_cols)).fetchall()
            sql = oracles.get(q)
            if sql is None:
                if not got_rows:
                    bad[q] = "no rows"
                continue
            exp = con.sql(sql)
            exp_cols = sorted(exp.columns)
            exp_rows = con.sql("SELECT %s FROM exp" % ", ".join(
                '"%s"' % c for c in exp_cols)).fetchall()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            bad[q] = "exception %s" % str(e).splitlines()[0]
            continue
        if got_cols != exp_cols:
            bad[q] = "columns %s != %s" % (got_cols, exp_cols)
        elif len(got_rows) != len(exp_rows):
            bad[q] = "rows %d != %d" % (len(got_rows), len(exp_rows))
        else:
            for i, (g, e) in enumerate(zip(got_rows, exp_rows)):
                if tuple(map(canon, g)) != tuple(map(canon, e)):
                    bad[q] = "row %d differs" % i
                    break
    return bad
