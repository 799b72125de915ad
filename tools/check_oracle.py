#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify first
(writes <out>/<query>/ parquet + oracle_sql.json), then this script replays
each oracle SQL in DuckDB over the same sf dir and compares result sets
(columns sorted by name, rows sorted, values compared with a small float
tolerance report — strict equality is what we aim for)."""
import sys, json, glob, math, re
import duckdb

CTE_HEAD = re.compile(r"(\w+)\s+AS\s+\(", re.I)
CTE_SEP = re.compile(r"\s*,\s*")


def close_paren(sql, i):
    """Index just past the ')' closing the '(' that ends at `i`."""
    depth, quoted = 1, False
    while depth:
        c = sql[i]
        if c == "'":
            quoted = not quoted
        elif not quoted:
            depth += {"(": 1, ")": -1}.get(c, 0)
        i += 1
    return i


def materialize_ctes(sql):
    """Marks every non-recursive CTE of a WITH RECURSIVE query AS MATERIALIZED.
    DuckDB 1.0 otherwise inlines each of them at every reference, and the
    deepest KG oracles (q_episodes, q_export_graph) run out of memory
    re-deriving small CTEs many times over. A CTE whose body names itself is
    recursive and stays as written; the results do not change."""
    m = re.match(r"\s*WITH\s+RECURSIVE\s+", sql, re.I)
    if not m:
        return sql
    out, i = [sql[:m.end()]], m.end()
    while d := CTE_HEAD.match(sql, i):
        end = close_paren(sql, d.end())
        mat = "" if re.search(rf"\b{d.group(1)}\b", sql[d.end():end]) else "MATERIALIZED "
        out.append(sql[i:d.end() - 1] + mat + sql[d.end() - 1:end])
        i = end
        if not (sep := CTE_SEP.match(sql, i)):
            break
        out.append(sql[i:sep.end()])
        i = sep.end()
    return "".join(out) + sql[i:]


outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/vout"
sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = p.split("/")[-1].replace(".parquet", "")
    con.execute(f"create view {name} as select * from '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = []
for q, sql in sorted(oracle.items()):
    try:
        spark_df = con.execute(
            f"select * from read_parquet('{outdir}/{q}/*.parquet')").fetchdf()
        duck_df = con.execute(materialize_ctes(sql)).fetchdf()
    except Exception as e:
        fails.append(q); print(f"{q:24s} ERROR {str(e)[:140]}"); continue
    sc = sorted(spark_df.columns); dc = sorted(duck_df.columns)
    if sc != dc:
        fails.append(q); print(f"{q:24s} SCHEMA spark={sc} duck={dc}"); continue
    a = spark_df[sc].sort_values(sc).reset_index(drop=True)
    b = duck_df[dc].sort_values(dc).reset_index(drop=True)
    if len(a) != len(b):
        fails.append(q); print(f"{q:24s} ROWS spark={len(a)} duck={len(b)}"); continue
    bad = None
    for c in sc:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None and y is None: continue
            try:
                if isinstance(x, float) or isinstance(y, float):
                    if not (x == y or (isinstance(x, float) and isinstance(y, float)
                            and (math.isnan(x) and math.isnan(y) or abs(x - y) < 1e-12))):
                        bad = (c, i, x, y); break
                elif str(x) != str(y):
                    bad = (c, i, x, y); break
            except Exception:
                bad = (c, i, x, y); break
        if bad: break
    if bad:
        fails.append(q)
        print(f"{q:24s} VALUE col={bad[0]} row={bad[1]} spark={bad[2]!r} duck={bad[3]!r}")
    else:
        print(f"{q:24s} OK rows={len(a)}")
print(f"\n{len(oracle) - len(fails)}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
