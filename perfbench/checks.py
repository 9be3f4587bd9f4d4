"""Output checks: every answer the program gave in a run, judged against a
computation made apart from it, in DuckDB.

Rows are compared as sorted multisets of canonical strings over columns
sorted by name (the scheme of tools/check.py). Decimals keep their scale.
Doubles are compared to 12 significant digits: a parallel floating sum is
not bit-reproducible across engines or input orders. Where a model stores
a decimal that the oracle casts to DOUBLE, both sides are compared as
numbers (`loose`).
"""
import datetime
import decimal
import math
from pathlib import Path


def cell(v, loose=False):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.12g}" if loose else str(v)
    if loose and isinstance(v, int):
        return f"{float(v):.12g}"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x, loose) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(x, loose)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon(table, loose=False, rename=None):
    """(sorted column names, sorted row tuples) of an Arrow table."""
    rename = rename or {}
    names = [rename.get(c, c) for c in table.column_names]
    data = dict(zip(names, (table.column(i).to_pylist()
                            for i in range(table.num_columns))))
    cols = sorted(names)
    rows = sorted(tuple(cell(data[c][i], loose) for c in cols)
                  for i in range(table.num_rows))
    return cols, rows


def diff(label, mine, ref):
    """None if equal, else a one-line description."""
    (mc, mr), (rc, rr) = mine, ref
    if mc != rc:
        return f"{label}: columns {mc} != {rc}"
    if len(mr) != len(rr):
        return f"{label}: {len(mr)} rows != {len(rr)}"
    bad = [i for i, (x, y) in enumerate(zip(mr, rr)) if x != y]
    if bad:
        return (f"{label}: {len(bad)}/{len(rr)} rows differ, e.g. "
                f"{dict(zip(mc, mr[bad[0]]))} != {dict(zip(rc, rr[bad[0]]))}")
    return None


def parquet_dir(path):
    """A parquet directory as DuckDB reads it: data files at any depth,
    `date_key=` directories as a DATE column."""
    p = Path(path)
    if not any(p.rglob("*.parquet")):
        raise ValueError(f"{path} holds no parquet file")
    hive = any(d.is_dir() and "=" in d.name for d in p.iterdir())
    opts = ", hive_partitioning=true, hive_types={'date_key': DATE}" if hive else ""
    return f"read_parquet('{p}/**/*.parquet'{opts})"


def raw_views(con, input_dir):
    for f in sorted(Path(input_dir).glob("*.parquet")):
        con.sql(f"CREATE OR REPLACE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")


def guarded(problems, label, fn):
    try:
        p = fn()
        if p:
            problems.append(p)
    except Exception as e:  # an unreadable output is a failed check
        problems.append(f"{label}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")


def check_kin(res, input_dir, con):
    s = res["strs"]
    problems = []
    raw_views(con, input_dir)
    models = s["models"].split(",")
    wh, pre = Path(s["warehouse"]), Path(s["pre_repair"])

    # twin models: target == the twin query's oracle, cut at the cadence gate
    for m in models:
        if f"twin.{m}" not in s:
            continue

        def twin(m=m):
            ref = con.sql(s[f"twin_sql.{m}"])
            rename = {"period_key": "date_key"} if "period_key" in ref.columns else {}
            key = "period_key" if rename else "date_key"
            ref = con.sql(f"SELECT * FROM ({s[f'twin_sql.{m}']}) o "
                          f"WHERE {key} < DATE '{s[f'twin_cut.{m}']}'").arrow()
            mine = con.sql(f"SELECT * FROM {parquet_dir(wh / m)}").arrow()
            return diff(f"twin {m} vs {s[f'twin.{m}']}",
                        canon(mine, loose=True), canon(ref, loose=True, rename=rename))
        guarded(problems, f"twin {m}", twin)

    # repair + refill restores the pre-repair warehouse row for row
    for m in models:
        guarded(problems, f"repair {m}", lambda m=m: diff(
            f"repair {m}",
            canon(con.sql(f"SELECT * FROM {parquet_dir(wh / m)}").arrow()),
            canon(con.sql(f"SELECT * FROM {parquet_dir(pre / m)}").arrow())))

    # serving tables == their model after the renames
    for key in (k for k in s if k.startswith("serving.")):
        table = key.split(".", 1)[1]
        model = s[key]
        renames = dict(kv.split("=") for kv in s[f"renames.{table}"].split(",") if kv)

        def serving(table=table, model=model, renames=renames):
            src = con.sql(f"SELECT * FROM {parquet_dir(wh / model)}").arrow()
            names = {c: renames.get(c, camel(c)) for c in src.column_names}
            sink = con.sql(f"SELECT * FROM {parquet_dir(Path(s['serving_dir']) / table)}").arrow()
            return diff(f"serving {table}", canon(sink), canon(src, rename=names))
        guarded(problems, f"serving {table}", serving)

    # the read mix == DuckDB over the same warehouse parquet
    for m in models:
        con.sql(f"CREATE OR REPLACE VIEW {m} AS SELECT * FROM {parquet_dir(wh / m)}")
    for key in (k for k in s if k.startswith("clone.")):
        con.sql(f"CREATE OR REPLACE VIEW {key.split('.', 1)[1]} AS SELECT * FROM {s[key]}")
    for key in sorted((k for k in s if k.startswith("serve.")), key=lambda k: int(k.split(".")[1])):
        i = key.split(".")[1]
        guarded(problems, f"read {i}", lambda i=i, sql=s[key]: diff(
            f"read {i} ({sql.splitlines()[0][:60]})",
            canon(con.sql(f"SELECT * FROM {parquet_dir(Path(s['serve_out']) / i)}").arrow()),
            canon(con.sql(sql).arrow())))
    return problems


def camel(c):
    """snake_case → camelCase, as the serving replication names columns."""
    parts = c.split("_")
    return parts[0] + "".join(p[:1].upper() + p[1:] for p in parts[1:])


def check_queries(res, input_dir, con):
    s = res["strs"]
    problems = []
    raw_views(con, input_dir)
    for key in sorted(k for k in s if k.startswith("oracle.")):
        n = key.split(".", 1)[1]
        guarded(problems, n, lambda n=n, sql=s[key]: diff(
            n,
            canon(con.sql(f"SELECT * FROM {parquet_dir(Path(s['qout']) / n)}").arrow()),
            canon(con.sql(sql).arrow())))
    if not any(k.startswith("oracle.") for k in s):
        problems.append("no query answer to check")
    return problems


def check(workload, res, input_dir, con):
    """Every problem found in a run's outputs (empty: all correct)."""
    if workload == "kin_daily":
        return check_kin(res, input_dir, con)
    return check_queries(res, input_dir, con)
