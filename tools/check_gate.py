"""Local mirror of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf dir, runs the
matching oracle_sql() in DuckDB over the same parquet views, and compares
row count + column names + order-insensitive values (normalized to
strings). Usage: python tools/check_gate.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v):
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return str(v)


def canon_type(t: str) -> str:
    """Canonicalize a Spark simpleString / DuckDB description type name so
    cross-engine result-type drift (HUGEINT vs BIGINT, DECIMAL(38,2) vs
    DECIMAL(28,2)) is caught locally — the driver's value-hash is
    type-sensitive, so types must MATCH exactly, not just compare equal."""
    t = t.strip().lower().replace(" ", "")
    alias = {
        "varchar": "string",
        "integer": "int",
        "long": "bigint",
        "timestampwithtimezone": "timestamp",
        "timestamp_ns": "timestamp",
        "timestamp_ntz": "timestamp",
        "blob": "binary",
    }
    return alias.get(t, t)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )


def main():
    # --extra: check the extra_queries() registry (single-operator
    # variants folded out of the 50-entry driver registry) instead;
    # --all: both registries.
    argv = [a for a in sys.argv[1:]]
    use_extra = "--extra" in argv
    use_all = "--all" in argv
    argv = [a for a in argv if a not in ("--extra", "--all")]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark(app_name="gate-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    if use_all:
        qs = {**E.queries(), **E.extra_queries()}
        oracles = {**E.oracle_sql(), **E.extra_oracle_sql()}
    elif use_extra:
        qs = E.extra_queries()
        oracles = E.extra_oracle_sql()
    else:
        qs = E.queries()
        oracles = E.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = {
                f.name: canon_type(f.dataType.simpleString())
                for f in sdf.schema.fields
            }
            srows = sdf.collect()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {str(ex)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = {
                c: canon_type(str(t)) for c, t in zip(rel.columns, rel.types)
            }
            drows = rel.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex)[:300]}")
            n_fail += 1
            continue
        ok = True
        msgs = []
        if sorted(scols) != sorted(dcols):
            ok = False
            msgs.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            tdiff = {
                c: (stypes[c], dtypes[c])
                for c in scols
                if stypes[c] != dtypes[c]
            }
            if tdiff:
                ok = False
                msgs.append(f"TYPE drift {tdiff}")
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rows spark={len(srows)} duck={len(drows)}")
        if ok:
            a = norm_rows(scols, [tuple(r) for r in srows])
            b = norm_rows(dcols, drows)
            if a != b:
                ok = False
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                msgs.append(f"values differ, first diffs: {diff}")
        if ok:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL  {name}: {'; '.join(msgs)}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
