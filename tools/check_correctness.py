"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row count + column names + order-insensitive values.

Usage: python tools/check_correctness.py [--json OUT.json] [sf_dir] [query ...]

With ``--json`` the per-entry outcomes are also written in the driver's
CORRECTNESS_r{N}.json shape, so a full-registry run can be committed as
round evidence for entries outside the driver's ~50-entry window.
"""

from __future__ import annotations

import json
import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            # unify pandas resolution (Spark->ns, DuckDB->us) — values equal
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(got.columns) != sorted(exp.columns):
        return [f"columns differ: spark={sorted(got.columns)} oracle={sorted(exp.columns)}"]
    if len(got) != len(exp):
        problems.append(f"row count differs: spark={len(got)} oracle={len(exp)}")
        return problems
    g, e = normalize(got), normalize(exp)
    for c in g.columns:
        gd, ed = str(g[c].dtype), str(e[c].dtype)
        if gd != ed:
            problems.append(f"col {c}: dtype differs spark={gd} oracle={ed}")
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            bad = [
                (a, b)
                for a, b in zip(gv, ev)
                if not (
                    (pd.isna(a) and pd.isna(b))
                    or (a == b)
                    or (isinstance(a, float) and isinstance(b, float) and math.isclose(a, b, rel_tol=0, abs_tol=0))
                )
            ]
            if bad:
                problems.append(f"col {c}: {len(bad)} exact-mismatches, first={bad[0]}")
        else:
            neq = (gv.astype(str) != ev.astype(str))
            if neq.any():
                i = int(neq.idxmax())
                problems.append(f"col {c}: {int(neq.sum())} mismatches, first at row {i}: spark={gv[i]!r} oracle={ev[i]!r}")
    return problems


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    confs: list[str] = []
    while argv and argv[0] in ("--json", "--conf"):
        if len(argv) < 2:
            print(f"usage: {argv[0]} requires a value "
                  "(--json OUT.json | --conf key=value)")
            return 2
        if argv[0] == "--json":
            json_out = argv[1]
        else:
            # --conf k=v (repeatable): session confs applied before the
            # run — used by the cross-scale gate to force the SCALE side
            # of adaptive-dispatch forks (chunked ntile, open-vocab
            # jaccard/containment) against the same oracles
            if "=" not in argv[1]:
                print(f"usage: --conf value must be key=value, got {argv[1]!r}")
                return 2
            confs.append(argv[1])
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry_mod
    from poc_spark.session import get_spark

    spark = get_spark("check-correctness")
    for kv in confs:
        k, v = kv.split("=", 1)
        spark.conf.set(k, v)
        print(f"CONF {k}={v}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    from poc_spark import contract

    # oracle_sql_for re-renders sf-dependent oracles (the persisted IVF
    # index path) for the sf_dir under test; the driver itself always
    # runs the static sf0.01 strings from entry_mod.oracle_sql().
    qs, oracles = entry_mod.queries(), contract.oracle_sql_for(sf_dir)
    failures = 0
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            records[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": None,
                             "oracle_rows": None, "err": f"spark: {exc}"[:300]}
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS {name}: rows={len(got)} (no oracle — rows-only check)")
            records[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": len(got),
                             "oracle_rows": None, "err": None,
                             "no_oracle": True}
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {exc}")
            failures += 1
            records[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": len(got),
                             "oracle_rows": None, "err": f"oracle: {exc}"[:300]}
            continue
        problems = compare(name, got, exp)
        records[name] = {
            "rows_match": len(got) == len(exp),
            "schema_match": sorted(got.columns) == sorted(exp.columns),
            "hash_match": not problems,
            "spark_rows": len(got),
            "oracle_rows": len(exp),
            "err": "; ".join(problems)[:300] or None,
        }
        if problems:
            failures += 1
            print(f"FAIL {name}:")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"OK   {name}: rows={len(got)}")
    spark.stop()
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(records, fh, indent=2)
        print(f"wrote {json_out} ({len(records)} entries)")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
