"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row count, column names/types, and an order-insensitive value hash.

Covers BOTH registries: the driver-gated queries() (capped at 50 by the
driver) and extra_queries() (consolidated-away baselines/variants) — so
every twinned query stays verified locally even when outside the gate.

Usage: python tools/check_oracles.py [--json FILE] [sf_dir] [query ...]
--json writes a CORRECTNESS-style per-query artifact (committable
evidence for the extras the driver never sees). Each entry also carries
``spark_hash``, the Spark side's value hash, so two checkouts' runs can
be compared query by query even where no oracle exists.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# Canonical type names for the cross-engine schema check (CLAUDE.md: the
# real driver gate compares types — INT vs BIGINT must fail locally too).
_SPARK_TYPES = {
    "tinyint": "i8", "smallint": "i16", "int": "i32", "bigint": "i64",
    "float": "f32", "double": "f64", "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "timestamp", "binary": "bytes",
}
_DUCK_TYPES = {
    "TINYINT": "i8", "SMALLINT": "i16", "INTEGER": "i32", "BIGINT": "i64",
    "FLOAT": "f32", "DOUBLE": "f64", "VARCHAR": "str", "BOOLEAN": "bool",
    "DATE": "date", "TIMESTAMP": "timestamp", "BLOB": "bytes",
}


def _canon_types(pairs, table):
    """[(name, engine_type)] → {name: canonical} for mapped types only."""
    out = {}
    for name, t in pairs:
        c = table.get(str(t))
        if c is not None:
            out[name.lower()] = c
    return out


def _norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:                     # position-independent: a
        i = args.index("--json")             # trailing --json used to be
        if i + 1 >= len(args):               # swallowed as a query
            sys.exit("usage: check_oracles.py [sf_dir] [query ...] "
                     "[--json OUT.json]  (--json requires a path)")
        json_out = args[i + 1]               # filter (vacuous ALL-PASS)
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    assert not any(a.startswith("-") for a in only), only

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from rdf_rdfxml_spark.plans.pipeline import default_session

    spark = default_session(app="oracle-check",
                            master=f"local[{len(os.sched_getaffinity(0))}]",
                            shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = dict(entrymod.queries())
    gated = set(qs)
    n_gated = len(qs)
    assert n_gated <= 50, (
        f"queries() has {n_gated} entries — the driver gate checks only "
        "the first 50; consolidate (round-3 verdict next-round #1)")
    oracles = dict(entrymod.oracle_sql())
    if hasattr(entrymod, "extra_queries"):
        qs.update(entrymod.extra_queries())
        oracles.update(entrymod.extra_oracle_sql())
    print(f"[gate] {n_gated} driver-gated + {len(qs) - n_gated} extra")
    results = {}
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            scols_l = [c.lower() for c in scols]
            sh = value_hash([tuple(r) for r in srows], scols_l)
        except Exception as e:
            failures.append(name)
            results[name] = {"err": f"spark: {type(e).__name__}"}
            print(f"FAIL {name}: spark raised {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in oracles:
            results[name] = {"rows_only": len(srows), "spark_hash": sh,
                             "gated": name in gated, "err": None}
            print(f"SKIP {name}: no oracle (rows-only: {len(srows)})")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [c.lower() for c in res.columns]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            results[name] = {"err": f"duckdb: {str(e)[:120]}",
                             "spark_hash": sh}
            print(f"FAIL {name}: duckdb raised: {str(e)[:200]}")
            continue
        problems = []
        if sorted(scols_l) != sorted(ocols):
            problems.append(f"columns {sorted(scols_l)} != {sorted(ocols)}")
        else:
            stypes = _canon_types(sdf.dtypes, _SPARK_TYPES)
            otypes = _canon_types(zip(res.columns, res.types), _DUCK_TYPES)
            for c in sorted(set(stypes) & set(otypes)):
                if stypes[c] != otypes[c]:
                    problems.append(
                        f"type mismatch on {c}: spark {stypes[c]} "
                        f"!= duckdb {otypes[c]}")
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if not problems:
            oh = value_hash(orows, ocols)
            if sh != oh:
                problems.append("value hash mismatch")
                # show a sample diff
                sset = {tuple(map(_norm, r)) for r in
                        ([r[i] for i in sorted(range(len(scols_l)),
                          key=lambda i: scols_l[i])] for r in srows)}
                oset = {tuple(map(_norm, r)) for r in
                        ([r[i] for i in sorted(range(len(ocols)),
                          key=lambda i: ocols[i])] for r in orows)}
                for x in list(sset - oset)[:3]:
                    print(f"   spark-only: {x}")
                for x in list(oset - sset)[:3]:
                    print(f"   oracle-only: {x}")
        results[name] = {
            "rows_match": len(srows) == len(orows),
            "schema_match": not any("columns" in p or "type" in p
                                    for p in problems),
            "hash_match": not problems,
            "spark_rows": len(srows), "oracle_rows": len(orows),
            "spark_hash": sh, "gated": name in gated, "err": None,
        }
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"PASS {name} ({len(srows)} rows)")
    print(f"\n{len(failures)} failures" if failures
          else "\nALL ORACLE CHECKS PASS")
    if json_out:
        import json
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_gated": n_gated,
                       "results": results}, f, indent=1)
        print(f"wrote {json_out}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
