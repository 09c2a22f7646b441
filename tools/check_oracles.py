"""Driver-style correctness harness: run every __spark_entry__ query at a
given sf and compare with its DuckDB oracle (row count + schema-name set +
order-insensitive value hash).  Usage: python tools/check_oracles.py [sf_dir]
[query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

# the checkout this file lives in, so its own __spark_entry__ and kg load
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from kg.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # 'name' selects, '-name' excludes (e.g. the quadratic exact twin at sf1)
    only = {a for a in sys.argv[2:] if not a.startswith("-")}
    skip = {a[1:] for a in sys.argv[2:] if a.startswith("-")}
    # the generated oracles (dim tables, probe keys, synth corpus size) must
    # be derived against the SAME sf_dir the Spark side reads (ADVICE r2)
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if (only and name not in only) or name in skip:
            print(f"{name:24s} SKIPPED") if name in skip else None
            continue
        try:
            df = fn(spark, sf_dir)
            spdf = df.toPandas()
            srows = [tuple(r) for r in spdf.itertuples(index=False)]
            scols = list(spdf.columns)
            sdtypes = {c: str(t) for c, t in spdf.dtypes.items()}
            sn, sh = table_hash(scols, srows)
        except Exception as exc:  # noqa: BLE001
            print(f"{name:24s} SPARK-ERROR {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            tol = getattr(E, "tolerance_oracles", lambda: {})().get(name)
            if tol is None:
                print(f"{name:24s} rows-only   rows={sn}")
                continue
            # bounded-delta witness (VERDICT r4 item 7): approximate by
            # design, but every cell must land within rtol of DuckDB's
            # independent estimate, joined on the exact key columns
            sql, keys, rtol = tol
            try:
                ddf = con.execute(sql).df().set_index(keys)
                spdf2 = spdf.set_index(keys)
                joined = spdf2.join(ddf, lsuffix="_s", rsuffix="_d", how="outer")
                assert len(joined) == len(spdf2) == len(ddf), "key sets differ"
                deltas = []
                for c in spdf2.columns:
                    a, b = joined[f"{c}_s"], joined[f"{c}_d"]
                    deltas.append((abs(a - b) / b.abs().clip(lower=1)).max())
                worst = max(deltas)
                ok = worst <= rtol
                print(
                    f"{name:24s} {'OK ' if ok else 'MISMATCH'} rows={sn}/{len(ddf)} "
                    f"tolerance-check max_rel_delta={worst:.4f} (rtol={rtol})"
                )
                if not ok:
                    failures.append(name)
            except Exception as exc:  # noqa: BLE001
                print(f"{name:24s} TOL-ERROR {type(exc).__name__}: {exc}")
                failures.append(name)
            continue
        try:
            ddf = con.execute(oracles[name]).df()
            dcols = list(ddf.columns)
            ddtypes = {c: str(t) for c, t in ddf.dtypes.items()}
            dn, dh = table_hash(dcols, [tuple(r) for r in ddf.itertuples(index=False)])
        except Exception as exc:  # noqa: BLE001
            print(f"{name:24s} DUCKDB-ERROR {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        # the driver's canonicalizer hashes *pandas* frames, so dtype drift
        # (DuckDB HUGEINT -> object, int32 vs int64) is a real failure even
        # when the stringified values agree — compare dtypes explicitly.
        dtype_ok = sdtypes == ddtypes
        ok = (sn == dn) and (sh == dh) and (sorted(scols) == sorted(dcols)) and dtype_ok
        print(
            f"{name:24s} {'OK ' if ok else 'MISMATCH'} rows={sn}/{dn} "
            f"hash={sh}/{dh} cols={sorted(scols) == sorted(dcols)} dtypes={dtype_ok}"
        )
        if not dtype_ok:
            diff = {
                c: (sdtypes.get(c), ddtypes.get(c))
                for c in set(sdtypes) | set(ddtypes)
                if sdtypes.get(c) != ddtypes.get(c)
            }
            print(f"{'':24s}   dtype diff: {diff}")
        if not ok:
            failures.append(name)
    spark.stop()
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
