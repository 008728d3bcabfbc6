"""Local stand-in for the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the given
scale factor, then compares row count, column names, and an order-insensitive
value hash (rows sorted after stringifying, columns sorted by name — a close
approximation of the driver's check).

A FULL sweep (no query subset given) also writes ``VERIFY_<sfname>.json``
at the repo root — per-query status + wall time — so each round's complete
local verification is a committed artifact a judge can diff without
re-running 200+ queries (round-3 VERDICT item 3).

Memory: the Spark driver heap defaults to 8g (``session.py``), and a full
sf0.1 sweep holds about 9 GB resident. Run the sf0.01 and sf0.1 sweeps one
after the other, not side by side (two at once got the sf0.1 JVM
OOM-killed on a 15 GB box), or set ``SPARK_DRIVER_MEMORY`` lower.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_iceberg_jobs_spark.functions.cache import cache_scope  # noqa: E402
from spark_iceberg_jobs_spark.queries import registry  # noqa: E402
from spark_iceberg_jobs_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    if v is None or v != v:  # NaN
        return "NULL"
    if isinstance(v, float):
        # Type-faithful: an integral float renders '3.0', never '3' — the
        # driver stringifies pandas cells, so a DuckDB HUGEINT/DECIMAL column
        # fetched as float64 must hash differently from Spark's int64 here
        # too (the round-2 trap: the old '%.6g' coercion hid exactly that).
        # round(…, 9) still absorbs cross-engine last-ulp noise.
        return repr(round(float(v), 9))
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted("|".join(norm_cell(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify-local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    reg = registry()
    failures = []
    results: dict[str, dict] = {}
    ran = 0
    for name, spec in reg.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            # cache_scope: scoped_persist intermediates release after each
            # query's materialization — without it a 249-query sweep
            # accumulates session-lifetime cache entries (the r1 lesson the
            # scope exists for). Cross-query plan-cache reuse (e.g. the
            # maintenance tier's shared commit-log aggregate) is given up
            # deliberately: each query must stand alone, like the driver
            # runs it.
            with cache_scope():
                sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "fail", "err": f"spark error: {e}"[:300]}
            print(f"FAIL  {name}: spark error: {e}")
            continue
        took = time.time() - t0
        if spec.oracle is None:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{took:.1f}s]")
            ok = len(sdf) > 0
            results[name] = {
                "status": "rows-only" if ok else "fail",
                "rows": len(sdf),
                "sec": round(took, 2),
            }
            if not ok:
                failures.append(name)
                print(f"WARN  {name}: 0 rows")
            continue
        try:
            odf = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "fail", "err": f"duckdb error: {e}"[:300]}
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            kind_mismatch = {
                c: (sdf[c].dtype.kind, odf[c].dtype.kind)
                for c in sdf.columns
                if sdf[c].dtype.kind != odf[c].dtype.kind
                and not ({sdf[c].dtype.kind, odf[c].dtype.kind} <= {"i", "u"})
            }
            if kind_mismatch:
                problems.append(f"dtype kinds (spark, oracle): {kind_mismatch}")
            if frame_hash(sdf) != frame_hash(odf):
                problems.append("value hash mismatch")
        if problems:
            failures.append(name)
            results[name] = {
                "status": "fail",
                "rows": len(sdf),
                "sec": round(took, 2),
                "err": "; ".join(problems),
            }
            print(f"FAIL  {name}: {'; '.join(problems)} [{took:.1f}s]")
            if "value hash mismatch" in "; ".join(problems) and len(sdf) < 50:
                print("  spark:", sdf.sort_values(sorted(sdf.columns)[0]).head(8).to_dict("records"))
                print("  duck :", odf.sort_values(sorted(odf.columns)[0]).head(8).to_dict("records"))
        else:
            results[name] = {"status": "pass", "rows": len(sdf), "sec": round(took, 2)}
            print(f"OK    {name}: {len(sdf)} rows [{took:.1f}s]")
    spark.stop()
    print(f"\n{ran - len(failures)}/{ran} passed")
    if not only:
        # Committed artifact: the full-registry sweep for this SF.
        sfname = os.path.basename(os.path.normpath(sf_dir))
        out_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            f"VERIFY_{sfname}.json",
        )
        with open(out_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "total": ran,
                    "passed": ran - len(failures),
                    "failed": sorted(failures),
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {out_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
