"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB at
sf0.01; compare row count, column set, and values (order-insensitive).

Run: python scripts/check_oracles.py [query ...]

A machine-readable artifact of the run is written as JSON so each
round's full-registry oracle evidence is committed in-repo (merged per
scale point under the sf-dir basename key).  Path: $TEI_ORACLES_OUT,
defaulting to ORACLES_latest.json for full-suite runs; subset runs
write no artifact unless TEI_ORACLES_OUT is set explicitly.
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git_head() -> str:
    try:
        import subprocess

        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=ROOT, timeout=10,
        ).stdout.strip()
    except Exception:
        return ""

import duckdb
import pandas as pd

sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from tei_chunker_spark.sources.session import get_spark  # noqa: E402
from tei_chunker_spark.sources.tables import TABLES  # noqa: E402

SF_DIR = os.environ.get("TEI_ORACLE_SF_DIR", "/root/testdata/sf0.01")


from tei_chunker_spark.testing import normalize_for_compare as normalize


def main() -> None:
    only = set(sys.argv[1:])
    # Fail loudly on names that match nothing — a typo'd or flag-like
    # argument (e.g. "--only") must not yield a vacuous "ALL PASSED".
    unknown = only - set(entrymod.queries())
    if unknown:
        print(f"unknown query names: {sorted(unknown)}")
        sys.exit(2)
    spark = get_spark("oracle-check", master="local[16]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append(name)
            results[name] = {"pass": False, "err": f"spark: {type(e).__name__}"}
            print(f"[SPARK ERROR] {name}: {type(e).__name__}: {str(e)[:400]}")
            continue
        if name not in oracles:
            results[name] = {"pass": True, "rows_only": True, "spark_rows": len(sdf)}
            print(f"[rows-only ] {name}: {len(sdf)} rows, cols={list(sdf.columns)}")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            results[name] = {"pass": False, "err": f"oracle: {type(e).__name__}"}
            print(f"[ORACLE ERR] {name}: {type(e).__name__}: {str(e)[:400]}")
            continue
        status = []
        if len(sdf) != len(odf):
            status.append(f"rowcount {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            status.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not status:
            a, b = normalize(sdf), normalize(odf)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, rtol=0, atol=0)
            except AssertionError as e:
                status.append("values differ")
                diff_cols = [
                    c for c in a.columns if not a[c].equals(b[c])
                ]
                print(f"  diff cols: {diff_cols}")
                for c in diff_cols[:2]:
                    mask = a[c] != b[c]
                    print(f"  {c}: spark={a[c][mask].head(3).tolist()} duck={b[c][mask].head(3).tolist()}")
        # per-entry ts + git head (round-6 advisory): the artifact merges
        # results across runs, so each entry carries its own recording
        # moment — stale evidence is detectable per query, not just per
        # file.
        stamp = {"ts": int(time.time()), "git": _git_head()}
        if status:
            failures.append(name)
            results[name] = {
                "pass": False,
                "spark_rows": len(sdf),
                "oracle_rows": len(odf),
                "err": "; ".join(status),
                **stamp,
            }
            print(f"[MISMATCH  ] {name}: {'; '.join(status)}")
        else:
            results[name] = {
                "pass": True,
                "spark_rows": len(sdf),
                "oracle_rows": len(odf),
                **stamp,
            }
            print(f"[OK        ] {name}: {len(sdf)} rows")
    print()

    out_path = os.environ.get("TEI_ORACLES_OUT") or (
        None if only else os.path.join(ROOT, "ORACLES_latest.json")
    )
    if out_path:
        artifact = {}
        if os.path.exists(out_path):
            try:
                with open(out_path) as fh:
                    artifact = json.load(fh)
            except (OSError, ValueError):
                artifact = {}
        sf_label = os.path.basename(SF_DIR.rstrip("/"))
        prior = artifact.get(sf_label, {}).get("results", {})
        prior.update(results)
        artifact[sf_label] = {
            "ts": int(time.time()),
            "n_registry": len(queries),
            "n_checked": len(prior),
            "n_failed": sum(1 for r in prior.values() if not r.get("pass")),
            "results": prior,
        }
        with open(out_path, "w") as fh:
            json.dump(artifact, fh, indent=1, sort_keys=True)
        print(f"artifact: {out_path} [{sf_label}]")

    if failures:
        print("FAILED:", failures)
        sys.exit(1)
    print("ALL ORACLE CHECKS PASSED")


if __name__ == "__main__":
    main()
