"""Driver-session parity: analyze EVERY registered query under a
session built with NO engine confs (the driver's shape).

The round-2 TIMESTAMP_NTZ failure (CORRECTNESS_r02 sessionize_events)
lived because the builder's sessions and the driver's resolved parquet
timestamps to different types: pytest and oracle_check both passed
while the driver hard-failed at analysis. This script is the
regression gate: it must run in a FRESH process (a same-process
"vanilla" builder would getOrCreate the already-tuned session), so
tests/test_vanilla_parity.py invokes it via subprocess.

Two passes, same JVM:

1. **driver emulation** — bare builder; the registry's ``query`` wrapper
   applies ``tune(spark)`` before every query body, so this catches any
   query that depends on a builder-only conf.
2. **NTZ hard mode** — ``inferTimestampNTZ`` is removed from
   RUNTIME_CONF and forced true, so every scan really yields
   TIMESTAMP_NTZ and ``catalog._normalize_ntz`` must absorb it;
   catches arithmetic that would reject NTZ inputs.

Analysis-only (``df.schema``): AnalysisException (the failure class
that bit round 2) surfaces without paying execution, so the whole
registry checks in seconds. Exit 0 = all queries analyze in both
passes.

Usage: python tools/vanilla_parity.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from etl_inreach_spark import session as session_mod  # noqa: E402
from etl_inreach_spark.queries import all_queries  # noqa: E402


def analyze_all(spark: SparkSession, sf_dir: str, label: str) -> list[str]:
    failed = []
    for name, fn in all_queries().items():
        try:
            df = fn(spark, sf_dir)
            _ = df.schema  # forces analysis/resolution
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL [{label}] {name}: {type(e).__name__}: {e}")
    return failed


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("vanilla-parity")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    failed = analyze_all(spark, sf_dir, "vanilla")
    print(f"pass 1 (vanilla driver session): {len(failed)} failures")

    # Pass 2: force NTZ inference back on and stop tune() from turning
    # it off, so scans genuinely produce TIMESTAMP_NTZ columns.
    session_mod.RUNTIME_CONF.pop("spark.sql.parquet.inferTimestampNTZ.enabled", None)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    failed_ntz = analyze_all(spark, sf_dir, "ntz-forced")
    print(f"pass 2 (NTZ-forced session): {len(failed_ntz)} failures")

    bad = failed + failed_ntz
    print(f"TOTAL {len(bad)} failures" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
