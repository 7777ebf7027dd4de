"""Small-file compaction — the third leg of the table-maintenance
triad (compact + cluster [operators/zorder] + bucket [sinks/bucketed]).

Streaming sinks, incremental appends (operators/incremental_dedup
state) and over-parallel writes all accrete files far below the
scan-efficient size; at 100 TB the cost is real: every file is a scan
task, a footer fetch and an open — a million 1 MB files turn a scan
into task-scheduling overhead, and zonemap metadata grows with file
count, not data. OPTIMIZE-style compaction rewrites many small files
into few target-sized ones.

Design points, each load-bearing at scale:

* SHUFFLE-FREE: ``coalesce`` merges read-partitions without an
  exchange — each output task concatenates several input files.
  Compaction must never pay a shuffle; re-CLUSTERING (which does) is
  ``write_zordered``'s job, and the two compose by compacting first.
* Sizing comes from filesystem METADATA (one driver-bounded listing
  via the Hadoop FS API — same discipline as the footer-only zonemap
  audit): target output count = ceil(total_bytes / target_bytes).
* The swap is directory-rename based and NOT transactional — a
  reader racing the swap can glimpse a missing directory. Real
  lakehouse tables get atomicity from the table format's commit
  protocol (Delta/Iceberg snapshot swap); this operator is the
  rewrite kernel underneath, and says so rather than pretending.
  The rewrite lands fully in a temp dir first, so a crash before the
  swap leaves the original intact.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from etl_inreach_spark.sinks.upsert import _hadoop_fs


def parquet_file_stats(spark: SparkSession, path: str) -> "list[tuple[str, int]]":
    """(name, bytes) for each data file in a parquet directory, from
    one filesystem listing — no file contents touched."""
    fs, jpath = _hadoop_fs(spark, path)
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith("_"):
            out.append((name, int(st.getLen())))
    return out


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite ``path`` so files approach ``target_file_bytes``.
    No-op (and says so) when the directory already has fewer output
    files than would be written — compaction must be idempotent and
    cheap to call from a scheduler. Returns a stats dict
    {files_before, files_after, bytes, compacted}."""
    before = parquet_file_stats(spark, path)
    total = sum(b for _, b in before)
    n_out = max(1, math.ceil(total / target_file_bytes))
    if len(before) <= n_out:
        return {
            "files_before": len(before),
            "files_after": len(before),
            "bytes": total,
            "compacted": False,
        }
    tmp = path.rstrip("/") + "__compact_tmp"
    spark.read.parquet(path).coalesce(n_out).write.mode("overwrite").parquet(tmp)
    fs, jsrc = _hadoop_fs(spark, path)
    _, jtmp = _hadoop_fs(spark, tmp)
    fs.delete(jsrc, True)
    fs.rename(jtmp, jsrc)
    after = parquet_file_stats(spark, path)
    return {
        "files_before": len(before),
        "files_after": len(after),
        "bytes": total,
        "compacted": True,
    }
