"""Parquet compaction job: bin the small-file problem away.

A long-lived incremental pipeline (per-batch streaming sinks, daily
elevation runs, per-tile raster manifests) accretes thousands of
kilobyte-scale parquet files; at 10^12-row scale the NameNode/object
listing and per-file open costs start to dominate scans. This job
rewrites a dataset into ~``--target-mb`` files:

  * input size comes from ONE filesystem listing (Hadoop FS, works for
    local/HDFS/s3a alike — no data read to plan);
  * ``--by col[,col]`` uses ``repartitionByRange`` so the output files
    are VALUE-CLUSTERED on those columns (min/max footer stats then
    prune scans — the layout a sorted write would give, without a
    global sort barrier); otherwise a round-robin ``repartition``
    balances bytes evenly;
  * row-count equality in/out is ASSERTED before the stats line prints
    (a compaction that loses rows must fail loudly, never report);
  * ``--dry-run`` prints the plan (files, bytes, target file count)
    without writing.

spark-submit-able like every jobs/ module (``--master external``).
No reference analog (the reference is an elevation API); this is the
table-maintenance half of the lineage/checkpoint story (SNK5).
"""

from __future__ import annotations

import argparse
import json
import math
import time

from ..session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="opentopodata_spark.jobs.compact",
        description="Rewrite a parquet dataset into ~target-MB files.",
    )
    p.add_argument("--in", dest="src", required=True,
                   help="input parquet directory")
    p.add_argument("--out", required=True,
                   help="output parquet directory (overwritten)")
    p.add_argument("--target-mb", type=float, default=128.0,
                   help="approximate output file size (default 128)")
    p.add_argument("--by", default=None,
                   help="comma list of columns: range-cluster the "
                        "output on these (footer-stat pruning)")
    p.add_argument("--dry-run", action="store_true",
                   help="print the plan, write nothing")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--master", default=None,
                   help="Spark master; 'external' defers to spark-submit")
    return p


def _listing(spark, path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of the parquet data files under path —
    one recursive FS listing, any Hadoop-supported scheme."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return 0, 0
    it = fs.listFiles(p, True)
    n, total = 0, 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet"):
            n += 1
            total += int(st.getLen())
    return n, total


def run(ns: argparse.Namespace, spark=None) -> dict:
    if spark is None:
        spark = get_spark(
            app_name="otds-compact",
            cores=ns.cores,
            shuffle_partitions=ns.shuffle_partitions,
            master=ns.master,
        )
    t0 = time.time()
    files_in, bytes_in = _listing(spark, ns.src)
    if files_in == 0:
        raise ValueError(f"no parquet data files under {ns.src}")
    n_out = max(1, math.ceil(bytes_in / (ns.target_mb * 1024 * 1024)))
    stats = {
        "files_in": files_in,
        "bytes_in": bytes_in,
        "planned_files_out": n_out,
        "target_mb": ns.target_mb,
        "clustered_by": ns.by or None,
    }
    if ns.dry_run:
        stats["dry_run"] = True
        return stats

    df = spark.read.parquet(ns.src)
    rows_in = df.count()
    if ns.by:
        cols = [c.strip() for c in ns.by.split(",") if c.strip()]
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"--by columns not in dataset: {missing}")
        out_df = df.repartitionByRange(n_out, *cols)
    else:
        out_df = df.repartition(n_out)
    out_df.write.mode("overwrite").parquet(ns.out)

    files_out, bytes_out = _listing(spark, ns.out)
    rows_out = spark.read.parquet(ns.out).count()
    if rows_out != rows_in:
        raise RuntimeError(
            f"compaction lost rows: {rows_in} in, {rows_out} out"
        )
    stats.update(
        rows=rows_in,
        files_out=files_out,
        bytes_out=bytes_out,
        seconds=round(time.time() - t0, 3),
    )
    return stats


def main(argv=None) -> int:
    stats = run(build_parser().parse_args(argv))
    print(json.dumps(stats, sort_keys=True))
    return 0


if __name__ == "__main__":
    main()
