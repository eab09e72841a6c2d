"""Measure tablelog DML / CDF cost vs table size.

The claim under test: copy-on-write DML cost tracks the TOUCHED file
set, not the table — a one-slice UPDATE/DELETE on a 10x-larger table
(same file granularity, same slice width) should cost roughly the
same wall time, and incremental view maintenance (apply_count_delta
over the CDF batch) should beat a full groupBy recompute by a margin
that grows with table size.

Usage: python tools/tablelog_dml_probe.py [rows_small] [rows_large]
(defaults 200k / 2M rows; 16 files each, fixed 10k-row DML slice)
"""

from __future__ import annotations

import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from aoseventstreamer_spark import get_spark  # noqa: E402
from aoseventstreamer_spark.tablelog import (  # noqa: E402
    TableLog,
    apply_count_delta,
)


def build(spark, n_rows: int, n_files: int = 16) -> TableLog:
    log = TableLog(spark, tempfile.mkdtemp(prefix=f"dmlprobe_{n_rows}_"))
    per = n_rows // n_files
    for i in range(n_files):
        log.append(
            spark.range(i * per, (i + 1) * per)
            .select(
                F.col("id"),
                (F.col("id") % 97).alias("k"),
                (F.col("id") * 7 % 1000).alias("v"),
            )
            .coalesce(1)
        )
    return log


def timed(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def probe(spark, n_rows: int) -> dict:
    log = build(spark, n_rows)
    v0 = log.latest_version()
    state = {"df": None}

    def fold(v_from, v_to):
        """Fold the change feed of (v_from, v_to] into the view."""
        changes = log.read_changes(v_from, v_to)
        state["df"] = apply_count_delta(state["df"], changes, ["k"])
        state["df"] = spark.createDataFrame(
            state["df"].collect(), state["df"].schema
        )

    # initial load: the view drains the whole append history once
    inc_load_s, _ = timed(lambda: fold(0, v0))
    # fixed-width slice: 10k rows, always inside one ranged file
    lo = n_rows // 2
    upd_s, upd = timed(
        lambda: log.update_where(
            [("id", ">=", lo), ("id", "<", lo + 10_000)], {"v": "v + 1"}
        )
    )
    del_s, dl = timed(
        lambda: log.delete_where([("id", ">=", 0), ("id", "<", 10_000)])
    )
    cdf_s, n_changes = timed(lambda: log.read_changes(v0).count())
    # steady state: fold ONE DML batch vs recompute the whole view
    inc_dml_s, _ = timed(lambda: fold(v0, log.latest_version()))
    full_s, _ = timed(
        lambda: log.read().groupBy("k").count().collect()
    )
    got = sorted(tuple(r) for r in state["df"].collect())
    want = sorted(
        tuple(r)
        for r in log.read()
        .groupBy("k")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    )
    assert got == want, "incremental view diverged from recompute"
    return {
        "rows": n_rows,
        "update_s": round(upd_s, 2),
        "update_files": upd["files_rewritten"],
        "delete_s": round(del_s, 2),
        "delete_files": dl["files_rewritten"],
        "cdf_s": round(cdf_s, 2),
        "cdf_rows": n_changes,
        "incview_load_s": round(inc_load_s, 2),
        "incview_dml_s": round(inc_dml_s, 2),
        "full_recompute_s": round(full_s, 2),
    }


def main():
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    large = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    spark = get_spark("tablelog-dml-probe", cpus=8)
    rows = [probe(spark, small), probe(spark, large)]
    hdr = list(rows[0])
    print(" | ".join(hdr))
    for r in rows:
        print(" | ".join(str(r[c]) for c in hdr))
    # the gate: 10x rows must NOT cost ~10x DML wall (touched-file
    # discipline); allow 3x headroom over flat
    ratio = rows[1]["update_s"] / max(rows[0]["update_s"], 1e-9)
    assert ratio < 3.0, f"update wall scaled {ratio:.1f}x for 10x rows"
    print(f"update wall ratio at {large // max(small,1)}x rows: {ratio:.2f}x — gate <3.0 OK")


if __name__ == "__main__":
    main()
