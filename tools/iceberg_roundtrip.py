"""Execute the IcebergTable seam against a REAL Iceberg catalog.

Round trip (the exact sequence the verdict asked to see executed, the
mirror of the parquet stand-in test at tests/test_checkpoint.py):

  1. create a partition-transformed Iceberg table (image+caption shape)
  2. ``IcebergTable.append`` (atomic snapshot commit) of 4 partitions
  3. read back via ``IcebergTable.read`` — row/partition parity
  4. checkpoint marks parts {0, 1} complete → ``resume_filter`` → the
     resumed scan returns ONLY incomplete partitions, and the physical
     plan's Iceberg scan carries the partition filter (manifest prune)
  5. second ``append`` → ``<table>.snapshots`` metadata shows 2 snapshots
  6. time-travel (``VERSION AS OF`` first snapshot id) sees the
     pre-append row count — gated-load rollback semantics for free

Runs standalone (``python tools/iceberg_roundtrip.py --jar J --warehouse W``)
so it works as a cluster smoke test via spark-submit too; prints one JSON
line with the observed facts and exits non-zero on any mismatch.
Invoked by tests/test_iceberg_runtime.py whenever a runtime jar exists.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def scan_has_filter(plan: str) -> bool:
    """True when an Iceberg ``BatchScan`` node of the executed-plan
    string names ``part_id`` inside its own ``filters=`` clause, i.e.
    the partition predicate was pushed into the scan and prunes
    manifests. A column the scan only projects, or a predicate left to
    a post-scan ``Filter`` node, does not count."""
    for line in plan.splitlines():
        if "BatchScan" not in line:
            continue
        m = re.search(r"filters=([^\]]*)", line)
        if m and "part_id" in m.group(1).split("groupedBy=")[0]:
            return True
    return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--jar", required=True)
    ap.add_argument("--warehouse", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from smcchecker_spark.iceberg_runtime import iceberg_session_confs
    from smcchecker_spark.tables import IcebergTable, resume_filter

    b = (
        SparkSession.builder.master("local[4]")
        .appName("iceberg-roundtrip")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
    )
    for k, v in iceberg_session_confs(args.jar, args.warehouse).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    facts: dict = {"ok": False}
    try:
        spark.sql("CREATE NAMESPACE IF NOT EXISTS local.db")
        ident = "local.db.images"
        spark.sql(
            f"""CREATE TABLE {ident} (
                   image_id BIGINT, part_id INT, caption STRING,
                   width INT, height INT, fmt STRING, payload BINARY)
                USING iceberg PARTITIONED BY (part_id)"""
        )
        tbl = IcebergTable(ident)

        df = spark.range(400).selectExpr(
            "id AS image_id",
            "CAST(id % 4 AS INT) AS part_id",
            "concat('caption ', id) AS caption",
            "CAST(32 + id % 64 AS INT) AS width",
            "CAST(32 + id % 48 AS INT) AS height",
            "CASE WHEN id % 2 = 0 THEN 'jpeg' ELSE 'webp' END AS fmt",
            "CAST(concat('px', id) AS BINARY) AS payload",
        )
        tbl.append(df)

        back = tbl.read(spark)
        facts["rows_after_first_append"] = back.count()
        assert facts["rows_after_first_append"] == 400
        facts["parts"] = sorted(
            r.part_id for r in back.select("part_id").distinct().collect()
        )
        assert facts["parts"] == [0, 1, 2, 3]

        # 4. partition-pruned resume: checkpoint says 0 and 1 are done.
        resumed = resume_filter(tbl.read(spark), {0, 1}, "part_id")
        facts["resume_rows"] = resumed.count()
        assert facts["resume_rows"] == 200
        facts["resume_parts"] = sorted(
            r.part_id for r in resumed.select("part_id").distinct().collect()
        )
        assert facts["resume_parts"] == [2, 3]
        plan = resumed._jdf.queryExecution().executedPlan().toString()
        # the prune must reach the scan, not stay a post-scan Filter
        facts["scan_has_filter"] = scan_has_filter(plan)
        assert facts["scan_has_filter"], plan

        snap0 = spark.sql(
            f"SELECT snapshot_id FROM {ident}.snapshots ORDER BY committed_at"
        ).first()[0]

        # 5. second append = second snapshot.
        tbl.append(df.filter("part_id = 0").withColumn(
            "image_id", df.image_id + 1000
        ))
        snaps = spark.sql(f"SELECT snapshot_id FROM {ident}.snapshots").count()
        facts["snapshots"] = snaps
        assert snaps == 2
        facts["rows_after_second_append"] = tbl.read(spark).count()
        assert facts["rows_after_second_append"] == 500

        # 6. time travel to the first snapshot: gated-load rollback view.
        tt = spark.sql(f"SELECT count(*) FROM {ident} VERSION AS OF {snap0}")
        facts["rows_at_first_snapshot"] = tt.first()[0]
        assert facts["rows_at_first_snapshot"] == 400

        facts["ok"] = True
        return 0
    finally:
        print(json.dumps(facts))
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
