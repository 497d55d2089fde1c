"""Bucketed-layout lifecycle tests (join-elimination is in test_plans).

The failure mode that matters operationally: the source parquet gets
REGENERATED (the driver rewrites testdata between rounds) while the
bucketed .derived copy and/or the session catalog entry survive. Serving
the stale copy silently would desynchronize query and oracle.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from hadoop_cs4225_spark.operators import bucketed
from hadoop_cs4225_spark.sources import sinks
from tests.conftest import SF_ORACLE


def test_bucketed_regenerates_on_stale_source(spark, tmp_path):
    sfd = tmp_path / "sfstale"
    sfd.mkdir()
    for t in ("orders", "customer"):
        shutil.copy(
            os.path.join(SF_ORACLE, f"{t}.parquet"), sfd / f"{t}.parquet"
        )
    try:
        name = bucketed.ensure_bucketed(spark, str(sfd), "orders", "o_custkey")
        n_full = spark.table(name).count()
        assert n_full == pq.read_table(sfd / "orders.parquet").num_rows

        # Regenerate the source SMALLER with a newer mtime — the stale
        # derived copy and the live catalog entry must both be replaced.
        tbl = pq.read_table(sfd / "orders.parquet")
        pq.write_table(tbl.slice(0, 100), sfd / "orders.parquet")
        name2 = bucketed.ensure_bucketed(spark, str(sfd), "orders", "o_custkey")
        assert name2 == name
        assert spark.table(name).count() == 100

        # And a fresh-catalog re-register (table dropped, files fresh)
        # is metadata-only: same rows, no rewrite (mtime unchanged).
        marker = os.path.join(
            sinks.derived_path(str(sfd), "bucketed_orders"), sinks.DERIVED_CONFIG
        )
        mtime = os.path.getmtime(marker)
        spark.sql(f"DROP TABLE {name}")
        bucketed.ensure_bucketed(spark, str(sfd), "orders", "o_custkey")
        assert spark.table(name).count() == 100
        assert os.path.getmtime(marker) == mtime

        # A bucket-spec change (N_BUCKETS or key) must force a rewrite
        # even though source mtimes are unchanged — the files' name-
        # encoded bucket mapping no longer matches the catalog DDL. The
        # spec is part of the layout fingerprint.
        with open(marker, "w") as f:
            f.write("buckets=4;key=o_custkey")  # files written under old spec
        tampered = os.path.getmtime(marker)
        bucketed.ensure_bucketed(spark, str(sfd), "orders", "o_custkey")
        assert open(marker).read() == f"buckets={bucketed.N_BUCKETS};key=o_custkey"
        assert os.path.getmtime(marker) > tampered > mtime  # rewritten
        assert spark.table(name).count() == 100
    finally:
        spark.sql(f"DROP TABLE IF EXISTS bkt_orders_sfstale")
        shutil.rmtree(
            os.path.dirname(sinks.derived_path(str(sfd), "x")), ignore_errors=True
        )
