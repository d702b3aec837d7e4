"""The scale probe's generic entry point: one warm-up run, then one
traced run per key, yielding the per-layer row."""

from __future__ import annotations

import sys

import scale_probe
from quickbooks_aws_etl_pipeline_spark import io as program_io


def test_profile_yields_one_layer_row_and_unwraps_read_table(spark,
                                                             sf_smoke):
    readers = {name: mod.read_table for name, mod in list(sys.modules.items())
               if name.startswith("quickbooks_aws_etl_pipeline_spark")
               and hasattr(mod, "read_table")}
    original = program_io.read_table

    rows = list(scale_probe.profile(spark, sf_smoke, ["agg_group_sum"]))

    assert len(rows) == 1
    row = rows[0]
    assert row["key"] == "agg_group_sum" and row["rows"] > 0
    assert row["build_s"] > 0 and row["action_s"] > 0
    for phase in ("analysis", "optimization", "planning"):
        assert row[f"catalyst_{phase}_s"] >= 0
    assert row["io_calls"] >= 1
    for field in ("jobs", "stages", "tasks", "run_ms", "cpu_ns",
                  "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes"):
        assert field in row["exec"] and field in row["plans"]
    assert row["exec"]["jobs"] >= 1 and row["exec"]["tasks"] >= 1
    assert program_io.read_table is original
    assert all(sys.modules[name].read_table is fn
               for name, fn in readers.items())
