#!/usr/bin/env python
"""Scale probe: profile query keys layer by layer on a testdata
directory or on a replica-scaled copy of sf0.1.

    python scale_probe.py --sf DIR KEY [KEY ...]

DIR is a testdata directory (for example /root/testdata/sf0.1) or one
of the replica tags below. A tag names a directory under .scratch/,
built from the sf0.1 input (``SPARK_GRAFT_SF_DIR``) on first use, with
the dimension tables linked in from sf0.1:

- ``sf2``: 20x lineitem, orders, documents, events and embeddings;
- ``sf5``: 50x lineitem and embeddings;
- ``sf8``: 80x lineitem, orders, documents, events and embeddings.

Each key runs once to warm up, then once under
``perfbench.layers.Tracer``. Its per-layer row is printed as one JSON
line: builder wall and jobs (``build_s``, ``plans``), Catalyst phase
times (``catalyst_*_s``), the final action's wall (``action_s``) and
its jobs, stages, run/CPU time, shuffle bytes and spill (``exec``).
The action is ``toPandas()``, which computes every output column.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections.abc import Iterator

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from perfbench.layers import Tracer
from quickbooks_aws_etl_pipeline_spark.io import read_table
from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
from quickbooks_aws_etl_pipeline_spark.session import get_spark
from quickbooks_aws_etl_pipeline_spark.sinks import scratch_path

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = 20


def generate(spark) -> None:
    li = read_table(spark, SF_DIR, "lineitem")
    orders = read_table(spark, SF_DIR, "orders")
    docs = read_table(spark, SF_DIR, "documents")
    max_ok = orders.agg(F.max("o_orderkey")).first()[0]
    rep = F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("rep")
    (li.select("*", rep)
       .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * (max_ok + 1))
       .drop("rep").repartition(32)
       .write.mode("overwrite").parquet(scratch_path("sf2", "lineitem.parquet")))
    (orders.select("*", rep)
       .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * (max_ok + 1))
       .drop("rep").repartition(8)
       .write.mode("overwrite").parquet(scratch_path("sf2", "orders.parquet")))
    # half the replicas keep identical text -> heavy exact duplication,
    # the shape real crawl corpora have
    (docs.select("*", rep)
       .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 1000000)
       .withColumn("text", F.when(F.col("rep") % 2 == 0, F.col("text"))
                            .otherwise(F.concat("text", F.lit(" rep"),
                                                F.col("rep").cast("string"))))
       .drop("rep").repartition(16)
       .write.mode("overwrite").parquet(scratch_path("sf2", "documents.parquet")))
    # events: same users, time-shifted replicas -> 20x denser timelines
    events = read_table(spark, SF_DIR, "events")
    (events.select("*", rep)
       .withColumn("event_id", F.col("event_id") + F.col("rep") * 10000000)
       .withColumn("ts", F.col("ts") + F.make_interval(secs=F.col("rep") * 7))
       .drop("rep").repartition(16)
       .write.mode("overwrite").parquet(scratch_path("sf2", "events.parquet")))
    # embeddings: 20x = 1M vectors, components perturbed per replica
    emb = read_table(spark, SF_DIR, "embeddings")
    (emb.select("*", rep)
       .withColumn("vec_id", F.col("vec_id") + F.col("rep") * 10000000)
       .withColumn("embedding", F.transform(
           "embedding",
           lambda x: x + (F.col("rep").cast("float") - 10.0) / 1000.0))
       .drop("rep").repartition(16)
       .write.mode("overwrite").parquet(scratch_path("sf2", "embeddings.parquet")))


def _generate_sf5(spark) -> None:
    """50x replicas of lineitem (30M rows) and embeddings (2.5M x
    64-dim vectors), built with the same replica recipe as
    generate()."""
    li = read_table(spark, SF_DIR, "lineitem")
    rep50 = F.explode(F.sequence(F.lit(0), F.lit(49))).alias("rep")
    max_ok = li.agg(F.max("l_orderkey")).first()[0]
    (li.select("*", rep50)
       .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * (max_ok + 1))
       .drop("rep").repartition(64)
       .write.mode("overwrite").parquet(scratch_path("sf5", "lineitem.parquet")))
    emb = read_table(spark, SF_DIR, "embeddings")
    (emb.select("*", rep50)
       .withColumn("vec_id", F.col("vec_id") + F.col("rep") * 10000000)
       .withColumn("embedding", F.transform(
           "embedding",
           lambda x: x + (F.col("rep").cast("float") - 25.0) / 2500.0))
       .drop("rep").repartition(32)
       .write.mode("overwrite").parquet(scratch_path("sf5", "embeddings.parquet")))


def _generate_sf8(spark) -> None:
    """80x replicas, codifying the round-10 ad-hoc recipe (NOTES
    'relational spine at 80x'): lineitem (48M rows) + orders (12M)
    replica-shifted on orderkey so joins stay consistent, documents
    at 80x with the same half-identical duplication shape as sf2,
    and the dimension tables symlinked from sf0.1 (dims don't grow
    in the replica model — exactly the 100 TB star-schema shape)."""
    li = read_table(spark, SF_DIR, "lineitem")
    orders = read_table(spark, SF_DIR, "orders")
    max_ok = orders.agg(F.max("o_orderkey")).first()[0]
    rep80 = F.explode(F.sequence(F.lit(0), F.lit(79))).alias("rep")
    (li.select("*", rep80)
       .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * (max_ok + 1))
       .drop("rep").repartition(64)
       .write.mode("overwrite").parquet(scratch_path("sf8", "lineitem.parquet")))
    (orders.select("*", rep80)
       .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * (max_ok + 1))
       .drop("rep").repartition(16)
       .write.mode("overwrite").parquet(scratch_path("sf8", "orders.parquet")))
    docs = read_table(spark, SF_DIR, "documents")
    (docs.select("*", rep80)
       .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 1000000)
       .withColumn("text", F.when(F.col("rep") % 2 == 0, F.col("text"))
                            .otherwise(F.concat("text", F.lit(" rep"),
                                                F.col("rep").cast("string"))))
       .drop("rep").repartition(32)
       .write.mode("overwrite").parquet(scratch_path("sf8", "documents.parquet")))
    # events at 80x: same users, 7-second-shifted replicas -> 80x
    # denser timelines (the sf2 recipe at 80 replicas; added in
    # round 12 for the events-shaped key probes)
    events = read_table(spark, SF_DIR, "events")
    (events.select("*", rep80)
       .withColumn("event_id", F.col("event_id") + F.col("rep") * 10000000)
       .withColumn("ts", F.col("ts") + F.make_interval(secs=F.col("rep") * 7))
       .drop("rep").repartition(32)
       .write.mode("overwrite").parquet(scratch_path("sf8", "events.parquet")))
    # embeddings at 80x with PER-COMPONENT deterministic jitter
    # (r10 verdict task 5): the old uniform per-replica shift left
    # replicas as near-exact copies, so margin/recall-shaped probes
    # measured degenerate outputs (bitext mined 0 rows at sf8 —
    # every margin <= 0). hash(vec_id, rep, i) -> ±0.01 jitter
    # (~5% of the typical component scale) spreads cosines while
    # preserving neighborhoods; fully deterministic re-runs.
    emb = read_table(spark, SF_DIR, "embeddings")
    (emb.select("*", rep80)
       .withColumn("embedding", F.transform(
           "embedding",
           lambda x, i: x + (F.pmod(F.hash(F.col("vec_id"),
                                           F.col("rep"), i),
                                    F.lit(1000)).cast("float")
                             - 500.0) / 50000.0))
       .withColumn("vec_id", F.col("vec_id") + F.col("rep") * 10000000)
       .drop("rep").repartition(32)
       .write.mode("overwrite").parquet(scratch_path("sf8", "embeddings.parquet")))


def _symlink_dims(tag: str) -> None:
    """Dimension tables don't participate in the replica blow-up;
    link them from the base SF so replica dirs are complete table
    sets (read_table resolves any key's inputs there)."""
    for t in ["region", "nation", "customer", "supplier", "part"]:
        dst = scratch_path(tag, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), dst)


_REPLICA_GENERATORS = {"sf2": generate, "sf5": _generate_sf5,
                       "sf8": _generate_sf8}


def _resolve_sf(spark, sf: str) -> str:
    """The directory for ``sf``: a replica tag's directory (generated
    when absent), else ``sf`` itself."""
    gen = _REPLICA_GENERATORS.get(sf)
    if gen is None:
        return sf
    if not os.path.isdir(scratch_path(sf, "lineitem.parquet")):
        gen(spark)
    _symlink_dims(sf)
    return scratch_path(sf)


def profile(spark, sf_dir: str, keys: list[str]) -> Iterator[dict]:
    """Run each key once to warm up, then once traced; yield its
    per-layer row."""
    tracer = Tracer(spark)
    for key in keys:
        QUERIES[key](spark, sf_dir).toPandas()
        with tracer.installed():
            tracer.begin(0, key)
            t0 = time.perf_counter()
            try:
                df = QUERIES[key](spark, sf_dir)
                t1 = time.perf_counter()
                tracer.built()
                rows = len(df.toPandas())
                t2 = time.perf_counter()
            except BaseException:
                tracer.abort()
                raise
            row = tracer.end(df, t1 - t0, t2 - t1)
        yield {**row, "sf_dir": sf_dir, "rows": rows}


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description="Profile query keys layer by layer at one scale.")
    ap.add_argument("--sf", required=True, metavar="DIR",
                    help="testdata directory, or a replica tag: "
                         + ", ".join(_REPLICA_GENERATORS))
    ap.add_argument("keys", nargs="+", metavar="KEY")
    args = ap.parse_args(argv)
    unknown = [k for k in args.keys if k not in QUERIES]
    if unknown:
        ap.error(f"unknown query keys: {unknown}")
    spark = get_spark("scale-probe", extra_conf={
        "spark.ui.enabled": "false", "spark.driver.memory": "48g"})
    sf_dir = _resolve_sf(spark, args.sf)
    for row in profile(spark, sf_dir, args.keys):
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
