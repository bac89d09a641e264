"""Set-up steps: the unbilled warm-up from BASELINE.md's "Unbilled warmup
inventory", split into one timed step per inventory row.

A run performs only the steps its issued queries use (``run.py`` decides
from each query's code), so ``setup_s`` prices exactly the warm-up a
workload needs and a build hoisted out of a billed row shows up there.
``perfbench/tests/test_warmup_inventory.py`` fails on any import this module adds
beyond the inventory.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from mini_pandas_spark.operators.layout import (
    hilbert_layout_table,
    quantized_layout_table,
    zorder_layout_table,
)
from mini_pandas_spark.operators.relational import (
    _bucketed_order_tables,
    _partitioned_orders_path,
)
from mini_pandas_spark.session import ensure_runtime_confs
from mini_pandas_spark.sources import TABLE_NAMES, load_table
from mini_pandas_spark.streaming.ingest import _ingest_artifacts
from mini_pandas_spark.streaming.state_reader import (
    build_standing_state_checkpoints,
)
from mini_pandas_spark.streaming.windows import (
    _events_dir_with_sentinels,
    _standing_index_tables,
)

# metric -> standing builders it times, in the order bench.py builds them
# (the state checkpoints read the sentinel events dir)
STANDING: dict[str, tuple] = {
    "warmup.standing_index_s": (_standing_index_tables,),
    "warmup.sentinel_events_s": (_events_dir_with_sentinels,),
    "warmup.state_checkpoints_s": (build_standing_state_checkpoints,),
    "warmup.ingest_artifacts_s": (_ingest_artifacts,),
    "warmup.layout_tables_s": (
        zorder_layout_table,
        hilbert_layout_table,
        quantized_layout_table,
    ),
    "warmup.bucketed_tables_s": (_bucketed_order_tables, _partitioned_orders_path),
}

# queries whose tiny warm-fixture run bench.py uses as an engine warm-up
STREAM_ENGINE_QUERY = "streaming_hourly_counts"
STREAMING_PACKAGE = "mini_pandas_spark.streaming."
ENGINE_DRAIN_QUERIES = ("streaming_neardup_lsh", "manifest_roundtrip_stats")


def engine(spark, sf_dir, warm_sf, qs, first, planned, materialize, cores):
    """JVM/codegen, Python worker pool and table-scan warm-up, plus the
    streaming-engine and custom-source warm-ups when ``planned`` needs
    them.  Drains run on ``warm_sf`` so no memo of the bench fixture is
    filled."""
    materialize(qs[first](spark, sf_dir))
    # one pandas-UDF task per core starts every worker slot once; bench.py's
    # 64 tasks repeat that start per task (7.3 s more at 4 cores, measured)
    warm_udf = pandas_udf(lambda s: s * 1, "long")
    materialize(
        spark.range(1000).repartition(cores).select(warm_udf(F.col("id")).alias("v"))
    )
    for t in TABLE_NAMES:
        materialize(load_table(spark, sf_dir, t))
    if any(qs[n].__module__.startswith(STREAMING_PACKAGE) for n in planned):
        qs[STREAM_ENGINE_QUERY](spark, warm_sf).count()
    for name in ENGINE_DRAIN_QUERIES:
        if name in planned:
            qs[name](spark, warm_sf).count()


def standing(spark, sf_dir, builders) -> None:
    """Build one inventory row's standing tables, concurrently when it has
    several (independent jobs back-fill each other's stragglers)."""
    # set confs once on this thread so the pooled builders' own
    # ensure_runtime_confs calls re-set identical values
    ensure_runtime_confs(spark)
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        for fut in [pool.submit(b, spark, sf_dir) for b in builders]:
            fut.result()
