"""Set-up parity: the benchmark's warm-up may call only the standing builds
named in BASELINE.md's "Unbilled warmup inventory", the same allow-list
tests/test_bench_line.py::test_bench_warmup_imports_match_inventory holds
bench.main() to."""

from __future__ import annotations

import ast
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WARMUP = os.path.join(os.path.dirname(HERE), "warmup.py")
ROOT = os.path.dirname(os.path.dirname(HERE))

ALLOWED = {
    # engine warm-ups (JVM/codegen/worker pool/table scan)
    "pyspark.sql.functions",
    "pyspark.sql.functions.pandas_udf",
    "mini_pandas_spark.sources.TABLE_NAMES",
    "mini_pandas_spark.sources.load_table",
    # standing infrastructure, each with an inventory row
    "mini_pandas_spark.streaming.windows._events_dir_with_sentinels",
    "mini_pandas_spark.streaming.windows._standing_index_tables",
    "mini_pandas_spark.streaming.state_reader.build_standing_state_checkpoints",
    "mini_pandas_spark.streaming.ingest._ingest_artifacts",
    "mini_pandas_spark.operators.layout.hilbert_layout_table",
    "mini_pandas_spark.operators.layout.quantized_layout_table",
    "mini_pandas_spark.operators.layout.zorder_layout_table",
    "mini_pandas_spark.operators.relational._bucketed_order_tables",
    "mini_pandas_spark.operators.relational._partitioned_orders_path",
    # concurrency plumbing and the main-thread conf pre-set
    "concurrent.futures.ThreadPoolExecutor",
    "mini_pandas_spark.session.ensure_runtime_confs",
}


def imports_of(path: str) -> set[str]:
    tree = ast.parse(open(path).read())
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module != "__future__":
            out.update(f"{node.module}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
    return out


def test_warmup_imports_match_inventory():
    unexpected = imports_of(WARMUP) - ALLOWED
    assert not unexpected, (
        f"perfbench/warmup.py imports outside the unbilled-warmup inventory: "
        f"{sorted(unexpected)}"
    )


def test_every_standing_build_has_an_inventory_row():
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]
    import warmup

    baseline = open(os.path.join(ROOT, "BASELINE.md")).read()
    inventory = baseline.split("## Unbilled warmup inventory", 1)[1].split("\n## ", 1)[0]
    for builders in warmup.STANDING.values():
        for b in builders:
            assert f"`{b.__name__}`" in inventory, f"no inventory row for {b.__name__}"


def test_lint_catches_a_stray_import(tmp_path):
    stray = tmp_path / "warmup.py"
    stray.write_text(
        open(WARMUP).read()
        + "\nfrom mini_pandas_spark.operators.dedup import minhash_lsh_pairs\n"
    )
    assert imports_of(str(stray)) - ALLOWED == {
        "mini_pandas_spark.operators.dedup.minhash_lsh_pairs"
    }
