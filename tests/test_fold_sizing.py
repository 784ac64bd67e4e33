"""Python-fold sizing (plans.sizing): a small input's sketch folds run
as few Python tasks as its estimated bytes warrant, large or unsized
inputs keep their plan, and the sized folds give the same bytes as a
driver-side fold of the same values."""

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fastfilter_spark.functions.sketches import (
    KLL, CountMin, HyperLogLog,
)
from fastfilter_spark.operators.kmv import _bottomk_partials, bottomk_hashes
from fastfilter_spark.operators.sketch_agg import (
    _by_key_partials, _fold, sketch_column,
)
from fastfilter_spark.plans import fold_partitions, size_python_fold
from tests.conftest import sql_conf

_I64 = np.iinfo(np.int64)


def _write(path, keys: list, files: int) -> str:
    """``keys`` (int64, None = null) plus their string forms as a
    parquet directory of ``files`` files."""
    t = pa.table({"k": pa.array(keys, pa.int64()),
                  "u": pa.array([None if k is None else f"u{k}"
                                 for k in keys], pa.string())})
    path.mkdir()
    step = max(1, -(-t.num_rows // files))
    for i in range(files):
        pq.write_table(t.slice(i * step, step), path / f"part-{i}.parquet")
    return str(path)


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    rng = np.random.default_rng(7)
    vals = rng.integers(-(1 << 62), 1 << 62, size=3000).tolist()
    vals += vals[:500] + [int(_I64.min), int(_I64.max), 0, -1] + [None] * 40
    rng.shuffle(vals)
    root = tmp_path_factory.mktemp("fold")
    return {
        "empty": (_write(root / "empty", [], 1), []),
        "all_null": (_write(root / "null", [None] * 50, 2), [None] * 50),
        "one_file": (_write(root / "one", vals, 1), vals),
        "four_files": (_write(root / "four", vals, 4), vals),
    }


def test_four_file_input_folds_in_one_python_task(spark, inputs):
    if spark.sparkContext.defaultParallelism < 4:
        pytest.skip("Spark's own file sizing packs 4 tiny files into "
                    "fewer splits below 4 cores")
    df = spark.read.parquet(inputs["four_files"][0])
    assert df.rdd.getNumPartitions() == 4
    assert fold_partitions(df) == 1
    assert size_python_fold(df).rdd.getNumPartitions() == 1
    passes = {
        "hll": _fold(df, "k", {"s": HyperLogLog}, False)[0],
        "cms": _fold(df, "k", {"s": CountMin}, False)[0],
        "kll": _fold(df, "k", {"s": KLL}, True)[0],
        "kmv": _bottomk_partials(df, "u", 64)[0],
        "by_key": _by_key_partials(df, ["u"], "k", HyperLogLog, False, 64),
    }
    for name, partials in passes.items():
        assert partials.rdd.getNumPartitions() == 1, name


def test_unsized_and_large_inputs_keep_their_plan(spark):
    rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize([(i,) for i in range(100)], 3),
        "k long")
    huge = spark.range(10 ** 12)
    for df in (rdd_backed, huge):
        assert fold_partitions(df) is None
        # the very same DataFrame: no Coalesce node, no new plan
        assert size_python_fold(df) is df
    assert rdd_backed.rdd.getNumPartitions() == 3


def test_sizing_never_raises_the_partition_count(spark):
    if spark.sparkContext.defaultParallelism <= 2:
        pytest.skip("needs a target below defaultParallelism")
    one = spark.range(0, 1000, 1, 1)            # 8,000 estimated bytes
    with sql_conf(spark, "spark.sql.files.openCostInBytes", "4000"):
        assert fold_partitions(one) == 2
        assert size_python_fold(one).rdd.getNumPartitions() == 1


@pytest.mark.parametrize("case", ["empty", "all_null", "one_file",
                                  "four_files"])
def test_sized_folds_match_a_driver_side_fold(spark, inputs, case):
    path, keys = inputs[case]
    df = spark.read.parquet(path)
    nonnull = np.array([k for k in keys if k is not None], dtype=np.int64)
    for factory in (lambda: HyperLogLog(12), lambda: CountMin(2048, 5)):
        got = sketch_column(df, "k", factory)
        exp = factory()
        if nonnull.size:
            exp.update(nonnull)
        assert got.to_bytes() == exp.to_bytes(), (case, type(exp))
    rows = [r.h for r in bottomk_hashes(df, "u", 128).orderBy("h").collect()]
    assert rows == sorted({_h60(f"u{k}") for k in nonnull.tolist()})[:128]
