import contextlib
import os

import pytest


def _concrete_dataframe_cls():
    """The class whose ``collect`` real DataFrame instances actually
    call.  In PySpark 4 ``pyspark.sql.DataFrame`` is an abstract base
    and the classic implementation OVERRIDES collect — patching the
    base intercepts nothing (instances resolve the subclass method
    first), which silently turns collect-spy tests into no-ops."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame as CDF
        return CDF
    except ImportError:          # older pyspark: one concrete class
        from pyspark.sql import DataFrame
        return DataFrame


@contextlib.contextmanager
def spy_collect(record: list):
    """Patch the CONCRETE DataFrame.collect to append each collected
    DataFrame's column-name list to ``record`` (then delegate)."""
    cls = _concrete_dataframe_cls()
    orig = cls.collect

    def spying(self):
        record.append([f.name for f in self.schema.fields])
        return orig(self)

    cls.collect = spying
    try:
        yield
    finally:
        cls.collect = orig


@contextlib.contextmanager
def poison_collect(message: str):
    """Patch the CONCRETE DataFrame.collect to raise — proves a code
    path performs zero driver-side collects."""
    cls = _concrete_dataframe_cls()
    orig = cls.collect

    def poisoned(self):
        raise AssertionError(message)

    cls.collect = poisoned
    try:
        yield
    finally:
        cls.collect = orig


@contextlib.contextmanager
def sql_conf(spark, key: str, value: str):
    """Set one session conf for the block, then restore it."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def one_fold_task_per_partition(spark):
    """Lower ``spark.sql.files.openCostInBytes`` (the unit the library's
    Python-fold sizing divides input bytes by) to one byte, so a tiny
    test input keeps its own partitioning and its sketch folds emit one
    partial per partition: merge-path tests then merge several partials
    instead of one."""
    return sql_conf(spark, "spark.sql.files.openCostInBytes", "1")


def count_partials(partials) -> int:
    """Fold tasks that emitted at least one partial row."""
    from pyspark.sql import functions as F
    return partials.select(F.spark_partition_id()).distinct().count()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]")
        .appName("fastfilter-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
