"""The one measurement core (bench.fingerprint / bench.time_median) and
the plan-text scrub of tools/plan_fingerprint.py.

- fingerprint is the timed action of bench.py and tools/measure.py: it
  must hash map columns (via to_json) and must see window-column VALUES,
  not just the row count — a bare count() lets Catalyst prune Window
  operators, which is why it was rejected as the action.
- time_median runs each sample inside core.query_scope: the sample's
  checkpoint blocks are freed after it, so no sample inherits
  another's, and a caller's own cached tables stay cached.
- scan_parallel_copy, the bench's input layout, is the same table
  (schema and rows equal through pyarrow) for every sf0.1 table, and
  the big tables actually split.
- scrub renumbers the session-global HOF lambda counters per plan by
  first occurrence: counters drop out, lambda identity does not.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import os
import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from bench import fingerprint, scan_parallel_copy, time_median
from conftest import SF_DIR
from data_table_spark.core import materialize

# the bench's scale: its lineitem is big enough to split into parts
SF01 = os.path.join(os.path.dirname(SF_DIR), "sf0.1")


def test_fingerprint_hashes_map_column(spark):
    df = spark.range(5).select(
        "id", F.create_map(F.lit("k"), F.col("id")).alias("m")
    )
    assert dict(df.dtypes)["m"].startswith("map<")
    n, h = fingerprint(df)
    assert n == 5
    assert isinstance(h, int)


def test_fingerprint_sees_window_values(spark):
    base = spark.range(20).withColumn("g", F.col("id") % 3)
    w = Window.partitionBy("g").orderBy("id")
    lag = base.withColumn("v", F.lag("id").over(w))
    lead = base.withColumn("v", F.lead("id").over(w))
    (n_lag, h_lag), (n_lead, h_lead) = fingerprint(lag), fingerprint(lead)
    assert n_lag == n_lead == 20
    assert h_lag != h_lead


def test_time_median_releases_persisted_after_every_sample(spark):
    jsc = spark.sparkContext._jsc

    def build():
        # materialize persists its RDD, as the library's checkpoint
        # sites do
        return materialize(spark.range(50))

    t = time_median(build, 2)
    assert t.n == 50
    assert len(t.samples) == 2
    assert t.released >= 2  # one persisted RDD per sample
    assert jsc.getPersistentRDDs().isEmpty()


def test_time_median_keeps_a_callers_cache(spark):
    jsc = spark.sparkContext._jsc
    mine = spark.range(20).cache()
    mine.count()
    cached = set(jsc.getPersistentRDDs().keySet().toArray())
    try:
        assert cached
        t = time_median(lambda: materialize(spark.range(50)), 2)
        assert t.released >= 2
        assert set(jsc.getPersistentRDDs().keySet().toArray()) == cached
    finally:
        mine.unpersist(True)


def test_scan_parallel_copy_is_same_table():
    import pyarrow.parquet as pq

    d, info = scan_parallel_copy(SF01)
    try:
        assert info["mode"] == "scan_parallel"
        for p in sorted(glob.glob(f"{SF01}/*.parquet")):
            name = os.path.basename(p)
            orig = pq.read_table(p)
            new = pq.read_table(os.path.join(d, name))
            assert orig.schema == new.schema, name
            assert orig.equals(new), name
        # the point of the exercise: the big tables actually split
        assert info["n_parts"]["lineitem.parquet"] > 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _scrub():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "plan_fingerprint.py",
    )
    spec = importlib.util.spec_from_file_location("_plan_fp", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.scrub


def _md5(plan: str) -> str:
    return hashlib.md5(_scrub()(plan).encode()).hexdigest()


# nested HOF: transform(xs, x -> transform(ys, x -> <body>))
_NESTED = (
    "Project [transform(xs#{a}, lambdafunction(transform(ys#{b}, "
    "lambdafunction((lambda x_{body}#{c} + 1), lambda x_{inner}#{c}, false)), "
    "lambda x_{outer}#{d}, false)) AS out#{e}]"
)


def test_scrub_drops_session_counters():
    fresh = _NESTED.format(a=1, b=2, c=3, d=4, e=5, body=71, inner=72, outer=71)
    later = _NESTED.format(a=11, b=12, c=13, d=14, e=15, body=90, inner=91, outer=90)
    assert _md5(fresh) == _md5(later)
    assert _scrub()("lambda my_var2_7#3 + lambda y_8#4") == "lambda my_var2_0#x + lambda y_1#x"


def test_scrub_keeps_which_lambda_is_referenced():
    outer_ref = _NESTED.format(a=1, b=2, c=3, d=4, e=5, body=71, inner=72, outer=71)
    inner_ref = _NESTED.format(a=1, b=2, c=3, d=4, e=5, body=72, inner=72, outer=71)
    assert _md5(outer_ref) != _md5(inner_ref)
