"""Driver-side cost regressions: Spark jobs started by catalog builders,
jobs per execution, and py4j round trips per ``functions`` call.

Both are host-independent counters.  Jobs are counted from the DAG
scheduler's next job id; round trips by wrapping py4j's
``ClientServerConnection.send_command``.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@contextlib.contextmanager
def _round_trips():
    import py4j.clientserver as cs

    seen = [0]
    orig = cs.ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        seen[0] += 1
        return orig(self, *args, **kwargs)

    cs.ClientServerConnection.send_command = counting
    try:
        yield seen
    finally:
        cs.ClientServerConnection.send_command = orig


def test_lazy_pin_runs_the_map_stage_at_pin_time(spark):
    """``localCheckpoint(eager=False)`` is lazy only for the final
    stage: under AQE, pinning a frame runs every exchange stage of its
    subtree when the pin is called.  A narrow frame runs nothing."""
    narrow = spark.range(1000).select((F.col("id") * 2).alias("x"))
    j0 = _next_job(spark)
    narrow.localCheckpoint(eager=False)
    assert _next_job(spark) == j0

    grouped = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    j0 = _next_job(spark)
    pinned = grouped.localCheckpoint(eager=False)
    assert _next_job(spark) - j0 >= 1  # the groupBy's map stage ran
    assert pinned.count() == 7


def test_functions_call_makes_at_most_three_round_trips(spark):
    """No per-call origin capture on a ``get_spark`` session: with
    PySpark's default, each ``F.col`` made 13 round trips."""
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )
    F.col("warm")
    with _round_trips() as seen:
        F.col("a")
    assert seen[0] <= 3


PCA_ENTRIES = [
    "emb_power_iteration_pc1",
    "emb_power_iteration_pc2",
    "emb_explained_variance",
]


def _builder_jobs(spark, sf_dir, name: str) -> int:
    """Jobs a warm call of ``name``'s builder starts (a first build has
    cached the table schema and any served artifact)."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    build = REGISTRY[name].builder
    build(spark, sf_dir)
    j0 = _next_job(spark)
    build(spark, sf_dir)
    return _next_job(spark) - j0


def _write_jobs(spark, sf_dir, name: str) -> int:
    """Jobs a warm build plus one noop write of ``name`` runs."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    build = REGISTRY[name].builder
    build(spark, sf_dir)
    j0 = _next_job(spark)
    build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return _next_job(spark) - j0


@pytest.mark.parametrize("name", PCA_ENTRIES)
def test_pca_builders_start_no_job(spark, sf_dir, name):
    """The PCA entries are one lazy plan each: building one (after a
    first build has cached the table schema) starts no Spark job."""
    assert _builder_jobs(spark, sf_dir, name) == 0


def test_pc1_write_runs_at_most_four_jobs(spark, sf_dir):
    """One noop write of pc1: the stats aggregate, the one-row
    aggregate and the result stage (23 jobs with a pin per step)."""
    assert _write_jobs(spark, sf_dir, "emb_power_iteration_pc1") <= 4


ROUND_STATE_ENTRIES = [
    "text_bpe_merges",
    "graph_pagerank_cust_supp",
    "geo_cell_pagerank",
]


@pytest.mark.parametrize("name", ROUND_STATE_ENTRIES)
def test_round_state_builders_start_no_job(spark, sf_dir, name):
    """BPE merges and PageRank iterate over one row of array state, so
    their rounds are projections: a warm build starts no Spark job (13,
    16 and 23 jobs with a pin per round)."""
    assert _builder_jobs(spark, sf_dir, name) == 0


@pytest.mark.parametrize(
    "name, cap", [("text_bpe_merges", 3), ("graph_pagerank_cust_supp", 2)]
)
def test_round_state_write_jobs(spark, sf_dir, name, cap):
    """One noop write: for BPE the word-count aggregate, the one-row
    aggregate and the result stage (20 jobs with a pin per round); for
    PageRank the read of the served one-row state (17 jobs)."""
    assert _write_jobs(spark, sf_dir, name) <= cap
