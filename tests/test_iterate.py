"""The shared loop driver (``operators/iterate.py``): iterative loops
checkpoint, cap, tag and release their rounds through it alone."""

from __future__ import annotations

import pathlib
import re

import pytest

from big_data_lab_three_spark.operators.dedup import connected_components
from big_data_lab_three_spark.queries import load_all

PKG = pathlib.Path(__file__).resolve().parent.parent / "big_data_lab_three_spark"


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", ["bpe_train_merges_k50", "kcore_peel_census"])
def test_loop_query_releases_superseded_rounds(spark, sf_dir, name):
    """``clearCache()`` does not free checkpoints, so a loop that kept
    every round would leave one RDD per round behind.  Only the state
    made before the loop and its last rounds may stay."""
    before = _persisted(spark)
    load_all()[name].spark(spark, sf_dir).collect()
    spark.catalog.clearCache()
    left = _persisted(spark) - before
    assert len(left) <= 3, f"{name} left {len(left)} persisted RDDs"


def test_loop_rounds_tag_their_jobs_and_restore_the_caller(spark):
    """Every job a round launches is described ``"<loop> round <r>"``;
    the caller's job group covers the loop and comes back unchanged,
    and so does its description."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    sc.setJobGroup("iterate-tagging", "caller")
    try:
        connected_components(pairs).collect()
        assert sc.getLocalProperty("spark.jobGroup.id") == "iterate-tagging"
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    descs = set()
    for job in sc.statusTracker().getJobIdsForGroup("iterate-tagging"):
        d = jsc.statusStore().job(job).description()
        descs.add(d.get() if d.isDefined() else None)
    # a 4-node path converges in 3 rounds; round 4 sees no change
    rounds = {f"connected_components round {r}" for r in range(1, 5)}
    assert descs == rounds | {"caller"}


def test_lazy_checkpoints_only_in_the_loop_driver():
    """A lazy ``localCheckpoint`` is a loop round's idiom: new loops go
    through ``operators/iterate.py`` so they get its cap, tagging and
    release instead of hand-rolling them."""
    lazy = re.compile(r"localCheckpoint\(\s*(eager\s*=\s*)?False")
    driver = PKG / "operators" / "iterate.py"
    sites = [
        f"{path.relative_to(PKG)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path != driver
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if lazy.search(line)
    ]
    assert not sites, f"lazy checkpoint outside the loop driver: {sites}"
