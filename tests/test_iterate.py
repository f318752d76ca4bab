"""The shared loop driver (``operators/iterate.py``): iterative loops
checkpoint, cap, tag and release their rounds through it alone."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from big_data_lab_three_spark.operators.dedup import connected_components
from big_data_lab_three_spark.queries import load_all

PKG = pathlib.Path(__file__).resolve().parent.parent / "big_data_lab_three_spark"


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _left_persisted(spark, sf_dir, name) -> set:
    """RDDs a query leaves persisted after ``collect()`` + ``clearCache()``."""
    before = _persisted(spark)
    load_all()[name].spark(spark, sf_dir).collect()
    spark.catalog.clearCache()
    return _persisted(spark) - before


@pytest.mark.parametrize(
    "name, kept",
    [
        # the pair input, edges and seed labels, the result and the
        # last round; with no release its superseded rounds make it 6
        ("cc_star_census", 5),
        ("kcore_peel_census", 3),
    ],
    ids=["cc_star_census", "kcore_peel_census"],
)
def test_loop_query_releases_superseded_rounds(spark, sf_dir, name, kept):
    """``clearCache()`` does not free checkpoints, so a loop that kept
    every round would leave one RDD per round behind.  Only the state
    made outside the loop and its last rounds may stay."""
    left = _left_persisted(spark, sf_dir, name)
    assert len(left) <= kept, f"{name} left {len(left)} persisted RDDs"


# persisted RDDs each tokenizer name may leave: a frozen apply keeps
# ``_heldout_fold``'s checkpoint of the held-out (lang, tok, cnt) table
_TRAINING_LEAVES = {
    "bpe_train_merges": 0,
    "bpe_train_merges_k50": 0,
    "bpe_segment_census": 0,
    "bpe_fertility_by_lang": 0,
    "bpe_corpus_apply_census": 0,
    "unigram_lm_viterbi_census": 0,
    "unigram_lm_em_round": 0,
    "unigram_lm_round2_census": 0,
    "unigram_lm_convergence": 0,
    "unigram_corpus_apply_census": 0,
    "bpe_frozen_oov_apply_census": 1,
    "unigram_frozen_oov_apply_census": 1,
}


@pytest.mark.parametrize("name", list(_TRAINING_LEAVES))
def test_bpe_training_persists_nothing(spark, sf_dir, name):
    """BPE and unigram-LM both train inside one grouped-map stage, so a
    name whose only state was the training loop leaves no persisted
    RDD behind."""
    left = _left_persisted(spark, sf_dir, name)
    kept = _TRAINING_LEAVES[name]
    assert len(left) <= kept, f"{name} left {len(left)} persisted RDDs"


def _path_components(spark, sf_dir):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    return connected_components(pairs)


def _pagerank(spark, sf_dir):
    return load_all()["pagerank_check"].spark(spark, sf_dir)


@pytest.mark.parametrize(
    "build, loop, rounds",
    [
        # a 4-node path converges in 3 rounds; round 4 sees no change
        (_path_components, "connected_components", 4),
        # a loop that only runs to its round cap
        (_pagerank, "pagerank", 3),
    ],
    ids=["connected_components", "pagerank"],
)
def test_loop_rounds_tag_their_jobs_and_restore_the_caller(
    spark, sf_dir, build, loop, rounds
):
    """Every job a round launches is described ``"<loop> round <r>"``;
    the caller's job group covers the loop and comes back unchanged,
    and so does its description."""
    sc = spark.sparkContext
    group = f"iterate-tagging-{loop}"
    sc.setJobGroup(group, "caller")
    try:
        build(spark, sf_dir).collect()
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    descs = set()
    for job in sc.statusTracker().getJobIdsForGroup(group):
        d = jsc.statusStore().job(job).description()
        descs.add(d.get() if d.isDefined() else None)
    tags = {f"{loop} round {r}" for r in range(1, rounds + 1)}
    assert descs == tags | {"caller"}


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


_CACHING = {"localCheckpoint", "persist", "cache"}


def _caches_in_loops(pkg: pathlib.Path) -> list[str]:
    """``path:line`` of every ``localCheckpoint``/``persist``/``cache``
    call inside a ``for``/``while`` body of ``pkg``, the loop driver
    excepted."""
    driver = pkg / "operators" / "iterate.py"
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        if path == driver:
            continue
        for loop in ast.walk(ast.parse(path.read_text())):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            for node in (n for s in loop.body for n in ast.walk(s)):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _CACHING
                ):
                    line = node.func.end_lineno  # the method name's line
                    sites.append(f"{path.relative_to(pkg)}:{line}")
    return sorted(set(sites))


def test_loops_cache_only_through_the_loop_driver():
    """README rule 6: a loop keeps its per-round state only through
    ``Rounds.checkpoint``, which caps, tags and releases the rounds.
    A loop body that checkpoints, persists or caches by itself keeps
    every round alive and re-implements the driver."""
    sites = _caches_in_loops(PKG)
    assert not sites, f"loop state cached outside the loop driver: {sites}"
