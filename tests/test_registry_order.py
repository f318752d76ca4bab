"""The driver correctness-checks a 50-query PREFIX of ``load_all()``, so
ordering is evidence strategy: failed or unrecorded names first, then
the oldest driver evidence.  Pin that order and the registry's size.
"""

from __future__ import annotations

import importlib

import pytest

from big_data_lab_three_spark import queries
from big_data_lab_three_spark.queries import (
    _MODULES,
    REGISTRY,
    _evidence_rounds,
    load_all,
)


def test_every_query_listed_exactly_once():
    names = list(load_all())
    assert sorted(names) == sorted(REGISTRY)
    assert len(names) == len(set(names))


def _verified() -> set[str]:
    return {n for n, rnd in _evidence_rounds().items() if rnd >= 0}


def test_unverified_precede_verified():
    """No name with passing driver evidence may sit in front of a failed
    or unrecorded one — that would waste a driver slot on evidence we
    already have.  Unverified names keep registration order."""
    verified = _verified()
    registered = {n: i for i, n in enumerate(REGISTRY)}
    names = list(load_all())
    seen_verified = False
    for n in names:
        if n in verified:
            seen_verified = True
        else:
            assert not seen_verified, (
                f"unverified {n!r} ordered after a verified name"
            )
    head = [registered[n] for n in names if n not in verified]
    assert head == sorted(head)


def test_verified_tail_rotates_by_evidence_age():
    """Within the verified tail, names sort oldest-evidence-first, with
    registration order breaking ties, so the 50-name prefix re-proves
    the stalest CORRECTNESS records each round instead of the same
    names forever."""
    evidence = _evidence_rounds()
    verified = _verified()
    registered = {n: i for i, n in enumerate(REGISTRY)}
    keys = [
        (evidence[n], registered[n]) for n in load_all() if n in verified
    ]
    assert keys == sorted(keys)


@pytest.mark.parametrize("mod", _MODULES)
def test_every_query_module_imports(mod):
    importlib.import_module(mod)


def test_registry_size_is_pinned():
    assert len(load_all()) == 277


def test_load_all_fails_loud_on_broken_module(monkeypatch):
    monkeypatch.setattr(
        queries, "_MODULES", (*_MODULES, "big_data_lab_three_spark.queries.nope")
    )
    with pytest.raises(ModuleNotFoundError):
        queries.load_all()


def test_evidence_rounds_compare_parsed_round_numbers(tmp_path):
    """'Latest wins' must compare PARSED round numbers, not filename
    lexicographic order: an unpadded r9 vs r10, and r100 vs r11, must
    resolve to the numerically-latest record (review finding r13)."""
    import json

    def write(rnd_name, rows):
        (tmp_path / f"CORRECTNESS_{rnd_name}.json").write_text(
            json.dumps(rows)
        )

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = {**green, "hash_match": False}
    # r9 (unpadded, lexicographically LAST) green; r10 records failure:
    # the numerically-later r10 failure must win -> re-verify (-1)
    write("r9", {"q1": green})
    write("r10", {"q1": red})
    # r11 green; r100 (lexicographically BEFORE r11) records failure:
    # numerically-later r100 must win
    write("r11", {"q2": green})
    write("r100", {"q2": red})
    # and the symmetric case: later pass clears an earlier failure
    write("r8", {"q3": red})
    write("r12", {"q3": green})
    got = _evidence_rounds(str(tmp_path))
    assert got["q1"] == -1
    assert got["q2"] == -1
    assert got["q3"] == 12
