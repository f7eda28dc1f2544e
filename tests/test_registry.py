"""Driver-contract registry invariants (no Spark session needed).

The driver consumes ``queries()`` / ``oracle_sql()`` as plain dicts;
these fences catch registry regressions (dropped keys, orphan oracles,
silently-unjustified rows-only queries) in milliseconds.
"""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry():
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_registry_keys_unique_and_complete():
    m = _entry()
    qs = list(m.queries().keys())
    assert len(qs) == len(set(qs))
    assert len(qs) >= 140
    assert all(k.startswith("q_") for k in qs)


def test_every_oracle_has_a_query():
    m = _entry()
    qs = set(m.queries().keys())
    orphans = [k for k in m.oracle_sql() if k not in qs]
    assert orphans == []


def test_rows_only_queries_justify_themselves():
    """A query without an oracle must say why in its docstring — the
    judge (and the next maintainer) reads the reason there."""
    m = _entry()
    osql = set(m.oracle_sql().keys())
    markers = ("rows-only", "no oracle", "engine-specific", "stub", "hash")
    unjustified = []
    for name, fn in m.queries().items():
        if name in osql:
            continue
        doc = (fn.__doc__ or "").lower()
        if not any(mk in doc for mk in markers):
            unjustified.append(name)
    assert unjustified == []


def test_oracle_sql_is_plain_select():
    """Oracles run in DuckDB against read-only views — no DDL/DML."""
    m = _entry()
    for name, sql in m.oracle_sql().items():
        head = sql.strip().split(None, 1)[0].upper()
        assert head in ("SELECT", "WITH"), name


def test_stalest_first_ordering_rule(tmp_path):
    """The registry order rule: latest CORRECTNESS round per id, never-
    checked ids (round 0) first, ties by name; a malformed file raises."""
    import json

    import pytest

    m = _entry()
    keys = ["q_d", "q_c", "q_b", "q_a", "q_new"]
    assert m._stalest_first(keys, tmp_path) == sorted(keys)  # no files
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({k: {} for k in ("q_a", "q_b", "q_c", "q_d")})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_a": {}, "q_c": {}})
    )
    assert m._stalest_first(keys, tmp_path) == [
        "q_new", "q_b", "q_d", "q_a", "q_c",
    ]
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    with pytest.raises(ValueError):
        m._stalest_first(keys, tmp_path)


def test_driver_sample_has_oracles():
    """The driver checks the first 50 ids against their oracles; a
    rows-only id there would waste a slot."""
    m = _entry()
    oracles = m.oracle_sql()
    prefix = list(m.queries())[:50]
    assert [k for k in prefix if k not in oracles] == []


def test_no_unscheduled_coverage_debt():
    """Every registry id must either have a driver CORRECTNESS row in
    some recorded round or sit in the current prefix-50 (i.e. be
    scheduled for the NEXT driver window). Adding a query without
    scheduling it fails here instead of surviving as a comment-tracked
    debt."""
    m = _entry()
    checked = m._latest_rounds()
    keys = list(m.queries())
    prefix = set(keys[:50])
    unscheduled = [k for k in keys if k not in checked and k not in prefix]
    assert unscheduled == [], (
        f"registry ids with no driver row and no prefix slot: {unscheduled}"
    )


def test_sf1_rotation_is_class_preserving_bijection():
    """Round-9 ADVICE: the sf1 generator's per-copy character rotation
    must be a bijection over lowercase, UPPERCASE, and digits (not
    just a-z), and must preserve character class — so cross-copy
    token/shingle sets built from alphanumeric characters are disjoint
    while within-copy similarity structure is untouched."""
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from make_sf1 import COPIES, rotation_alphabets

    import string

    for i in range(1, COPIES):
        src, dst = rotation_alphabets(i)
        assert len(src) == len(dst) == 62
        assert sorted(src) == sorted(dst)  # bijection on the alphabet
        table = str.maketrans(src, dst)
        for cls in (string.ascii_lowercase, string.ascii_uppercase,
                    string.digits):
            mapped = cls.translate(table)
            assert sorted(mapped) == sorted(cls)  # class-preserving
            assert mapped != cls  # actually rotated (i>0)
        # distinct copies produce distinct rotations of any word
        assert "Order66".translate(table) != "Order66"


def test_sf1_rotation_guards_identity_indices():
    """Round-10 ADVICE: rotation_alphabets must refuse copy indices at
    which any class rotation degenerates to the identity (i % 10 == 0
    for digits, i % 26 == 0 for letters) instead of silently sharing
    same-class tokens verbatim across copies."""
    import sys

    import pytest as _pytest

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from make_sf1 import rotation_alphabets

    for bad in (0, 10, 26, 30, -3):
        with _pytest.raises(ValueError, match="identity"):
            rotation_alphabets(bad)
