"""Predicate-pruned scans agree with the filtered full read of a snapshot.

``LakeTable.scan(where, version)`` selects its files through the one rule
of ``lake/pruning.py``: in a bucket holding unmerged MoR deltas only key
terms and ``>``/``>=`` terms on the order column may drop files, and the
kept files resolve before the filter. ``read(version).filter(where)``
resolves every file first. Both must return the same full rows over the
MoR histories of ``test_read_since_equivalence`` (deletes, late events,
an upsert/delete tie, NULL orders, auto-compaction with retained
tombstones), for key ``=``/``IN``/range terms, order-column ``>``/``>=``/
``<=`` terms, payload terms on a zone-mapped column and mixes of them.
"""

import datetime as dt
import os
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.test_read_since_equivalence import NKEYS, T0, _build, _histories


def _order_lit(order, x):
    """An order-column literal for ``x``: a number, or a quoted timestamp
    string (canonicalized in the session time zone) for ``ts``."""
    if order != "ts":
        return str(x)
    return f"'{(T0 + dt.timedelta(seconds=x)):%Y-%m-%d %H:%M:%S}'"


def _assert_same(t, where, version=None):
    want = sorted(map(tuple, t.read(version).filter(where).collect()), key=repr)
    got = sorted(map(tuple, t.scan(where, version).collect()), key=repr)
    assert got == want, (where, version)


_TERMS = st.sampled_from(
    [
        "k = {a}", "k in ({a}, {b})", "k >= {a}", "k < {b}",
        "{o} > {x}", "{o} >= {x}", "{o} <= {x}",
        "n = {m}", "n > {m}", "n <= {m}",
    ]
)


@st.composite
def _wheres(draw, order):
    """1-3 conjuncts over key, order and payload columns."""
    conj = []
    for tmpl in draw(st.lists(_TERMS, min_size=1, max_size=3)):
        a, b = sorted(draw(st.lists(st.integers(0, NKEYS - 1), min_size=2, max_size=2)))
        x = _order_lit(order, draw(st.integers(-12, 30)))
        conj.append(tmpl.format(a=a, b=b, o=order, x=x, m=draw(st.integers(-1, 9))))
    return " and ".join(conj)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(case=_histories(), data=st.data())
def test_scan_matches_filtered_read_over_mor_histories(spark, scratch, case, data):
    order, batches, threshold, old, *_ = case
    t, versions = _build(
        spark, os.path.join(scratch, uuid.uuid4().hex), order, batches, threshold
    )
    for where in data.draw(st.lists(_wheres(order), min_size=4, max_size=4)):
        for version in (None, versions[old]):
            _assert_same(t, where, version)


def test_scan_prunes_delta_buckets_only_by_resolve_safe_terms(spark, scratch):
    """Each key's preload row (``seq = -10 - k``, ``n = k``) is superseded
    by a delta upsert in a file of its own whose order and payload bounds
    exclude the predicates below. Dropping that delta file by the payload
    term or by the order-column upper bound would resurrect the base row;
    dropping files by key terms or order-column lower bounds is sound and
    still prunes."""
    batches = [[(2, 5, 9, "upsert")], [(3, 6, 8, "upsert"), (4, 7, 1, "delete")]]
    t, versions = _build(spark, os.path.join(scratch, "t"), "seq", batches, 16)
    assert t.delta_file_counts()
    for where in [
        "n = 2", "n <= 3", "n = 3 and k = 3", "seq <= 0", "seq < 6",
        "seq <= 5 and k in (2, 3)", "seq > 5", "seq >= 6 and n >= 0",
        "k = 2", "k in (2, 4)", "k >= 3 and seq > -20", "seq > 6",
    ]:
        for version in (None, versions[1]):
            _assert_same(t, where, version)
    files = t.manifest()["files"]
    opened = t.scan("seq > 6").inputFiles()
    assert 0 < len(opened) < len(files)
