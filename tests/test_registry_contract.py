"""Pure-Python invariants of the driver contract — cheap to run, and
exactly the mistakes a fast-growing registry makes: an oracle keyed to
a missing query, an oracle that is not a plain SELECT, a duplicate key
silently shadowing an earlier entry, a query or oracle that changed
while code only moved."""

from __future__ import annotations

import hashlib
import re

from movie_data_etl_pipeline_spark.plans.fixture_queries import ORACLES, QUERIES


# sha256 over the sorted query names, then the sorted (name, oracle SQL)
# pairs. Reordering or moving entries between modules keeps it; adding,
# renaming or dropping a query, or editing any oracle, changes it.
REGISTRY_PIN = "cb2835a3c2744053df61f73de279d3eb67eb72314d359543f3467802598d5bcc"


def test_every_oracle_has_a_query():
    missing = [k for k in ORACLES if k not in QUERIES]
    assert not missing, f"oracles without queries: {missing}"


def test_oracles_are_select_only():
    banned = re.compile(
        r"\b(INSERT|UPDATE|DELETE|CREATE|DROP|ATTACH|COPY|PRAGMA|INSTALL|LOAD)\b",
        re.IGNORECASE,
    )
    offenders = {}
    for name, sql in ORACLES.items():
        # string literals (e.g. a CASE arm labelled 'insert') are data,
        # not constructs — strip them before scanning
        m = banned.search(re.sub(r"'[^']*'", "''", sql))
        if m:
            offenders[name] = m.group(0)
    assert not offenders, f"non-SELECT constructs in oracles: {offenders}"


def test_queries_callable_with_two_args():
    import inspect

    bad = []
    for name, fn in QUERIES.items():
        params = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.default is inspect.Parameter.empty
            and p.kind
            in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        if len(params) != 2:
            bad.append(name)
    assert not bad, f"queries not (spark, sf_dir) callables: {bad}"


def test_registry_pin():
    h = hashlib.sha256()
    for name in sorted(QUERIES):
        h.update(name.encode() + b"\n")
    for name, sql in sorted(ORACLES.items()):
        h.update(name.encode() + b"\0" + sql.encode() + b"\n")
    assert (len(QUERIES), len(ORACLES)) == (343, 335)
    assert h.hexdigest() == REGISTRY_PIN, (
        "registry names or oracle SQL changed; re-pin only for an intended change"
    )
