"""Standing invariant for the driver's 50-entry correctness window
(VERDICT r4 #9): the registry head must stay oracle-backed and the
union of driver-green rounds must keep covering every oracle-hard
query, so the rotation cannot silently rot as queries are added."""
import json
import os

import raster_tools_spark.queries as Q

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _round_keys(name):
    path = os.path.join(ROOT, name)
    if not os.path.exists(path):
        return set()
    return set(json.load(open(path)))


def test_head_window_is_oracle_backed_and_covering():
    q = list(Q.queries())
    hard = set(Q.oracle_sql())

    # every key the driver window inspects must have an oracle twin
    window = q[:50]
    assert all(k in hard for k in window), [
        k for k in window if k not in hard
    ]

    # no duplicates / dangling names in the window
    assert len(set(window)) == 50

    # union coverage: every oracle-hard query is either in THIS
    # window or was driver-green in a recorded prior round
    prior = _round_keys("CORRECTNESS_r03.json") | _round_keys(
        "CORRECTNESS_r04.json"
    )
    uncovered = hard - set(window) - prior
    assert not uncovered, sorted(uncovered)

    # rows-only tails sort after every oracle-hard query
    first_rows_only = next(
        (i for i, k in enumerate(q) if k not in hard), len(q)
    )
    assert all(k not in hard for k in q[first_rows_only:])


def test_registry_contract_is_pinned():
    """The oracle SQL text and the query names are the behaviour
    contract: a refactor must leave both byte-for-byte unchanged.
    Change these digests only together with a deliberate registry or
    oracle change, and say why."""
    import hashlib

    sql = Q.oracle_sql()
    names = sorted(Q.queries())
    assert len(sql) == 143 and len(names) == 147
    assert hashlib.md5(
        json.dumps(sql, sort_keys=True).encode()
    ).hexdigest() == "553a03c4d75150f3bab97cd8d602f9a6"
    assert hashlib.md5(
        "\n".join(names).encode()
    ).hexdigest() == "0082d5210d5ea43cdc3942e152f84eaf"
