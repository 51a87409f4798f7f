"""The oracle SQL is the correctness reference: every ``oracle_sql()``
string and the ``queries()`` key set must stay byte-identical to the
committed fingerprint, so refactors of ``__spark_entry__.py`` cannot
change them silently.  A deliberate oracle change must update
``oracle_fingerprint.json`` in the same commit."""

import hashlib
import json
import os

import __spark_entry__ as E

FINGERPRINT = os.path.join(os.path.dirname(__file__), "oracle_fingerprint.json")


def test_oracles_match_committed_fingerprint():
    with open(FINGERPRINT) as f:
        want = json.load(f)
    assert sorted(E.queries()) == want["queries"]
    got = {
        name: hashlib.sha256(sql.encode()).hexdigest()
        for name, sql in E.oracle_sql().items()
    }
    assert got == want["oracle_sql_sha256"]
