"""The DuckDB oracle SQL text of ``__spark_entry__.oracle_sql()`` is
part of the entry contract and is fingerprinted, so a refactor of the
modules that generate it must leave every entry byte-identical. ``oracle_sql.sha256.json`` holds the sha256 of each
entry's text; regenerate it only for a deliberate, announced change of
an oracle::

    python -c "import json, hashlib, __spark_entry__ as m; json.dump(
        {k: hashlib.sha256(v.encode()).hexdigest()
         for k, v in sorted(m.oracle_sql().items())},
        open('tests/oracle_sql.sha256.json', 'w'), indent=1, sort_keys=True)"
"""

import hashlib
import json
import os

import __spark_entry__

DIGESTS = os.path.join(os.path.dirname(__file__), "oracle_sql.sha256.json")


def test_oracle_sql_text_is_byte_stable():
    want = json.load(open(DIGESTS))
    got = {k: hashlib.sha256(v.encode()).hexdigest()
           for k, v in __spark_entry__.oracle_sql().items()}
    changed = sorted(k for k in want.keys() & got.keys() if want[k] != got[k])
    assert not changed, f"oracle SQL text changed: {changed}"
    assert got.keys() == want.keys(), (
        f"added: {sorted(got.keys() - want.keys())}, "
        f"removed: {sorted(want.keys() - got.keys())}")
