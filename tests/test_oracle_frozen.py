"""The DuckDB oracle texts are frozen: every ``oracle_sql()`` entry must
hash to its pin in ``tests/fixtures/oracle_sql_sha256.json``, so an
unintended edit to a template (or to a fragment a Spark-side fork shares
with it) shows up here, without a Spark session.

A declared oracle fix (ROADMAP direction 5) regenerates the pin in the
same change and lists the changed query names in CHANGES.md:

    python - <<'PY'
    import hashlib, json, __spark_entry__ as ent
    pins = {k: hashlib.sha256(v.encode()).hexdigest()
            for k, v in ent.oracle_sql().items()}
    json.dump(pins, open("tests/fixtures/oracle_sql_sha256.json", "w"),
              indent=1, sort_keys=True)
    PY
"""

from __future__ import annotations

import hashlib
import json
import os

import __spark_entry__ as ent

PIN = os.path.join(os.path.dirname(__file__), "fixtures",
                   "oracle_sql_sha256.json")


def test_oracle_texts_match_pin():
    with open(PIN) as fh:
        pins = json.load(fh)
    now = {k: hashlib.sha256(v.encode()).hexdigest()
           for k, v in ent.oracle_sql().items()}
    assert sorted(now) == sorted(pins)
    changed = sorted(k for k in pins if now[k] != pins[k])
    assert not changed, f"oracle SQL text changed: {changed}"
