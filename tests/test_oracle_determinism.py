"""The driver's oracle SQL text must not depend on PYTHONHASHSEED.

Oracles embed literals built in Python (e.g. the gazetteer alias rows); a
set iterated while building them orders those literals by string hash,
which changes from one interpreter to the next and flips the SQL text's
fingerprint with no code change."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RENDER = (
    "import json, sys, __spark_entry__ as e;"
    "sys.stdout.write(json.dumps(e.oracle_sql(), sort_keys=True))"
)


def _render(hash_seed: str) -> bytes:
    env = {**os.environ, "PYTHONHASHSEED": hash_seed}
    return subprocess.run(
        [sys.executable, "-c", _RENDER],
        cwd=REPO, env=env, check=True, capture_output=True,
    ).stdout


def test_oracle_sql_is_independent_of_hash_seed():
    first, second = _render("1"), _render("2")
    assert first, "oracle_sql() rendered nothing"
    assert first == second
