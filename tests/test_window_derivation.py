"""Machine-checks the round-15 window flip's provenance claims.

The standing process says the sweep window is DERIVED, not typed:
rotation head (keys added/implementation-changed since the last cut)
+ the stalest driver-green keys, staleness computed from the union of
all CORRECTNESS_r*.json artifacts. This test re-derives that fill
from the artifacts on disk so a typo in the hand-written list (or a
silently dropped artifact) fails loudly instead of shipping a window
that skips a staler key.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re

import pytest

from quickbooks_aws_etl_pipeline_spark.plans import (
    _ACTIVE_FILL,
    _ACTIVE_HEAD,
    _ACTIVE_WINDOW,
    QUERIES,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# md5 of the round-14 window's sorted, newline-joined key set, taken from
# the hand-typed list before it left plans/__init__.py. The fast test
# tier reads that window back from CORRECTNESS_r14.json (conftest.py),
# so this pin keeps the artifact honest.
_R14_WINDOW_MD5 = "64bfbb950d10959e06a2ab338a880e27"


def _artifacts(max_round: int) -> dict[str, int]:
    """Latest driver round per key from CORRECTNESS_r01..r{max_round}."""
    latest: dict[str, int] = {}
    files = sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")))
    if not files:
        pytest.skip("no CORRECTNESS artifacts on disk")
    for f in files:
        rnd = int(re.search(r"r(\d+)\.json$", f).group(1))
        if rnd > max_round:
            continue
        for key in json.load(open(f)):
            latest[key] = max(latest.get(key, 0), rnd)
    return latest


def test_r14_window_landed_green_and_set_equal():
    path = os.path.join(_REPO, "CORRECTNESS_r14.json")
    if not os.path.exists(path):
        pytest.skip("CORRECTNESS_r14.json not on disk")
    rows = json.load(open(path))
    digest = hashlib.md5("\n".join(sorted(rows)).encode()).hexdigest()
    assert digest == _R14_WINDOW_MD5
    for key, v in rows.items():
        assert v["rows_match"] and v["schema_match"] and not v["err"], key
        assert v.get("hash_match") in (True, None), key


def test_r15_stale_fill_is_derived_from_artifacts():
    latest = _artifacts(max_round=14)
    head = set(_ACTIVE_HEAD)
    stale = sorted(
        ((rnd, key) for key, rnd in latest.items() if key not in head),
    )
    expected = [key for _, key in stale[: len(_ACTIVE_FILL)]]
    assert _ACTIVE_FILL == expected


def test_r15_window_shape():
    assert len(_ACTIVE_WINDOW) == 50
    assert len(set(_ACTIVE_WINDOW)) == 50
    unknown = [k for k in _ACTIVE_WINDOW if k not in QUERIES]
    assert not unknown
    # the curate swap actually happened: the registry iterates the
    # window first, so the driver's 50-key sweep is exactly it
    assert list(QUERIES)[:50] == _ACTIVE_WINDOW
