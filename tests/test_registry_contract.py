"""Pin the driver contract ``__spark_entry__`` derives from its one
registry table: the ordered ``queries()`` keys, the ``oracle_sql()``
name -> SQL text mapping, and the ``BUILD_TIME_QUERIES`` set.  Each is
compared by digest, so a refactor of the registry cannot reorder a
key, drop an oracle or lose a build-time mark unnoticed.  No Spark
session is started: the module only builds the table at import.

A deliberate change re-stamps the digest it moves: after
``scripts/rotate_registry.py`` only ``KEYS_SHA256`` changes; a new or
edited query also moves the other two.  A failure prints the live
digest to stamp.
"""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as entry_mod

KEYS_SHA256 = "61bc3c70883414f631ec2eb6b33cb0b09aba4c00706b7af530ebce2ddb392895"
ORACLES_SHA256 = "39ccc9fc6dd445d8ae54f376a105fa74f43a6b63de4b550444bc2c2deba39067"
BUILD_TIME_SHA256 = "c80f5e149445fd09980f8bee3bb93fa614d607e0cad8bca8bc4f3a2f23ba52e5"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_query_key_order_is_pinned():
    live = _sha256("\n".join(entry_mod.queries()))
    assert live == KEYS_SHA256, f"queries() key order changed; digest now {live}"


def test_oracle_text_is_pinned():
    live = _sha256(json.dumps(entry_mod.oracle_sql(), sort_keys=True))
    assert live == ORACLES_SHA256, f"oracle_sql() changed; digest now {live}"


def test_build_time_set_is_pinned():
    live = _sha256("\n".join(sorted(entry_mod.BUILD_TIME_QUERIES)))
    assert live == BUILD_TIME_SHA256, f"BUILD_TIME_QUERIES changed; digest now {live}"


def test_every_query_has_an_oracle_in_the_same_order():
    assert list(entry_mod.oracle_sql()) == list(entry_mod.queries())
