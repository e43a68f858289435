"""Every probe key a source comment cites must exist in SCALE_PROBE.json.

A citation such as ``SCALE_PROBE r13_sortdrop_ab`` is the evidence for a
shipped shape; one that names no committed entry is a claim without a
measurement.  A cited key matches a top-level key of SCALE_PROBE.json
either exactly or with that key's ``_<N>x`` scale suffix dropped (so
``flagship_join_ab`` cites ``flagship_join_ab_10000x``)."""

from __future__ import annotations

import json
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ("cardano_analytics_duckdb_spark", "tests", "bench.py")
# round-prefixed keys (r13_text_ab) and A/B keys (flagship_join_ab)
_KEY = re.compile(r"\b(r\d{2}_[A-Za-z0-9_]+|[A-Za-z0-9_]+_ab)\b")
_SCALE_SUFFIX = re.compile(r"_\d+x$")


def _probe_keys() -> set[str]:
    keys = set(json.loads((ROOT / "SCALE_PROBE.json").read_text()))
    return keys | {_SCALE_SUFFIX.sub("", k) for k in keys}


def _sources():
    for name in SCANNED:
        path = ROOT / name
        yield from sorted(path.rglob("*.py")) if path.is_dir() else [path]


def test_cited_probe_keys_exist():
    known = _probe_keys()
    cited = [
        (f"{path.relative_to(ROOT)}:{lineno}", key)
        for path in _sources()
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        for key in _KEY.findall(line)
    ]
    assert cited, "no probe citation found: the key pattern matches nothing"
    dangling = [f"{where}: {key}" for where, key in cited if key not in known]
    assert not dangling, "citations of missing probe keys:\n" + "\n".join(
        dangling
    )
