"""The driver contract in ``__spark_entry__``: the order in which
``queries()`` presents the registry, derived from the committed
CORRECTNESS_r*.json files, and an engine that reads none of them."""

from __future__ import annotations

import json
import re
import zlib
from pathlib import Path

import __spark_entry__ as E
from inverted_index_using_the_map_reduce_paradigm_spark import registry

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "inverted_index_using_the_map_reduce_paradigm_spark"


def test_queries_keep_the_rotated_driver_order():
    """Queries with no green driver row come first, oracle-backed ones
    before rows-only ones, each in registration order; the
    driver-verified ones follow in the next round's crc32 rotation.
    Coverage is re-read from the committed files here."""
    rounds = {
        int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name).group(1)): p
        for p in ROOT.glob("CORRECTNESS_r*.json")
    }
    assert rounds
    covered = set()
    for p in rounds.values():
        for name, row in json.loads(p.read_text()).items():
            if not isinstance(row, dict):
                continue
            green = row.get("rows_match") and row.get("schema_match") and row.get(
                "hash_match"
            )
            rows_only = (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if green or rows_only:
                covered.add(name)
    next_round = max(rounds) + 1

    reg = registry.load_all()
    assert list(reg) == list(registry.QUERIES)  # registration order
    fresh = [n for n in reg if n not in covered]
    want = (
        [n for n in fresh if reg[n].oracle]
        + [n for n in fresh if not reg[n].oracle]
        + sorted(
            (n for n in reg if n in covered),
            key=lambda n: zlib.crc32(f"{n}|r{next_round}".encode()),
        )
    )
    assert covered
    assert list(E.queries()) == want
    assert list(E.oracle_sql()) == [n for n in want if reg[n].oracle]


def test_engine_reads_no_grading_artifact():
    hits = [
        str(p.relative_to(ROOT))
        for p in PKG.rglob("*.py")
        if "CORRECTNESS_r" in p.read_text()
    ]
    assert hits == []
