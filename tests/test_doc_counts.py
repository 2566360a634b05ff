"""Documentation counts are GENERATED facts, not prose: every "N
registered queries" claim in README.md and ARCHITECTURE.md must equal
``len(QUERIES)`` and every hash-checked count must equal
``len(ORACLES)``, so the numbers can never drift from the registry
again (they were stale two rounds running)."""

import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("doc", ["README.md", "ARCHITECTURE.md"])
def test_readme_counts_match_registry(doc):
    from dataqtor_spark.queries import ORACLES, QUERIES

    text = open(os.path.join(REPO, doc)).read()
    reg_claims = [int(m) for m in
                  re.findall(r"(\d+) registered queries", text)]
    assert reg_claims, f"{doc} must state the registry size"
    assert all(n == len(QUERIES) for n in reg_claims), (
        f"{doc} says {reg_claims} registered queries; registry has "
        f"{len(QUERIES)} — update {doc}")
    hash_claims = [int(m) for m in re.findall(
        r"(\d+)(?: of them hash-checked| DuckDB-hash-checked)", text)]
    assert hash_claims, f"{doc} must state the hash-checked count"
    assert all(n == len(ORACLES) for n in hash_claims), (
        f"{doc} says {hash_claims} hash-checked; registry has "
        f"{len(ORACLES)} oracle-backed queries — update {doc}")


def test_rows_only_set_is_exactly_the_documented_one():
    """The registry's only rows-only entry is the MLlib-seeded IVF
    variant (inherently non-replayable); anything else appearing here
    means an oracle was forgotten."""
    from dataqtor_spark.queries import ORACLES, QUERIES

    rows_only = sorted(set(QUERIES) - set(ORACLES))
    assert rows_only == ["ann03b_ivf_mllib_topk"], rows_only
