"""tools/skew_probe.py rewrites its SCALE_PROBE.md section from what it
measured; the rewrite must keep every guard row, the co-purchase rows
included, and leave the other sections alone.  No Spark session."""

from tools import skew_probe as SP

FIXTURE = """# SCALE_PROBE

## Uniform probe

| query | t (s) |
|---|---|
| d03_minhash_pairs | 2.25 |

## Skewed-corpus probe (dedup banding)

| operator | guard | pairs @h=200 | t (s) | pairs @h=800 | t (s) | pair growth |
|---|---|---|---|---|---|---|
| ngram_jaccard_pairs | none (uncut) | 19,925 | 0.13 | 319,625 | 0.12 | 16.0× |
| copurchase_pairs | basket_cap=None | 19,900 | 4.20 | 319,600 | 1.34 | 16.1× |
| copurchase_pairs | basket_cap=16 | 0 | 1.22 | 0 | 0.79 | 0.0× |

An old paragraph.

## 100x probe — headline bench queries

| query | t 1x (s) |
|---|---|
| mb01_copurchase_pairs | 2.42 |
"""


def _results():
    """Quadratic unguarded growth, flat guarded rows, as the probe reads."""
    return {h: {key: ((h * (h - 1) // 2, 1.0) if i % 2 == 0 else (0, 0.5))
                for i, key in enumerate(SP.ROWS)}
            for h in SP.HS}


def test_rewrite_keeps_copurchase_rows_and_other_sections():
    out = SP.rewrite(FIXTURE, SP.section("sf0.01", _results()))
    for op, guard in SP.ROWS:
        assert out.count(f"| {op} | {guard} |") == 1, (op, guard)
    assert "| copurchase_pairs | basket_cap=None | 19,900 | 1.00 | 319,600 | 1.00 | 16.1× |" in out
    assert "| copurchase_pairs | basket_cap=16 | 0 | 0.50 | 0 | 0.50 | 0.0× |" in out
    assert "An old paragraph." not in out
    head, tail = FIXTURE.split(SP.MARK)
    assert out.startswith(head)
    assert out.endswith(tail[tail.index("\n## 100x probe"):])
    # a second run replaces the section, it does not stack another
    assert SP.rewrite(out, SP.section("sf0.01", _results())) == out


def test_rewrite_appends_a_missing_section():
    block = SP.section("sf0.01", _results())
    out = SP.rewrite("# SCALE_PROBE\n", block)
    assert out == "# SCALE_PROBE\n\n" + block
