"""Byte-exact contract tests for the ordered document fold.

Expected values derived by hand from the reference semantics
(_join_markdown_pages, autoscan/autoscan.py:353-383); the Spark fold is then
checked against ``join_pages`` on an adversarial corpus.
"""

import random
import sys

import pytest

from autoscan_spark.kernels.pagejoin import PAGE_BREAK, clean_page, join_pages


CASES = [
    ([], ""),
    (["only"], "only"),
    (["a", "b"], "a\n\nb"),
    # table continuation: prev ends '|' AND cur starts '|' → single newline
    (["| h1 | h2 |\n| 1 | 2 |", "| 3 | 4 |"], "| h1 | h2 |\n| 1 | 2 |\n| 3 | 4 |"),
    # only one side pipe-ish → double newline
    (["ends with |", "no pipe start"], "ends with |\n\nno pipe start"),
    (["no pipe end", "| starts"], "no pipe end\n\n| starts"),
    # marker scrub + rstrip happens before adjacency
    (["row |---PAGE BREAK---  ", "| next"], "row |\n| next"),
    # empty pages removed BEFORE adjacency: a|b where middle vanishes
    (["| a |", "   \n  ", "| b |"], "| a |\n| b |"),
    (["", "x", ""], "x"),
    (["---PAGE BREAK---", "x"], "x"),
    (["  \n ", "\t"], ""),
    # rstrip only (leading whitespace preserved)
    (["  indented", "next"], "  indented\n\nnext"),
    # marker in the middle of a page
    (["before ---PAGE BREAK--- after", "z"], "before  after\n\nz"),
]


@pytest.mark.parametrize("pages,expected", CASES)
def test_join_pages(pages, expected):
    assert join_pages(pages) == expected


def test_clean_page():
    assert clean_page("x ---PAGE BREAK--- y  \n") == "x  y"
    assert clean_page("---PAGE BREAK---") == ""


_WS = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]


def test_trim_set_is_python_whitespace():
    """Catalyst's rtrim gets the exact set str.rstrip() removes."""
    from autoscan_spark.operators.fold import _PY_WHITESPACE

    assert len(_PY_WHITESPACE) == len(_WS) == 29
    assert set(_PY_WHITESPACE) == set(_WS)


# pages are drawn from every str.isspace() code point, marker pieces, table
# pipes and non-BMP / invisible characters (emoji, BOM, ZWSP)
_ALPHABET = _WS + list("ab|#-") + ["\U0001F600", "\ufeff", "\u200b", "é"]
_PIECES = [PAGE_BREAK, "---PAGE", "BREAK---", "| a |\n|---|\n| 1 |", "|", " |", "| "]


def _adversarial_turns(n_convs: int, seed: int) -> list:
    rng = random.Random(seed)
    rows = []
    for c in range(n_convs):
        shape = rng.random()
        n = 0 if shape < 0.02 else rng.randint(1, 3) if shape < 0.4 else rng.randint(4, 16)
        for t in rng.sample(range(1, 40), n):  # gappy, unordered turn_idx
            parts = []
            for _ in range(rng.randint(0, 5)):
                if rng.random() < 0.25:
                    parts.append(rng.choice(_PIECES))
                else:
                    parts.append("".join(rng.choices(_ALPHABET, k=rng.randint(0, 6))))
            if c % 50 == 0:  # all-empty conversations
                parts = [rng.choice(_WS + [PAGE_BREAK, ""]) for _ in parts]
            text = "".join(parts)
            rows.append((f"c{c}", t, text, t, len(text)))
    rng.shuffle(rows)
    return rows


@pytest.fixture(scope="module")
def adversarial(spark):
    rows = _adversarial_turns(2500, seed=5)
    by_conv = {}
    for conv, t, text, _, _ in rows:
        by_conv.setdefault(conv, []).append((t, text))
    want, table_joins = {}, 0
    for conv, ts in by_conv.items():
        pages = [text for _, text in sorted(ts)]
        sums = (sum(t for t, _ in ts), sum(map(len, pages)))
        want[conv] = (join_pages(pages), len(ts), *sums)
        valid = [p for p in map(clean_page, pages) if p]
        table_joins += sum(
            a.endswith("|") and b.startswith("|") for a, b in zip(valid, valid[1:])
        )
    # the corpus must exercise the empty-document and table-continuation rules
    assert len(want) > 2000 and table_joins > 100
    assert sum(w[0] == "" for w in want.values()) > 20
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string, in_chars long, out_chars long"
    )
    return df, want


@pytest.mark.parametrize(
    "two_phase,chunk_size", [(False, 1024), (True, 1), (True, 3), (True, 7)]
)
def test_spark_fold_matches_join_pages(adversarial, two_phase, chunk_size):
    """Both Catalyst fold strategies equal the reference fold per conversation."""
    from autoscan_spark.operators.fold import DOC_SCHEMA, fold_documents

    df, want = adversarial
    docs = fold_documents(df, two_phase=two_phase, chunk_size=chunk_size)
    assert [(f.name, f.dataType) for f in docs.schema.fields] == [
        (f.name, f.dataType) for f in DOC_SCHEMA.fields
    ]
    got = {r["conv_id"]: tuple(r)[1:] for r in docs.collect()}
    assert got == want
