"""Ordered document fold — byte-exact contract with the reference.

Semantics mirror ``_join_markdown_pages`` (reference: autoscan/autoscan.py:353-383):

1. Every page has every literal ``---PAGE BREAK---`` marker removed, then is
   right-stripped (autoscan/autoscan.py:367).
2. Pages that are empty after cleaning are dropped (autoscan/autoscan.py:368)
   BEFORE adjacency is considered, so the separator rule applies to the
   sequence of *surviving* pages.
3. Surviving pages are joined in order. The separator between two adjacent
   surviving pages is a single ``"\n"`` iff the previous page ends with ``|``
   AND the current page starts with ``|`` (markdown table continuation),
   otherwise ``"\n\n"`` (autoscan/autoscan.py:380).

Because the separator depends on post-filter adjacency, filtering and joining
are NOT separable distributed operations: both happen inside one per-document
fold. ``join_pages`` is that fold; ``fold_chunk`` / ``combine_chunks`` are an
algebraically equivalent two-level decomposition used to parallelize the fold
over very long conversations (the chunk fold only needs each chunk's joined
text plus its boundary pages' ``|`` edges).
"""

from __future__ import annotations

from typing import List, NamedTuple, Optional

_PAGE_BREAK = "---PAGE BREAK---"


def clean_page(page: str) -> str:
    """Marker scrub + right-strip, applied to every page before the fold."""
    return page.replace(_PAGE_BREAK, "").rstrip()


def _separator(prev_page: str, current_page: str) -> str:
    return "\n" if prev_page.endswith("|") and current_page.startswith("|") else "\n\n"


def join_pages(pages: List[str]) -> str:
    """Fold an ordered list of page texts into one document string."""
    if not pages:
        return ""

    valid = [p for p in (clean_page(page) for page in pages) if p]
    if not valid:
        return ""

    parts = [valid[0]]
    for i in range(1, len(valid)):
        parts.append(_separator(valid[i - 1], valid[i]) + valid[i])
    return "".join(parts)


class ChunkFold(NamedTuple):
    """Result of folding one contiguous chunk of pages.

    ``first_page``/``last_page`` carry the cleaned boundary pages of the
    chunk's surviving sequence so that cross-chunk separators can be computed
    exactly; ``text`` is the chunk-internal join.
    """

    text: str
    first_page: str
    last_page: str


def fold_chunk(pages: List[str]) -> Optional[ChunkFold]:
    """Fold one chunk; returns None when no page in the chunk survives."""
    valid = [p for p in (clean_page(page) for page in pages) if p]
    if not valid:
        return None
    parts = [valid[0]]
    for i in range(1, len(valid)):
        parts.append(_separator(valid[i - 1], valid[i]) + valid[i])
    return ChunkFold("".join(parts), valid[0], valid[-1])


def combine_chunks(chunks: List[Optional[ChunkFold]]) -> str:
    """Combine ordered chunk folds into the document string.

    Equivalent to ``join_pages`` on the concatenation of the chunks' pages:
    empty chunks vanish, and the separator between two surviving chunks is
    computed from the previous chunk's last surviving page and the next
    chunk's first surviving page — exactly the adjacency the flat fold sees.
    """
    alive = [c for c in chunks if c is not None]
    if not alive:
        return ""
    parts = [alive[0].text]
    for i in range(1, len(alive)):
        parts.append(_separator(alive[i - 1].last_page, alive[i].first_page) + alive[i].text)
    return "".join(parts)
