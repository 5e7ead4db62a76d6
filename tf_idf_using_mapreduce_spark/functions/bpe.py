"""Byte-pair-encoding (BPE) subword tokenizer — the SUBWORD token basis the
packing/length tier was missing (r10 verdict #1): a real pretraining pipeline
budgets context windows and mixture weights in subword tokens, not regex word
tokens. Public method: Sennrich, Haddow & Birch 2016 ("Neural Machine
Translation of Rare Words with Subword Units") — word-internal character
merges learned greedily by pair frequency, applied as an ordered merge table.

Engine parity contract
----------------------
The APPLY step must produce byte-identical segmentations in Spark (Python,
Arrow-batched over the DISTINCT-word dictionary) and in the DuckDB oracle
(one recursive CTE). Both implement the same deterministic variant:

    repeat: among adjacent symbol pairs present in the merge table, take the
    LOWEST-RANK pair; merge its LEFTMOST occurrence; stop when no adjacent
    pair is ranked.

(The textbook formulation merges all non-overlapping occurrences of the best
pair per step; merging one leftmost occurrence per step visits the same
occurrences in the same left-to-right order unless a merge CREATES a
lower-ranked pair — a well-defined determinism choice, applied identically on
both engines, pinned by tests/test_bpe.py's py-vs-SQL sweep.)

The merge table itself is TRAINING-TIME state, like a fitted model: trained
once on the sf0.001 fixture corpus by ``tools/train_bpe.py`` and committed to
``resources/bpe_merges.txt`` (rank = line number), so the committed oracle
SQL — which embeds the table as a literal list — is static and reproducible.
Symbols are ``[a-z]+`` characters plus the ``</w>`` end-of-word marker, so
merge keys never need SQL escaping.

Scale design: application runs over the DISTINCT-word dictionary (Heaps-law
bounded — the stemmer's dictionary-encoding argument, ``operators/tfidf.py``),
with the merge table in the task closure (a few KB; production tables of
~50k merges are still closure/broadcast-sized). Per-word work is O(len²)
worst case on the tiny symbol list — never corpus-shaped.
"""

from __future__ import annotations

import os

N_MERGES = 24          # fixture-scale table: non-trivial splits on the 31-word
                       # closed vocab (at 24 merges, 2 words fuse whole and the
                       # rest stay 2-6 subwords — 48 fused EVERY word, leaving
                       # nothing subword-shaped to test); production uses
                       # 32k-100k merges, same machinery
MIN_PAIR_COUNT = 2     # stop training when the best pair is a singleton
END_OF_WORD = "</w>"

_RESOURCE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "resources"
)
BPE_MERGES_PATH = os.path.join(_RESOURCE_DIR, "bpe_merges.txt")

def train_bpe(word_counts: dict[str, int], n_merges: int = N_MERGES,
              min_count: int = MIN_PAIR_COUNT) -> list[tuple[str, str]]:
    """Learn an ordered merge table from a weighted word vocabulary — the
    Sennrich training loop, deterministic: each step merges the most frequent
    adjacent pair (ties broken by the lexicographically smallest pair), in
    ALL words, all non-overlapping occurrences left-to-right. Pure Python on
    the driver: training state is model state (the same category as KMeans
    centroids), not a distributed job at fixture scale."""
    vocab: dict[tuple[str, ...], int] = {
        tuple(word) + (END_OF_WORD,): c for word, c in word_counts.items() if word
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        best = min(pair_counts, key=lambda p: (-pair_counts[p], p))
        if pair_counts[best] < min_count:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def load_merges(path: str = BPE_MERGES_PATH) -> list[str]:
    """The committed merge table as ranked ``"left right"`` strings
    (rank = 0-based position)."""
    with open(path, encoding="utf-8") as fh:
        return [line.rstrip("\n") for line in fh if line.strip()]


def merge_ranks(merges: list[str] | None = None) -> dict[str, int]:
    """``"left right" -> rank`` lookup for :func:`bpe_segment`."""
    if merges is None:
        merges = load_merges()
    return {m: r for r, m in enumerate(merges)}


def bpe_segment(word: str, ranks: dict[str, int]) -> list[str]:
    """Segment one word into subword symbols — the deterministic
    leftmost-lowest-rank apply loop (module docstring), the Python twin of
    the recursive-CTE in :func:`bpe_seg_ctes`. ``word`` is a non-empty
    ``[a-z]+`` token; the result always ends in a symbol carrying
    ``</w>``."""
    syms = list(word) + [END_OF_WORD]
    while True:
        best_i = -1
        best_r: int | None = None
        for i in range(len(syms) - 1):
            r = ranks.get(syms[i] + " " + syms[i + 1])
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_r is None:
            return syms
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]


def merges_sql_literal(merges: list[str] | None = None) -> str:
    """The merge table as a DuckDB list literal (rank = 1-based
    ``list_position``). Merge keys are ``[a-z</> ]`` only — no escaping."""
    if merges is None:
        merges = load_merges()
    return "[" + ", ".join("'" + m + "'" for m in merges) + "]"


def bpe_seg_ctes(merges: list[str] | None = None, words_cte: str = "wc") -> str:
    """CTE text implementing the apply loop as ONE recursive CTE — embed in a
    ``WITH RECURSIVE`` clause after a ``{words_cte}(word, ...)`` CTE of
    distinct words. Produces ``bpe_final(word, syms)``. Mechanics pinned by
    tests/test_bpe.py: DuckDB ``list_position`` returns 0 (not NULL) for a
    missing element, so "pair is ranked" is ``rank > 0``; the leftmost
    occurrence of the minimum positive rank is ``list_position(rks, min)``;
    1-based inclusive list slicing rebuilds the symbol list around the merge
    point (``syms[1:0]`` is ``[]``, so a merge at position 1 works)."""
    lit = merges_sql_literal(merges)
    rks = ("list_transform(range(1, len(syms)), "
           f"i -> list_position({lit}, syms[i] || ' ' || syms[i+1]))")
    return f"""
bpe_seg AS (
  SELECT word, string_split(word, '') || ['{END_OF_WORD}'] AS syms
  FROM {words_cte}
  UNION ALL
  SELECT word, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:] AS syms
  FROM (
    SELECT word, syms,
           list_position(rks, list_sort(list_filter(rks, r -> r > 0))[1]) AS bi
    FROM (SELECT word, syms, {rks} AS rks FROM bpe_seg) ranked
  ) stepped
  WHERE bi > 0
),
bpe_final AS (
  SELECT word, syms FROM bpe_seg
  WHERE len(list_filter({rks}, r -> r > 0)) = 0
)"""
