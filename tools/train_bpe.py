#!/usr/bin/env python
"""Regenerate resources/bpe_merges.txt — the committed BPE merge table.

Trains on the sf0.001 fixture corpus's word tokens (the engine-wide
``regexp_extract_all(lower(text), '([a-z]+)')`` basis) via DuckDB, so the
training input is exactly the token stream every oracle sees. Deterministic:
greedy pair-frequency merges, ties to the lexicographically smallest pair
(functions/bpe.py:train_bpe). Committed because the merge table is MODEL
state — the oracle SQL embeds it as a literal, which must not drift between
the engine and a re-run of the gate.

Usage: python tools/train_bpe.py [sf_dir] [n_merges]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from tf_idf_using_mapreduce_spark.functions.bpe import (
    BPE_MERGES_PATH,
    N_MERGES,
    train_bpe,
)
from tf_idf_using_mapreduce_spark.functions.text import TOKENS


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else N_MERGES
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT word, count(*) AS n FROM ("
        f"SELECT unnest({TOKENS}) AS word "
        f"FROM read_parquet('{sf_dir}/documents.parquet')) t GROUP BY word"
    ).fetchall()
    con.close()
    merges = train_bpe({w: n for w, n in rows}, n_merges=n_merges)
    with open(BPE_MERGES_PATH, "w", encoding="utf-8") as fh:
        for a, b in merges:
            fh.write(f"{a} {b}\n")
    print(f"{len(merges)} merges from {len(rows)} distinct words -> {BPE_MERGES_PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
