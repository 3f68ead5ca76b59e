"""Learned-BPE tokenization: merge-table-driven token counts.

The committed merge table (gipspark/functions/bpe_merges.py, trained
offline by tools/train_bpe.py — VERDICT r4 next-round #5) is applied
with SEQUENTIAL rank-order semantics: for each merge (a, b) in learned
order, replace every leftmost non-overlapping adjacent (a, b) token
pair with ab, to completion, before the next merge. For a merge table
learned by classic BPE training this is EQUIVALENT to the best-rank-
first priority formulation: a pair (a, b) of rank r can only exist
once both a and b exist, and every merge that creates a or b has rank
< r (training counted (a, b) only after forming its parts) — so no new
rank-r occurrences can appear after pass r, and within one pass the
leftmost-greedy sweep is exactly the classic merge-all-occurrences
step. The sequential form is what the DuckDB oracle replays as a chain
of plain ``replace()`` calls over a delimiter-wrapped encoding, making
the op bit-exactly oracle-checkable.

Scale shape: the merge table is a broadcast-sized constant (a closure
captured by an Arrow-vectorized pandas UDF — cloudpickle ships it once
per executor, the Spark analog of a broadcast dict); counting is
per-row with a per-batch memo over unique pre-tokens (Zipf makes the
hit rate high), no shuffle beyond the caller's aggregation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from gipspark.functions.bpe_merges import MERGES


def bpe_apply(word: str, merges: list[tuple[str, str]] | None = None) -> list[str]:
    """Tokenize one pre-token by sequential rank-order merge replay
    (the pure kernel the UDF and the tests share)."""
    toks = list(word)
    for a, b in merges if merges is not None else MERGES:
        if len(toks) < 2:
            break
        out, i, n = [], 0, len(toks)
        while i < n:
            if i + 1 < n and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


@F.pandas_udf(LongType())
def bpe_token_count(tokens: pd.Series) -> pd.Series:
    memo: dict[str, int] = {}

    def count(w: str) -> int:
        c = memo.get(w)
        if c is None:
            c = memo[w] = len(bpe_apply(w))
        return c

    return tokens.map(count).astype("int64")


def bpe_oracle_replace_chain(init_expr: str) -> str:
    """The DuckDB expression replaying MERGES over a wrapped encoding:
    every token t is represented chr(2)||t||chr(3) so adjacent-pair
    replaces cannot overlap (wrapped tokens share no characters, hence
    non-overlapping leftmost replace == the kernel's sweep)."""

    def wrap(t: str) -> str:
        return f"chr(2)||'{t}'||chr(3)"

    expr = init_expr
    for a, b in MERGES:
        expr = f"replace({expr}, {wrap(a)}||{wrap(b)}, {wrap(a + b)})"
    return expr


def bpe_oracle_init(tok_expr: str) -> str:
    """Wrapped-char initial encoding of a pre-token column in DuckDB."""
    return (
        f"array_to_string(list_transform(regexp_extract_all({tok_expr}, '.'),"
        " c -> chr(2)||c||chr(3)), '')"
    )


def bpe_token_count_at(n_merges: int):
    """UDF factory: token count under the FIRST ``n_merges`` merges only
    (prefixes of a learned merge table are themselves valid learned
    tables — training is sequential). Powers the vocab-size curve."""
    merges = MERGES[:n_merges]

    @F.pandas_udf(LongType())
    def count_at(tokens: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}

        def count(w: str) -> int:
            c = memo.get(w)
            if c is None:
                c = memo[w] = len(bpe_apply(w, merges))
            return c

        return tokens.map(count).astype("int64")

    return count_at
