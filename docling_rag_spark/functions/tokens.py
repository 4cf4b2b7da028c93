"""Deterministic, self-contained token counter.

The reference counts tokens with the embedding model's HF tokenizer
(reference: core/chunker.py:45-60) purely to enforce the 512-token chunk
budget. We replace it with a BPE-ish regex counter that needs no model
files:

  token := a run of word characters, split into pieces of at most
           TOKEN_PIECE_LEN chars (approximating subword splits), or a single
           non-space/non-word character.

One regex pattern implements both "count" (findall) and "split points"
(finditer, used only inside the per-document chunker when a section exceeds
the budget).
"""

from __future__ import annotations

import re

from docling_rag_spark.config import TOKEN_PIECE_LEN

# \w{1,8} auto-splits long words into multiple matches => BPE-ish subwords.
TOKEN_PATTERN = rf"\w{{1,{TOKEN_PIECE_LEN}}}|[^\w\s]"
_TOKEN_RE = re.compile(TOKEN_PATTERN, re.UNICODE)


def count_tokens(text: str) -> int:
    """Token count of one string (driver/UDF-internal use)."""
    if not text:
        return 0
    return len(_TOKEN_RE.findall(text))


def token_spans(text: str) -> list[tuple[int, int]]:
    """(start, end) char offsets of each token; used to split long sections."""
    return [m.span() for m in _TOKEN_RE.finditer(text)]
