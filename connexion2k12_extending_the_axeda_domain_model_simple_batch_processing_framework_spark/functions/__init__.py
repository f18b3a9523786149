"""Reusable Column-expression builders.

Everything here is a pure JVM-side expression (no Python UDFs) so operators
composed from these stay inside whole-stage codegen. Several helpers are
deliberately *cross-engine deterministic* — bit-identical results in Spark
and in the DuckDB oracle — which is what makes the correctness gate's
value-hash comparison possible (see SURVEY.md §6).
"""

from .hashing import hex_hash64
from .rounding import iround_ratio, iround_ratio_signed
from .textfns import punct_count, token_count_col, tokens, word_shingles
from .vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "iround_ratio",
    "iround_ratio_signed",
    "hex_hash64",
    "tokens",
    "word_shingles",
    "token_count_col",
    "punct_count",
    "dot",
    "l2_norm",
    "cosine_similarity",
]
