"""Expression library — SURVEY.md §2.8.

Every scalar function the reference applies row-at-a-time via
``Series.apply`` is re-expressed here as a pure ``Column -> Column``
builder over Spark built-ins, so the whole domain layer stays inside
Catalyst/Tungsten whole-stage codegen (no Python UDFs on the parity path).
"""

from .timefmt import (
    duration_seconds,
    fmt_mmssms,
    fmt_hhmmss,
    fmt_hhmmssms,
    parse_f1_duration,
    parse_f1_duration_columns,
    safe_duration_seconds,
    wallclock_hhmmss,
    wallclock_hhmmssms,
    iso_utc,
    shift_from_session_start,
)
from .booleans import to_bool_strict, to_bool_or_numeric, to_bool_lenient
from .text import (
    tokens,
    token_count,
    bpe_ish_token_count,
    quality_score,
    language_id,
    doc_fingerprint,
    shingles,
)
from .vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "duration_seconds",
    "fmt_mmssms",
    "fmt_hhmmss",
    "fmt_hhmmssms",
    "parse_f1_duration",
    "parse_f1_duration_columns",
    "safe_duration_seconds",
    "wallclock_hhmmss",
    "wallclock_hhmmssms",
    "iso_utc",
    "shift_from_session_start",
    "to_bool_strict",
    "to_bool_or_numeric",
    "to_bool_lenient",
    "tokens",
    "token_count",
    "bpe_ish_token_count",
    "quality_score",
    "language_id",
    "doc_fingerprint",
    "shingles",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
