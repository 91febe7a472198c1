"""Text-analysis column functions for training-data pipelines.

All JVM-native (pyspark.sql.functions compositions) — no UDFs — so they
stay inside whole-stage codegen and push down through Catalyst. Each returns
a Column usable in select/filter, mirroring the style of the reference's
scalar helpers (/root/reference/dupe_utils.py) but as distributed columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# language-ID: n-gram marker heuristic. Real systems use fastText/CLD3 — not
# in this container; this is the deterministic native-SQL stand-in with the
# same column contract (text -> lang code).
_LANG_MARKERS = {
    "en": r"\b(the|and|of|to|is)\b",
    "es": r"\b(el|la|los|las|de|que|y)\b",
    "de": r"\b(der|die|das|und|ist|nicht)\b",
    "fr": r"\b(le|la|les|des|est|et)\b",
}


def lang_id(col: str | Column = "text") -> Column:
    """argmax language by marker hits; 'und' when nothing matches."""
    c = F.col(col) if isinstance(col, str) else col
    scored = F.array(
        *[
            F.struct(
                F.regexp_count(F.lower(c), F.lit(p)).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, p in _LANG_MARKERS.items()
        ]
    )
    best = F.array_max(scored)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def doc_fingerprint(col: str | Column = "text") -> Column:
    """64-bit stable content fingerprint (xxhash64 of normalized text) —
    the cheap exact-dup key for pre-filters; normalization collapses
    whitespace + case so trivially-reformatted copies collide."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.xxhash64(normalized)
