from . import (
    arrays,
    dedup,
    enrichment,
    multimodal,
    sequences,
    similarity,
    text,
)

__all__ = [
    "arrays",
    "dedup",
    "enrichment",
    "multimodal",
    "sequences",
    "similarity",
    "text",
]
