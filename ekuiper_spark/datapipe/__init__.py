"""LLM-training-data pipeline operators: dedup, similarity search, text
analysis, multimodal column plumbing.  See each module's scale notes.

Cache lifecycle: the dedup operators ``persist()`` narrow intermediate
frames that both sides of a self-join consume (prefix/banded indexes,
exploded paragraphs).  Spark evicts them under memory pressure
(MEMORY_AND_DISK), but a long-lived session compiling many rules should
release them explicitly between corpus passes: every persist registers
in a module list that holds the frames strongly, and
:func:`release_caches` unpersists them all (``spark.catalog.clearCache()``
remains the blunt alternative).
"""

from ekuiper_spark.datapipe import (
    components,
    curation,
    decontam,
    dedup,
    multimodal,
    similarity,
    textstats,
)
from ekuiper_spark.datapipe._cache import release_caches

__all__ = [
    "components",
    "curation",
    "decontam",
    "dedup",
    "multimodal",
    "release_caches",
    "similarity",
    "textstats",
]
