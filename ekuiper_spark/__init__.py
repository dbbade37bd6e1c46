"""ekuiper_spark — a PySpark-native analytics/stream engine with the query
and data-processing capabilities of lf-edge/ekuiper.

Brand-new implementation: ekuiper's SQL dialect and rule model are
re-expressed as a thin front end over Spark DataFrames / Structured
Streaming.  Catalyst owns parsing-to-physical concerns; this package owns:

- the ekuiper SQL dialect (lexer/parser/AST)  -> ``ekuiper_spark.parser``
- AST -> DataFrame translation                -> ``ekuiper_spark.translator``
- the ~190-builtin function registry          -> ``ekuiper_spark.functions``
- window semantics (tumbling/hopping/session/
  count/sliding/state)                        -> ``ekuiper_spark.translator``
  (stateful stream windows and joins          -> ``ekuiper_spark.streaming``)
- rule runtime (streaming queries, sinks)     -> ``ekuiper_spark.streaming``
- LLM-data-pipeline operators (dedup,
  similarity search, text analysis,
  multimodal plumbing)                        -> ``ekuiper_spark.datapipe``

Reference behavior is documented per-module with file:line citations into
/root/reference (lf-edge/ekuiper, Go).  No code is ported from it.
"""

from ekuiper_spark.session import get_spark
from ekuiper_spark.catalog import Catalog
from ekuiper_spark.translator import compile_sql

__all__ = ["get_spark", "Catalog", "compile_sql"]
__version__ = "0.1.0"
