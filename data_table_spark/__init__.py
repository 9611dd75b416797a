"""data_table_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of Rdatatable/data.table (reference snapshot
at /root/reference, studied — not ported; see SURVEY.md).

Layout:
- core:        DT wrapper, ``dt[i, j, by]`` query front-end, keys
- functions:   scalar surface (fifelse/fcase/between/like/date parts)
- operators:   joins (equi/as-of/non-equi/overlap), grouping, window,
               reshape, set ops
- sources:     fread/fwrite (CSV/parquet readers & writers)
- pipelines:   LLM-data-pipeline extensions (dedup, similarity, text)
- streaming:   Structured Streaming surface for the events table
"""

from .core import DT, N, fsort, load_tables
from .sources import fread_parquet
from .session import get_spark

__all__ = ["DT", "N", "fread_parquet", "fsort", "load_tables", "get_spark"]
__version__ = "0.1.0"
