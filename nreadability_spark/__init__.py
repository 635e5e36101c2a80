"""nreadability_spark — a PySpark-native main-content-extraction engine.

A from-scratch re-implementation of the semantics of the NReadability
boilerplate-stripping library (reference: panuganti/nreadability, C#),
lifted to a distributed DataFrame job over tables of multi-turn agent
transcripts ``(conv_id, turn_idx, role, text, tool, ts)``.

Layout:

- ``core``       pure-Python extraction core (zero Spark imports; ships
                 to executors via ``--py-files``)
- ``functions``  Spark-native column functions (text quality, lang-id,
                 token counts, fingerprints)
- ``operators``  distributed operators (extraction pandas-UDF, dedup
                 families, similarity search, multimodal plumbing)
- ``sources``    synthetic transcripts generator + partitioned-parquet
                 lineage-committing writer (Iceberg-shaped interface)
- ``plans``      end-to-end jobs (scan -> salt -> extract -> window ->
                 commit) and relational demo queries
- ``streaming``  structured-streaming variant of the extraction job
"""

__version__ = "0.1.0"

# Every Python stage of the package imports it first, while a task's UDF
# is being unpickled: one call site covers them all (session docstring).
from nreadability_spark.session import install_zip_invalidation

install_zip_invalidation()
