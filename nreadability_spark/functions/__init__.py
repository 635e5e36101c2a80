"""Scalar/expression-level functions shared by the engine's operators.

Everything in this package is a *Catalyst expression builder* — pure
JVM-side `pyspark.sql.functions` compositions, no Python UDFs — plus,
for each construct, a DuckDB-SQL twin used by the correctness oracles.
Keeping the Spark expression and its SQL twin side by side in one
module is what keeps them in lockstep.

``ordering.ordered_small`` is the one ordered tail for a small result
above a Python stage (the multimodal decode queries, the doc-keyed
``extract_*`` queries, the stitched conversations). A global
``orderBy`` there would put a range exchange directly above the Python
node, and its RangePartitioner's sampling pass would run every decode
a second time; a single-partition sort runs it once.

``prefix.exclusive_prefix_sum`` is the one running total over an
ordered key (the packers' global offsets): block sums, a window over
the blocks, a window within each block, so no task holds a whole
corpus.
"""
