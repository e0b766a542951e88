"""tetrex_spark — a PySpark-native distributed sketch / approximate-membership
analytics engine with the query capabilities of remyschwab/TetRex, rebuilt
Spark-first (DataFrame + Arrow-vectorized UDFs; no per-row Python).

Layout (SURVEY.md §7):
  kernel/     pure-numpy mergeable sketches (bloom, hll, cms, kll, tdigest)
  functions/  columnar text functions (normalize, tokenize, shingle, analyze)
  sources/    corpus synthesis + sketch-table store (parquet + manifest)
  operators/  sketch build/merge UDAFs, dedup, similarity, verify, multimodal
  plans/      regex -> postfix -> NFA -> Bloom traversal -> candidate bins
  streaming/  incremental sketch maintenance (foreachBatch)

Importing the package installs `_pyworker`, which stops PySpark workers
re-reading unchanged zip archives at the start of every task.
"""

from . import _pyworker

_pyworker.install()

__version__ = "0.1.0"
