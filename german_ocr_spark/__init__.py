"""german_ocr_spark — a PySpark-native document-extraction engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``Keyvanhardani/german-ocr`` (see /root/repo/SURVEY.md):
batched, Arrow-vectorized extraction over tables of interleaved
text+media span documents, plus the relational / dedup / similarity /
text-analysis operators a web-scale training-data pipeline needs.

Layout
------
- ``schema``     span / node / block schemas (SURVEY §1.4)
- ``synth``      deterministic seed-fixed corpus synthesizer (FIXTURES F1-F4)
- ``functions``  scalar function library, 3-way consistent
                 (pandas kernel / Spark Column / DuckDB SQL)
- ``kernels``    pure-pandas vectorized kernels (boilerplate, xy-cut)
- ``operators``  Spark operators (extract pipeline, dedup, similarity)
- ``sources``    readers: span tables, binary files, directory globs
- ``plans``      lineage, checkpoint/resume, explain helpers
- ``streaming``  Structured Streaming progress / incremental jobs
"""

from ._lazy_zipimport import install as _install_lazy_zipimport

__version__ = "0.1.0"

# Spark's Python workers import this package when they unpickle an
# engine UDF; from then on each task's importlib.invalidate_caches()
# stops re-reading pyspark.zip and the Spark jar (see _lazy_zipimport).
_install_lazy_zipimport()
