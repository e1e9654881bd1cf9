"""thecrowler_spark — a PySpark-native rebuild of pzaino/thecrowler's crawl core.

A brand-new engine (NOT a port): URL frontier + fetch scheduler over
lakehouse tables of interleaved text+media documents, with

- a vectorized URL kernel (pandas/Arrow UDFs + JVM builtins, no per-row Python),
- a partitioned cuckoo URL-seen prefilter + exact anti-join dedup,
- per-host politeness budgets and robots.txt enforcement (window-rank, not sleeps),
- a salted, explicitly-repartitioned priority-queue frontier,
- span-sequence parsing (kind, text, media_ref, order) matching the reference
  crawler's per-page output (see SURVEY.md §1.4),
- checkpoint/resume with per-partition lineage + metrics,
- training-data pipeline operators (dedup families, ANN similarity,
  text quality/language, multimodal plumbing).

Reference semantics are cited per-function as ``/root/reference/<file>:<lines>``.
"""

__version__ = "0.1.0"
