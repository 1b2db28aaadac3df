"""LLM-training-data pipeline operators (beyond-reference, north star).

Designed for 100 TB corpora: everything is expression-based (JVM
codegen), joins are banded/blocked so no all-pairs comparison ever
materializes, and each op carries a DuckDB oracle via the twin-generator
hashing/vector primitives in :mod:`kmr_spark.functions`.

- :mod:`.dedup`      — exact, MinHash-LSH, SimHash, blocked n-gram Jaccard
- :mod:`.similarity` — brute-force cosine top-k + IVF-bucketed ANN
- :mod:`.textstats`  — token counts, quality scoring, lang-id, fingerprints
- :mod:`.multimodal` — binary-column plumbing for image/audio payloads
"""
