"""xml_to_es_spark — a PySpark-native full-text indexing + query engine.

A from-scratch re-expression of the capabilities of the reference
``imbroglioj/xml-to-es`` (a Node.js XML/SGML→JSON→ElasticSearch ETL,
see /root/reference) as an idiomatic Spark engine:

- **Document production** (the reference's own half): vectorized Arrow
  UDFs parse HTML/SGML pages into ElasticSearch-style field documents
  (`functions.extract`, `functions.mapping`) with byte-identical
  extracted text per url vs the pure-Python oracle (`pyref`).
- **Index build** (the half the reference delegates to ElasticSearch,
  ElasticIndexer.js:76): from-scratch inverted-index construction —
  tokenize → per-(term, salt) posting lists, delta + varbyte compressed
  with per-block offsets (`operators.postings`), built by a
  checkpoint-resumable, skew-salted, range-merged Spark job
  (`operators.index_build`).
- **Query engine**: BM25 (k1=1.2, b=0.75) top-k over the compressed
  postings with block-max WAND pruning, distributed per (query,
  doc-range); the full ES match surface — OR/AND/minimum_should_match,
  match_phrase (positional sidecar, vectorized adjacency), fuzziness
  (dictionary expansion), bool queries (must/should/must_not/filter),
  fielded indexes (per-field BM25 + multi_match best/most_fields),
  pagination (from/size, search_after), search aggregations over
  stored doc values, highlight snippets, GET/_source fetch — plus
  PUT-by-id upsert with crash-atomic LSM deltas/tombstones/compaction,
  DELETE-by-id via an append-only kill log, and an immutable stored
  mapping inherited by every delta (`operators.query_engine`,
  `operators.index_build`).
- **Training-data ops**: dedup (exact / MinHash-LSH / SimHash / n-gram
  Jaccard / embedding-cosine / connected-component clustering +
  keep-one survivors, batch and streaming), ANN similarity search
  (exact, sign-LSH, IVF with cell-partitioned storage), text analysis
  (lang-id, quality, token counts, fingerprints), multimodal binary
  column plumbing.

Everything is DataFrame-first: Catalyst handles pushdown/pruning/join
selection; custom physics (codec, scoring) live in Arrow-batched
pandas UDFs — never per-row Python.
"""

__version__ = "0.3.0"

from xml_to_es_spark.config import BM25Config, IndexConfig  # noqa: F401
