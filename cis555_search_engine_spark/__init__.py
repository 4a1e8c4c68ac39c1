"""cis555_search_engine_spark — a PySpark-native full-text search engine.

A from-scratch rebuild (NOT a port) of the data-processing capabilities of
the reference `yezhengli-Mr9/cis555-search-engine` (a 2020 CIS555 team
project: StormLite crawler -> MySQL inverted index -> tf-idf + pagerank
ranking), re-expressed Spark-first:

- corpus        = Iceberg/parquet table of multi-turn transcripts
                  (conv_id, turn_idx, role, text, tool, ts); a "document"
                  is one turn, identity (conv_id, turn_idx)
- index build   = one shuffle-free doc-local pass: an Arrow-batched UDF
                  tokenizes each turn (reference semantics of
                  indexer/Indexer.java:345-392), Porter-stems through a
                  memo and counts its terms in one hash map
                  (Indexer.java:340,356-360) -> postings; native groupBy
                  rollups give the doc/corpus statistics
- physical fmt  = doc_id-range-aligned posting blocks, delta+varint
                  compressed, per-block max-impact (block-max WAND), in a
                  manifest-committed block store
- query         = a gated block-store query (small Σdf) is decoded and
                  scored on the driver from the loaded store snapshot,
                  with no Spark job; past the gate, broadcast semi-join on
                  the query terms -> BM25 scoring -> distributed top-k
                  (TakeOrderedAndProject). The in-memory index serves
                  BM25 and the reference tf-idf the same way in Spark.
"""

__version__ = "0.1.0"
