"""largeea_spark — a from-scratch PySpark-native KG-construction +
entity-alignment engine with the query/data-processing capabilities of
ZJU-DAILY/LargeEA (PVLDB 15(2) 2022).

Everything here is idiomatic Spark (DataFrame/SQL + Arrow pandas UDFs),
not a translation of the reference's PyTorch/TF/FAISS execution stack.
Reference citations in docstrings use `file:line` into /root/reference/src/.

Package layout (SURVEY.md §7.0):
  sources/    scans & sinks: TSV KG ingest, stage-table checkpoints,
              deterministic fixtures, web-page corpus
  functions/  scalar/vector functions: name normalization, Levenshtein
              ratio, hashing (minhash/simhash/ngrams), embedding encoders
  operators/  relational + sim-algebra operators: dict-encode, COO sim
              algebra (topk/argmax/spmm/softmax/fuse/CSLS), LSH blocking,
              blocked kNN, TF-IDF, seed-aware partitioning, per-batch
              structure trainer, connected components, dedup, text
              stats, eval
  plans/      phase orchestration: name channel, batched trained
              structure channel (the only structure path), fusion+eval,
              web-text extraction front-end, checkpointed end-to-end
              pipeline with lineage
"""

__version__ = "0.1.0"
