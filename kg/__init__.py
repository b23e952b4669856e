"""spark-kg — PySpark-native knowledge-graph construction engine.

From-scratch rebuild of the capabilities of baoyf4244/InformationExtraction
(an MRC-style BERT span-NER stack, see /root/reference) as an idiomatic Spark
pipeline: documents arrive as an Iceberg-shaped table of interleaved text +
media spans, a chain of vectorized pandas/Arrow UDF stages performs batched
mention detection (reproducing the reference's start/end/span decode
semantics, ner/dataset.py:34-92 + metrics.py:4-42), candidate-pair relation
scoring into (subj, pred, obj) triples, MinHash/LSH-blocked entity linking
with iterative connected-components canonicalization, and materialization
into partitioned node/edge tables with a resumable per-stage ledger.

See SURVEY.md for the blueprint, BASELINE.md for targets.
"""

__version__ = "0.1.0"
