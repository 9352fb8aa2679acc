"""blacklab_spark — a PySpark-native corpus retrieval engine.

A from-scratch reimplementation of the capabilities of BlackLab
(reference: /root/reference, a Lucene 8 based annotated-corpus search
engine) as an idiomatic Spark DataFrame engine:

- inverted index build: tokenize -> terms dict -> delta+varint posting
  blocks with block-max metadata, laid out in doc-range *segments*
  (the Spark analogue of Lucene segments,
  cf. reference codec/BlackLab40PostingsWriter.java:222-340)
- top-k BM25 (k1=1.2, b=0.75 — Lucene 8's default similarity,
  cf. reference search/BlackLabIndexAbstract.java:496)
- BlackLab Corpus Query Language span queries (sequences, repetition,
  within/containing, capture groups — cf. reference text-pattern/ and
  engine/src/main/java/nl/inl/blacklab/search/lucene/)
- result analytics: sort/group/sample/KWIC/collocations/facets
  (cf. reference search/results/)

Everything is DataFrame-first; per-row Python is banned — the only
Python kernels are vectorized numpy inside Arrow `applyInArrow` /
`mapInArrow` (posting codec, WAND scoring).
"""

__version__ = "0.1.0"

__all__ = ["EngineConfig", "Corpus", "__version__"]


def __getattr__(name: str):
    # lazy (PEP 562): ``python -m blacklab_spark.worker_daemon`` runs
    # this file before it chooses where pyspark is imported from
    if name == "EngineConfig":
        from blacklab_spark.config import EngineConfig

        return EngineConfig
    if name == "Corpus":
        from blacklab_spark.corpus import Corpus

        return Corpus
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
