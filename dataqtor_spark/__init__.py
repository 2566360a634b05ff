"""dataqtor_spark — a PySpark-native data-quality & data-prep analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference workbench baligoyem/dataqtor (profiling, rule-based data-quality
measurement, repair, enrichment, similarity), extended with the operators a
large-scale training-data pipeline needs (dedup families, ANN similarity
search, text analysis, multimodal column plumbing, streaming profiling).

Everything is declarative DataFrame API so Catalyst/Tungsten pick the
physical plan; Python UDFs appear only where Spark genuinely cannot express
the semantics (and then always Arrow-batched, never row-at-a-time).
"""

from dataqtor_spark.session import get_spark, ingest, with_row_id
from dataqtor_spark.workbench import Workbench

__all__ = ["get_spark", "ingest", "with_row_id", "Workbench",
           "clear_trainer_caches"]
__version__ = "0.1.0"


def clear_trainer_caches() -> None:
    """Drop the trainer memo (``operators.ann._TRAINER_MEMO``): IVF/PQ
    centroid + codebook tables and BPE merge tables.

    Production never needs this — the memo exists precisely so serving
    paths retrain at most once per process.  Benchmarks call it before a
    first-run timing so ``first_sec`` honestly includes training cost
    instead of replaying a warm memo (the round-13 driver bench read
    0.06x of the interleaved local medians because trainer caches plus a
    warm pass absorbed the real work into untimed code)."""
    from dataqtor_spark.operators import ann
    ann._TRAINER_MEMO.clear()
