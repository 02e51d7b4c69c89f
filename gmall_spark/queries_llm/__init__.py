"""LLM-training-data pipeline queries with DuckDB oracle twins, one
family module per concern. Every name lives in exactly one family
module; import it from there. Importing this package registers every
family's queries into ``gmall_spark.queries.QUERIES``/``ORACLES``: the
import order below is the registration order.
"""

from gmall_spark.queries_llm import (  # noqa: F401  (import order = registration order)
    prelude,
    text_signals,
    dedup_docs,
    ann_topk,
    corpus_lm,
    sampling_privacy,
    loader_schedule,
    curation,
    mm_codecs,
    ann_eval,
    tok_frozen,
    packing_release,
    distribution_stats,
    behavior_analytics,
    warehouse_ops,
    tok_media,
    extraction_tiers,
    web_tier,
    sft_classifier,
    incontext,
    governance,
)
from gmall_spark.queries import _finalize_registry

_finalize_registry()
