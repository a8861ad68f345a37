"""Declared query set (SURVEY.md §2.4) + extension operators.

Importing this package registers every query into
``myhadoop_spark.registry``. Each module pairs the Spark DataFrame plan
with its DuckDB oracle SQL so the two stay in lock-step.

Only the 50 queries registered with ``gate=True`` form the correctness
gate (``registry.all_queries()``, checked bitwise against DuckDB by
``scripts/check.py``); the others are ungated but keep their oracles,
which the tests check (``registry.all_queries(include_ungated=True)``).
An ungated query stays registered only while
``tests/test_correctness.py::UNGATED_KEEPS`` names it with a reason.
"""

from myhadoop_spark.queries import (  # noqa: F401
    audio,
    clusters,
    corpus_stats,
    curation_gate,
    dedup,
    dedup_ext,
    dsir,
    event_analytics,
    fuzzy,
    fuzzy_decontam,
    langid,
    lines,
    media,
    merge_query,
    phrase,
    pipeline,
    quality_checks,
    reference_parity,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    repetition,
    sampling,
    simsearch,
    streaming_batch,
    text,
    udtf_demo,
    unimax,
    urls,
    video,
    wordcount,
)
