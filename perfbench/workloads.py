"""The benchmark's named workloads: which registry queries each runs, and why.

Every workload runs as a closed loop with one client (the driver thread):
one query at a time, the next starting only after the previous result has
been collected and checked.

The two workloads split the engine by where a query's time goes, and
between them every operator module the traced run reports is called: each
query is among the cheapest at the measured scale that call the module
noted beside it.
``corpus_etl`` spends about two thirds of its time in the final action (scans,
shuffles and expressions that collecting every output column forces);
``dedup_stream`` spends about 85% inside the query function (eager jobs, a
streaming drain with state-store commits, and the driver work around them).
A change to one side should move one workload and leave the other flat; a
shuffle setting reaches both, through wide shuffles in one and the drain's
small pinned state shuffles in the other.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "corpus_etl",
            "corpus pipeline and per-document operators with about two thirds "
            "of their time in the final action: scans, shuffles, group-by, regex, "
            "date and text expressions, sketches, and a fixture read",
            (
                "flagship_corpus_rollup",  # operators.dedup
                "s2_excel_fixture",  # sources
                "fd2_parse_date_multi",  # functions
                "a7_duplicate_groups",  # operators.relational
                "ext_hll_distinct",  # operators.sketches, .dedup_ext
                "ext_unicode_nfc",  # operators.text_udf
                "ext_time_rollup",  # operators.temporal
                "ext_vector_stats",  # operators.similarity
                "ext_token_counts",  # operators.textanalysis
                "ext_stratified_sample",  # operators.training
            ),
        ),
        Workload(
            "dedup_stream",
            "graph and entity-resolution curation, a stream-stream join drain "
            "and a merge upsert, with 85% of their time inside the query "
            "function: eager jobs and driver work between them",
            (
                "ext_triangle_count",  # operators.graphs
                "s_stream_stream_join",  # streaming
                "ext_merge_upsert",  # operators.merge
                "ext_entity_resolution",  # operators.clusters, .analytics
            ),
        ),
    )
}
