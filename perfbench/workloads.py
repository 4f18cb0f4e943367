"""The benchmark's workloads.

Each workload runs a fixed list of registered query ids over a corpus
generated from the seed. The lists sample three id families
(``bench.HEADLINE``, the data-bound ids and the write-and-stream ids),
sized so that a run, which starts a JVM and runs each id for the first
time in it, takes about a minute on a 4-core host.
"""

from __future__ import annotations

from dataclasses import dataclass

#: The headline ids in the headline workload: ``bench.HEADLINE[0]`` (a
#: multi-way join) and ``bench.HEADLINE[55]`` (a codegen'd scalar parse
#: and one shuffle), the first two of its stride-55 sample. The other
#: three (``agg_cohort_ltv``, ``fn_luhn_checksum``, ``ts_twab_monthly``)
#: would add a quarter to a run, and the runs of the benchmark have a
#: time limit.
HEADLINE_IDS = ("join_multiway_star", "fn_ip_parse")

#: Data-bound ids: executor work (scan, shuffle, Python/Arrow) outweighs
#: the per-query fixed cost once the corpus is a few times sf0.1.
#: ``dedup_tfidf_cosine`` and ``join_theta_range`` stay out: their cost
#: grows quadratically with the corpus by design (an all-pairs plan over
#: a 40-word vocabulary, and a band join), so either would dominate.
DATABOUND_POOL = (
    "join_bipartite_projection join_complement_rank join_mutual_topk "
    "join_point_in_time graph_triangle_count graph_pagerank_iter "
    "graph_degree_hist agg_basket_lift agg_cooccurrence "
    "agg_weighted_percentile dq_distribution_psi win_vwap ts_resample_fill "
    "udf_grouped_map mm_phash_dedup text_perplexity_filter emb_dedup_sweep "
    "dedup_embedding_cosine text_tfidf"
).split()

#: Id prefixes of the write-and-stream family (34 ids).
WRITE_STREAM_PREFIXES = ("sink_", "stream_", "pipeline_", "cdc_", "dim_")

#: The write-and-stream ids the headline workload adds: a CSV sink with
#: its read-back, the Derby JDBC sink (the only JDBC writer), a
#: watermarked window count with a state store over a file-stream feed,
#: and an availableNow stream with a checkpoint. The parquet
#: sink costs four times the CSV one for the same layers; the heavier
#: stream ids (stateful deduplication and sessionisation, stream-stream
#: joins, ``pipeline_dedup_e2e``) each take seconds.
WRITE_STREAM_IDS = (
    "sink_jdbc",
    "sink_csv_escaped",
    "stream_watermark",
    "stream_incremental_availablenow",
)

#: The data-bound workload's id: a grouped pandas UDF, so that scan,
#: shuffle and Python/Arrow work are all in one query. ``win_vwap``
#: (window and sort) stays out: at 2x sf0.1 its first run and its check
#: add 20 s to a run of 45 s. A pass runs the id twice, so that it
#: measures some 9 s of work rather than one 4-s sample.
DATABOUND_IDS = ("udf_grouped_map",)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    mult: int  # corpus size, in multiples of sf0.1
    ids: tuple[str, ...]
    repeat: int = 1  # runs of each id in a pass, one after another


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "sf0.1-headline-write",
            "two headline ids plus a CSV sink, JDBC, a stateful stream and a "
            "checkpointed one, each run once in a fresh session at sf0.1: "
            "per-query fixed cost, codegen and the build phase",
            1,
            HEADLINE_IDS + WRITE_STREAM_IDS,
        ),
        Workload(
            "x2-databound",
            "a grouped pandas UDF run twice on a 2x sf0.1 corpus: executor "
            "scan, shuffle and Python/Arrow work dominate; the quadratic "
            "dedup_tfidf_cosine and join_theta_range stay out",
            2,
            DATABOUND_IDS,
            repeat=2,
        ),
    )
}


def write_stream_pool(registered) -> list[str]:
    """The registered ids of the write-and-stream family, sorted."""
    return sorted(q for q in registered if q.startswith(WRITE_STREAM_PREFIXES))
