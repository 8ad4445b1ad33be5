"""Workload definitions.

Every `SparkEntry.queries` key belongs to one family, by the graft module
its entry calls: `drives` when it calls into `graft.streaming`;
`relational` for `query.Relational`, `Events`, `Temporal`, `Bucketed`,
`BloomJoin`, `Sketches`, `Profile`, `Finders`, `PipelineOps`, the hash,
stratified and mixture samplers and `graft.sources`; `corpus` for the
rest (text, index, vocabulary, tokenizer, clustering and multimodal
keys). Like `graft.Bench`, the families leave out contract keys,
`ingest_e2e_*`, `dedup_lev_curated` and `stream_session_window_restart`.
A full pass over one family takes 25-60 s on 4 cores even at scale
factor 0.001, so the `mix` workload runs a fixed sample of each (`MIX`).
"""

# The mix's sample, by family. relational: per-query fixed cost (analysis,
# optimizer, codegen, scheduling, Tables.load) over an aggregate, a
# five-way join, an as-of join and a batch event window. corpus: the
# tokenize kernel, and MinHash signatures with LSH banding, a candidate
# self-join and Jaccard verification (the shuffle-heavy text path).
# drives: a transformWithState drive, i.e. the per-trigger floor plus
# state-store commits. Every key costs its share of a cold pass, two warm
# passes and three timed ones in each run, which is what bounds the sample;
# the connected-components keys (about 2.5 s a pass each) do not fit.
MIX = {
    "relational": ["q1_agg", "q5_multi_join_agg", "join_asof", "stream_tumbling"],
    "corpus": ["text_tokens", "dedup_minhash"],
    "drives": ["stream_tws_totals"],
}

ALL = {
    # the first warm-up delivery runs cold; warm-up goes on until a
    # delivery (mix: a pass) takes within `steady` of the previous one, or
    # the warm-up deliveries (passes) run out
    "journey": {
        "steady": 0.15,
        "journey": {"warm_sizes": [500, 500, 500], "sizes": [2000, 50000, 2000, 0],
                    "poison_at": 3},
    },
    "mix": {"keys": MIX, "sf": 0.001, "steady": 0.15, "max_warm": 3,
            "min_passes": 3, "oracle_sample": 2},
}
