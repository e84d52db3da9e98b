"""The four workloads: what each runs, and how many passes a run needs."""
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def _query_list(path):
    with open(path) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


QUERY_MIX = _query_list(os.path.join(os.path.dirname(HERE), "query_mix.txt"))
GRAPH_QUERIES = ["q223_link_pagerank"]
# query_mix also runs these over its mid-size link graph, as "<name>@mid"
MID_QUERIES = ["q223_link_pagerank"]

# min_warm: warm passes a run makes even past --seconds; rank_ops: graft.ops loops a traced run calls directly (each is checked
# against q223, q227 or q228, so that query's oracle must be computed).
# graph_rank calls only PageRank: q227's and q228's oracles over its
# corpus take minutes in DuckDB.
WORKLOADS = {
    "mr_reference": {"min_warm": 3},
    "query_mix": {"min_warm": 2, "queries": QUERY_MIX, "mid_queries": MID_QUERIES,
                  "rank_ops": ["pagerank", "hits", "trustrank"]},
    "graph_rank": {"min_warm": 1, "queries": GRAPH_QUERIES,
                   "rank_ops": ["pagerank"]},
    "stream_curation": {"min_warm": 2, "compact_every": 2},
}

ORACLE_NAMES = sorted(set(QUERY_MIX) | set(GRAPH_QUERIES) | set(MID_QUERIES)
                      | {"q100_curation_pipeline"})
