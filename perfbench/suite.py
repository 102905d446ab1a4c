"""Which layer each bench query belongs to, and which queries are timed.

``layer_of`` derives a query's layer from its registered tags and module,
so a newly flagged bench query lands in a layer without an edit here
(``perfbench/tests`` asserts that every bench query maps to one of
``LAYERS``). A pass over all 63 bench queries takes over a minute at the
smallest scale, and their first calls take minutes more, longer than a
whole benchmark run may take; so the ``batch_queries`` workload times
``MEASURED``, one query per layer.
"""

from __future__ import annotations

LAYERS = (
    # JVM-bound: Catalyst, shuffles, AQE and driver-side loops.
    "plans.relational",
    "plans.extensions",
    "operators.graph",
    "sources.table_commit",
    "streaming.pipeline",
    # Python-worker-bound: pandas UDF codecs, dedup shuffles, text.
    "operators.multimodal",
    "operators.dedup",
    "operators.similarity",
    "functions.text",
)

# First matching rule wins: (tags that select the layer, layer).
_TAG_LAYERS = (
    ({"multimodal"}, "operators.multimodal"),
    ({"dedup"}, "operators.dedup"),
    ({"similarity"}, "operators.similarity"),
    ({"text", "corpus", "sampling"}, "functions.text"),
    ({"graph"}, "operators.graph"),
    ({"streaming"}, "streaming.pipeline"),
    ({"lake", "cdc", "merge"}, "sources.table_commit"),
)

# One query per layer, in LAYERS order, chosen so that set-up (the first
# call of each, about 40 s in all) plus three timed passes fit one run:
# where a layer has several bench queries, the one with the cheapest first
# call and pass.
MEASURED = (
    "window_topk_per_group",
    "sessionize_events",
    "hierarchy_flatten",
    "table_time_travel",
    "stream_sketch_kmv",
    "multimodal_decode_ulaw",
    "dedup_editdistance",
    "sim_topk_bruteforce",
    "text_token_freq",
)


# Layers whose queries commit tables once per source generation and then
# only read what they committed. Each timed call of one of these gets a
# fresh copy of the fixture directory (hard links, made before the pass
# clock starts), so the commits run inside the timed op. The streaming
# query caches its state table the same way, but a fresh stream costs
# about 12 s a pass, more than a run can spend; its stream runs in the
# warm-up only, and its timed calls read the committed state table.
FRESH_SOURCE = ("sources.table_commit",)


def layer_of(spec) -> str:
    tags = set(spec.tags)
    for selector, layer in _TAG_LAYERS:
        if selector & tags:
            return layer
    if spec.fn.__module__.endswith("plans.relational"):
        return "plans.relational"
    return "plans.extensions"
