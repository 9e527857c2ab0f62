"""The benchmark's workloads: generator inputs and the ops of one round.

This table is the one place that says which ops a workload runs and in
which layer (repo module) each op runs: ``run.py`` hands the op list to the
harness, and ``metrics.py`` derives the per-op metric names from it.
"""
from typing import NamedTuple

REFERENCE = "queries.Reference"
SIMILARITY = "ext.Similarity"
DEDUP = "ext.Dedup"
CORPUS = "ext.Corpus"
# The corpus op: one ingest day (streamed changelog, manifest and media
# warehouse updates, bucketed publish, consumer aggregate); the harness
# runs it through CorpusDaily rather than SparkEntry.queries.
CORPUS_DAY = (CORPUS, "day_update")


class Workload(NamedTuple):
    kind: str          # gen.py workload
    sizes: dict        # gen.py sizes
    ops: list          # (layer, op) in round order
    timeout_s: int     # harness JVM timeout


# markt_reference runs seven of the eight Script rows. c1_city_league is
# left out: it averages two-decimal view gains as doubles before Num.r6, so
# when a city's exact mean ends in a 5 at the seventh decimal the order in
# which the shuffle merges partial sums decides the rounding, and the row
# fails its oracle on some runs of some seeds (README, "Known failure").
WORKLOADS = {
    "markt_reference": Workload("markt", {"events_n": 30_000}, [
        (REFERENCE, r) for r in (
            "a1_rate_curves", "a2_lag_rates", "b1_pushes_by_timebin", "b2_initial_rate_by_hour",
            "c2_city_gate", "c3_push_extremes", "c4_discard_census")], 140),
    "vector_dedup": Workload("vector", {"docs": 600, "vecs": 300}, [
        (SIMILARITY, "s_knn_sq8"),
        *((DEDUP, r) for r in ("dd_ngram_jaccard", "dd_embed_neardup")),
        CORPUS_DAY], 150),
}

# Layers the corpus op's spans charge, besides its own.
CORPUS_LAYERS = ["streaming.Streams", CORPUS, "multimodal.Multimodal", "sources.Formats"]


def op_layers(ops: list) -> list:
    """Layers a round of `ops` charges, in first-use order."""
    out = []
    for op in ops:
        for layer in CORPUS_LAYERS if op == CORPUS_DAY else [op[0]]:
            if layer not in out:
                out.append(layer)
    return out


def all_ops() -> list:
    return [op for w in WORKLOADS.values() for op in w.ops]
