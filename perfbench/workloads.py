"""The benchmark's three workloads.

Each is one analyst client in a closed loop: the next op starts when the
previous one returns. An op is a registry key run on the workload's data
directory with every output column written to Spark's noop sink, or, in
graph-session, a rewrite of the data. Ops come in rounds: a seeded order
of a fixed multiset of op types, so every run has the same mix, and the
number of rounds is fixed by the window's length.

Sizes are set so that one run, with Spark start-up, three set-ups and
output checks, takes 30-50 s on a 4-core host.
"""

from __future__ import annotations

import random

import datagen

WRITE = "write"


class Workload:
    name: str
    n: int
    #: op types and how many of each one round holds
    mix: dict[str, int]
    #: fewest rounds in a window: enough ops that the tail percentile
    #: (the highest with ten ops beyond it) lies inside the slow op group
    #: the workload names, not between two groups
    min_rounds: int
    #: seconds one round takes on the reference host (4 cores); sets how
    #: many rounds a window of a given length holds
    round_s: float
    #: drop the directory's memos before every op (cold kernels)
    invalidate_each_op = False

    def __init__(self, seed: int, data_dir: str, n: int | None = None) -> None:
        self.seed = seed
        self.dir = data_dir
        if n is not None:
            self.n = n
        self.rng = random.Random(seed)
        self.version = 0
        self._last: str | None = None

    def rounds(self, seconds: float) -> int:
        """Rounds in a window of about ``seconds``: the op sequence of a run
        is fixed by its length, never by the figures it produces."""
        return max(self.min_rounds, round(seconds / self.round_s))

    def generate(self, eps: dict[str, float]) -> dict:
        self.x, self.labels, info = datagen.generate(self.dir, self.n, self.seed, eps)
        return info

    def keys(self) -> list[str]:
        """Registry keys this workload runs."""
        return [k for k in self.mix if k != WRITE]

    def warmup(self) -> list[str]:
        """One op of each type, discarded."""
        return list(self.mix)

    def round(self) -> list[str]:
        return self._no_repeats([k for k, c in self.mix.items() for _ in range(c)])

    def _no_repeats(self, ops: list[str]) -> list[str]:
        """A seeded order of ``ops`` in which no op follows one of its own
        kind: a repeated plan runs faster from Spark's code-generation
        cache, so a varying number of repeats would move the figures."""
        while True:
            self.rng.shuffle(ops)
            seq = [self._last, *ops]
            if all(a != b for a, b in zip(seq, seq[1:])):
                self._last = ops[-1]
                return ops


class FoldBatch(Workload):
    name = "fold-batch"
    n = 500
    #: radius_pivot and classify take about the same time and make up 5/8 of
    #: the ops, so the median lies inside their group; crossval is the next
    #: quarter, where the tail percentile (p68 at 4 rounds) lies; dbscan is
    #: the slowest eighth
    mix = {"knn_classify": 3, "knn_crossval": 2, "knn_radius_pivot": 2, "ml_dbscan": 1}
    min_rounds = 4
    round_s = 4.5
    invalidate_each_op = True


class GraphSession(Workload):
    name = "graph-session"
    n = 800
    #: every read key equally often, then a write. After the write the
    #: first k=5 and the first k=10 read rebuild the self-join memos: 2 of
    #: the 36 ops of a round (~6 %), above the tail percentile (p86 at 2
    #: rounds), so ``latency_tail_s`` falls among the slowest reads
    #: (pagerank, 1/7 of the reads), not between reads and rebuilds.
    mix = {
        "knn_join": 5,
        "knn_kth_dist": 5,
        "knn_mutual": 5,
        "graph_reciprocity": 5,
        "graph_knn_hubness": 5,
        "ml_lof": 5,
        "graph_pagerank": 5,
        WRITE: 1,
    }
    min_rounds = 2
    round_s = 6.2

    def warmup(self) -> list[str]:
        # ends with a write, so every round, the first too, starts with
        # the memo rebuilds
        return self.keys() + [WRITE]

    def round(self) -> list[str]:
        return self._no_repeats([k for k in self.keys() for _ in range(self.mix[k])]) + [WRITE]

    def prepare_write(self):
        """Next version of the data, built before the timed write."""
        self.x = datagen.perturb(self.x, self.seed * 1000 + self.version + 1)
        return datagen.to_table(self.x, self.labels)

    def write(self, table, tables) -> None:
        datagen.write_atomic(table, self.dir)
        tables.invalidate_caches(self.dir)
        self.version += 1


class SearchGemm(Workload):
    name = "search-gemm"
    n = 5000
    #: the two keys alternate; only the first op of a run is seeded. The
    #: tail percentile (p68 at 16 rounds) lies inside the slower
    #: udf_map_arrow half
    mix = {"llm_simsearch_gemm": 1, "udf_map_arrow": 1}
    min_rounds = 16
    round_s = 0.9


WORKLOADS = {w.name: w for w in (FoldBatch, GraphSession, SearchGemm)}
