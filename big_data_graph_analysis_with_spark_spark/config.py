"""Algorithm configuration, mirroring the reference's five knobs plus a
seed (the reference is unseeded — `HelperFunction.scala:347-349,366-368` —
which is why its two recorded runs differ by 20 true positives; see
BASELINE.md).

Reference values: `Utilities/src/main/resources/application.conf:39-43`,
read via `GraphConfigReader.scala:6-13`. Invariant
``iters_before_accum <= num_iters_per_comp_node`` asserted at
`Main.scala:49` and tested at `MitMStatSimTest.scala:36-38`.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class SimConfig:
    #: walk-length quota as a fraction of |V| (application.conf:39)
    random_walk_coeff: float = 0.5
    #: number of concurrent walks / partitions (application.conf:40)
    num_of_parallel_walks: int = 20
    #: walks per partition across all rounds (application.conf:41)
    num_iters_per_comp_node: int = 50
    #: walks per round before the global match merge (application.conf:42)
    iters_before_accum: int = 10
    #: min SimRank score to call a match (application.conf:43)
    node_match_threshold: float = 0.1
    #: new-engine addition: deterministic RNG
    seed: int = 42

    def __post_init__(self) -> None:
        for name in ("num_of_parallel_walks", "num_iters_per_comp_node", "iters_before_accum"):
            if getattr(self, name) < 1:
                raise ValueError(f"{name} must be >= 1, got {getattr(self, name)}")
        if self.iters_before_accum > self.num_iters_per_comp_node:
            raise ValueError(
                "iters_before_accum must be <= num_iters_per_comp_node "
                "(reference invariant, Main.scala:49)"
            )

    @property
    def num_rounds(self) -> int:
        """Driver-loop rounds replacing the reference's itersBeforeAccum
        batching inside mapPartitions (Main.scala:83-90)."""
        q, r = divmod(self.num_iters_per_comp_node, self.iters_before_accum)
        return q + (1 if r else 0)


DEFAULT_CONFIG = SimConfig()
