"""Job configuration — the declarative "profile" of a linkage run.

The reference serializes a whole job spec (files, keys, mappings,
options) as a JSON Profile (utils/config.py:169-216) and restores it to
resume work (utils/session.py:17-98). ``PipelineConfig`` is that idea for
the web-scale pipeline: one JSON-serializable dataclass that fully
determines the job, so a run can be re-launched bit-identically from its
config + input snapshot.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class PipelineConfig:
    # stage 1 — blocking
    shingle_words: int = 3
    minhash_k: int = 64
    lsh_bands: int = 16
    lsh_rows: int = 4
    minhash_seed: int = 1337
    use_domain_blocks: bool = True
    # Domain blocks above this are truncated (logged, never silent): the
    # block-local self-join is quadratic, and content recall inside big
    # domains comes from the LSH band keys anyway. Measured at 5k docs
    # with a 30%-share head domain: cap 500 → 7× fewer pairs than cap
    # 2000 at F1 0.9998 (precision 1.0).
    max_block_size: int = 500
    max_band_size: int = 200  # LSH band blocks above this are truncated

    # stage 2 — scoring
    jw_title_threshold: float = 0.90
    jaccard_text_threshold: float = 0.50
    length_delta_prefilter: int = 40  # |len(title_a)-len(title_b)| cheap prune
    histogram_buckets: int = 20

    # stage 3 — clustering
    max_cc_iterations: int = 20
    # Reliable-checkpoint directory for the CC loop's per-round lineage
    # cut. Empty (default) → localCheckpoint (executor-local blocks —
    # fine single-machine; lost on executor death). Set to a DFS path on
    # a real cluster → df.checkpoint() per round: iteration state
    # survives executor loss. Stage boundaries are parquet-materialized
    # either way (plans/run.py commit markers).
    checkpoint_dir: str = ""

    # Feature-join strategy cutover: at or below this many feature rows
    # the score stage BROADCASTS the slim feature table onto the pair
    # stream (two broadcasts, ~2.5 KB/row in memory — size driver/executor
    # heap accordingly); above it, both feature joins are declared
    # shuffle-hash on uid. The cutover exists because Spark's static
    # planner estimates from PARQUET size, and token-hash arrays compress
    # ~20×: at 480k docs the stats said "60 MB, broadcast it" and the
    # 1 GB in-memory build killed a 4 GB driver. At 10^12 docs the
    # feature table can never broadcast — the shuffle-hash path IS the
    # production plan; the broadcast path is the small-corpus fast path.
    broadcast_feature_rows: int = 250_000

    # doc-id width for every wide shuffle (pairs, feature joins, CC).
    # 64 → one xxhash64 of the url (8-byte keys; collision expectation
    # n²/2⁶⁵ — negligible to ~10⁹ docs). 128 → a two-seed xxhash64
    # struct (16-byte fixed-width keys; swap point SCALE.md prescribes
    # at 10¹²-doc scale, where 64-bit birthday collisions reach ~2.7%).
    uid_bits: int = 64

    # languages to keep (empty → all)
    langs: tuple = ()

    def __post_init__(self) -> None:
        if self.minhash_k != self.lsh_bands * self.lsh_rows:
            raise ValueError(
                f"minhash_k ({self.minhash_k}) must equal lsh_bands*lsh_rows "
                f"({self.lsh_bands}*{self.lsh_rows})"
            )
        if self.uid_bits not in (64, 128):
            raise ValueError(f"uid_bits must be 64 or 128, got {self.uid_bits}")

    def to_json(self, path: str | Path) -> None:
        Path(path).write_text(json.dumps(asdict(self), indent=2, default=list))

    @classmethod
    def from_json(cls, path: str | Path) -> "PipelineConfig":
        d = json.loads(Path(path).read_text())
        d["langs"] = tuple(d.get("langs", ()))
        return cls(**d)
