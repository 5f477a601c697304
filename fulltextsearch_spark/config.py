"""Engine configuration.

Defaults mirror the reference's main code path:

* BM25 ``k1=1.2, b=0.75`` — the driver contract (BASELINE.json north_star)
  pins k1=1.2; the reference's 2-arg constructor default is k1=1.5
  (``/root/reference/src/scoring/bm25.cpp:5-9``). Both are reachable — the
  reference exposes a 4-arg constructor for custom (k1, b), so (k1, b) is
  explicit config here and tests pin each path.
* top-k default k=10 (``/root/reference/src/bootstrap/cli.cpp``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # BM25 parameters (reference bm25.cpp:5-9; north_star pins k1=1.2).
    k1: float = 1.2
    b: float = 0.75
    # top-k results per query.
    k: int = 10
    # stem tokens (reference main path uses the stemming tokenizer).
    stem: bool = True
    # posting-list block size for compression + block-max metadata.
    block_size: int = 128
    # doc-range sharding of compressed posting rows (SCALE.md §3): a term
    # whose merged postings exceed this many entries is emitted as MULTIPLE
    # self-contained rows (each with its own blocks/offsets/block-max), so no
    # reduce task ever materializes a >1 GB head-term row at 10^12-doc scale.
    # Readers treat each shard as an independent posting slice with idf from
    # the term-total df (sum of per-row counts). None disables (sandbox
    # corpora never need it); a production cluster would set ~128M
    # (~0.5 GB encoded at ~3-4 bytes/posting). The logical index ignores it
    # (build_index and logical_index give one row per term). Head-term skew in the build's shuffle
    # needs no knob: each map task packs its own partial run of every term.
    shard_postings: int | None = None


REFERENCE_CONFIG = EngineConfig(k1=1.5, b=0.75)  # reference 2-arg ctor defaults
DEFAULT_CONFIG = EngineConfig()
