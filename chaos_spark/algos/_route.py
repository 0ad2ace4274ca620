"""Stream-or-join routing, shared by every dispatcher that has a fused
stream kernel (pagerank, cc, lpa, bfs/sssp, kcores, mis, bipartite,
hyperanf, scc).

One decision per call: serve it from the stream path (stream.py /
stream_algos.py over CSR blocks) or from the dispatcher's join path.

- ``mode="stream"`` pins the stream path and raises when the call passes
  an argument only the join path supports; ``mode="join"`` (PageRank:
  ``"shuffle"`` / ``"broadcast"``) pins the join path.
- ``mode="auto"`` routes stream from the cold crossover in raw edges —
  ``csr.STREAM_AUTO_MIN_EDGES`` for every dispatcher but CC, which
  keeps ``csr.CC_STREAM_MIN_EDGES`` — or below it when the warm-block
  registry already holds the blocks the kernel would build (the
  cold-build argument for the join path is then void). PageRank passes
  no block flavor, so it never probes.
- ``num_edges``: caller-known raw |E| skips the one count routing
  runs for a stream-capable call. The count is handed back, so the block
  build or the join fallback reuses it instead of counting again.

The measured records behind the crossovers are cited in csr.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .. import csr
from ..csr import _warm_blocks_ready, _warm_key

def stream_route(
    algo: str,
    edges: DataFrame,
    mode: str,
    num_edges: int | None = None,
    num_partitions: int | None = None,
    flavor: Callable[[DataFrame], tuple] | None = None,
    unsupported: dict | None = None,
    modes: tuple[str, ...] = ("auto", "join", "stream"),
) -> tuple[bool, int | None]:
    """``(use the stream path, |E| if known)`` for one ``algo`` call.

    ``flavor``: the kernel's block flavor (``_StreamKernel.block_flavor``),
    keyed for the warm-block probe. ``unsupported``: argument
    name -> value of each argument the stream path does not take; any
    non-None value keeps the call on the join path."""
    if mode not in modes:
        raise ValueError(
            f"unknown mode {mode!r} (expected one of "
            f"{', '.join(map(repr, modes))})"
        )
    if mode not in ("auto", "stream"):
        return False, num_edges
    blocked = [k for k, v in (unsupported or {}).items() if v is not None]
    if blocked:
        if mode == "stream":
            raise ValueError(
                f"mode='stream' does not support {' or '.join(blocked)}"
            )
        return False, num_edges
    if num_edges is None:
        num_edges = edges.count()
    crossover = csr.CC_STREAM_MIN_EDGES if algo == "cc" else csr.STREAM_AUTO_MIN_EDGES
    if mode == "stream" or num_edges >= crossover:
        return True, num_edges
    if flavor is None:
        return False, num_edges
    e, undirected, weight_col = flavor(edges)
    key = _warm_key(e, undirected, weight_col, num_partitions)
    return _warm_blocks_ready(key) is not None, num_edges
