"""Corpus -> import-graph extraction (vectorized, Arrow-batched).

The reference ingests pre-built edge lists ([REPO] `utils/` converters);
the north rule instead derives edges from a source-code corpus
``source_files(repo, path, commit, lang, content)`` at 10^12-file scale by
extracting import/include references with vectorized pandas/Arrow UDFs —
NO per-row Python (BASELINE.json input_hint). Implementation:
``mapInPandas`` + ``pandas.Series.str.extractall`` with one compiled
multiline regex per language; reference resolution is a plain equi-join
on (repo, path-stem) whose plan (broadcast or shuffle) Spark's broadcast
threshold picks; unresolvable imports are dropped and countable via the
returned anti-join, never a crash (FIXTURES.md §1). Vertex ids are
``graph.vertex_id(repo, path)``, hashed from the edge row's own columns.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .graph import mint_vertex_ids, vertex_id
from .shipping import ensure_shipped, kernel

# One multiline pattern per language; group 1 = dotted module, group 2 =
# path-like reference (extension stripped during normalization).
IMPORT_PATTERNS: dict[str, list[str]] = {
    "python": [r"(?m)^\s*(?:from|import)\s+([\w.]+)"],
    "c": [r'(?m)^\s*#\s*include\s+"([^"]+)"'],
    "java": [r"(?m)^\s*import\s+(?:static\s+)?([\w.]+)\s*;"],
    "javascript": [
        r'(?m)\bfrom\s+["\']\./([^"\']+)["\']',
        r'(?m)\brequire\(\s*["\']\./([^"\']+)["\']\s*\)',
    ],
}

REF_SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("src_path", StringType()),
        StructField("dst_stem", StringType()),
    ]
)

_STRIP_EXT = r"\.(?:py|h|hpp|c|cc|java|js|jsx|ts)$"


def _normalize(refs: pd.Series, lang: str) -> pd.Series:
    """Dotted module -> slash stem; path-like -> extension-stripped stem."""
    if lang in ("python", "java"):
        return refs.str.replace(".", "/", regex=False)
    return refs.str.replace(_STRIP_EXT, "", regex=True)


def _extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for lang, grp in pdf.groupby("lang", sort=False):
            for pat in IMPORT_PATTERNS.get(lang, []):
                hits = grp["content"].str.extractall(pat)
                if hits.empty:
                    continue
                idx = hits.index.get_level_values(0)
                out.append(
                    pd.DataFrame(
                        {
                            "repo": grp["repo"].loc[idx].to_numpy(),
                            "src_path": grp["path"].loc[idx].to_numpy(),
                            "dst_stem": _normalize(hits[0], lang).to_numpy(),
                        }
                    )
                )
        yield (
            pd.concat(out, ignore_index=True)
            if out
            else pd.DataFrame({"repo": [], "src_path": [], "dst_stem": []})
        )


def extract_references(corpus: DataFrame) -> DataFrame:
    """``source_files`` -> raw references ``(repo, src_path, dst_stem)``.

    Column-pruned input (only repo/path/lang/content reach Python), Arrow
    batches in/out, vectorized regex — the hot path has no per-row Python.
    """
    ensure_shipped(corpus.sparkSession)
    return corpus.select("repo", "path", "lang", "content").mapInPandas(
        kernel(_extract_batch), schema=REF_SCHEMA
    )


def path_index(corpus: DataFrame) -> DataFrame:
    """(_idx_repo, _idx_stem, _idx_path) — resolution index with private
    column names so joining it against anything corpus-derived is never
    ambiguous; stems are unique per repo in well-formed corpora
    (collisions resolve to all matches)."""
    return corpus.select(
        F.col("repo").alias("_idx_repo"),
        F.regexp_replace("path", _STRIP_EXT, "").alias("_idx_stem"),
        F.col("path").alias("_idx_path"),
    )


def resolve_against_index(
    refs: DataFrame, idx: DataFrame, broadcast_index: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Join raw references against an already-built ``path_index`` frame.

    Shared by the batch pipeline (``resolve_references``) and the
    Structured-Streaming incremental resolver (``streaming.py``), which
    joins delta-refs/delta-index slices instead of the whole corpus —
    both paths get the identical resolution semantics from this one join.
    """
    if broadcast_index:
        idx = F.broadcast(idx)
    joined = refs.join(
        idx,
        (refs["repo"] == idx["_idx_repo"]) & (refs["dst_stem"] == idx["_idx_stem"]),
        "left",
    )
    edges = (
        joined.where(F.col("_idx_path").isNotNull())
        .select("repo", "src_path", F.col("_idx_path").alias("dst_path"))
        .distinct()
    )
    unresolved = joined.where(F.col("_idx_path").isNull()).select(
        "repo", "src_path", "dst_stem"
    )
    return edges, unresolved


def resolve_references(
    refs: DataFrame, corpus: DataFrame, broadcast_index: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Join raw references against the path index.

    Returns ``(edges, unresolved)`` where edges = (repo, src_path,
    dst_path) deduplicated and unresolved = (repo, src_path, dst_stem)
    rows whose target does not exist (dropped, counted by the caller).

    ``broadcast_index``: hint the path index into a broadcast hash join —
    right at sampled tiers (index = one row per file); at 10^12 files the
    index is NOT broadcastable and the shuffle join is the correct plan.
    """
    return resolve_against_index(refs, path_index(corpus), broadcast_index)


def corpus_to_graph(corpus: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full pipeline: corpus -> (vertices, edges, unresolved).

    vertices = (repo, path, id) with id = ``vertex_id(repo, path)`` (SURVEY
    §1.2 id minting; callers at huge scale should run
    ``graph.assert_no_id_collisions``); edges = (src, dst) vertex ids,
    hashed from each resolved path edge's own (repo, src_path) and (repo,
    dst_path) — no join against the vertex table. A file with a NULL path
    has no vertex and so contributes no edges.

    One code path serves every corpus size: Spark's broadcast threshold
    (``spark.sql.autoBroadcastJoinThreshold``, AQE on) picks the index
    join's plan — broadcast at sampled tiers, shuffle at 10^12 files.
    Nothing is persisted; the caller owns any cache of the returned frames.
    """
    refs = extract_references(corpus)
    path_edges, unresolved = resolve_references(refs, corpus)
    vertices = mint_vertex_ids(corpus.select("repo", "path"), "repo", "path")
    edges = path_edges.where(F.col("src_path").isNotNull()).select(
        vertex_id("repo", "src_path").alias("src"),
        vertex_id("repo", "dst_path").alias("dst"),
    )
    return vertices, edges, unresolved
