"""Small shared utilities."""

from __future__ import annotations


def require_local_path(path: str) -> None:
    """os-level file operations (index sidecars, compaction moves) only
    work on local paths; a URI-scheme path would either crash late or
    silently no-op (the be0a832 bug class) — refuse loudly instead.  At
    cluster scale the same protocols run through the Hadoop FileSystem
    API; these helpers are the local-mode implementation."""
    if "://" in path:
        raise ValueError(
            f"local filesystem path required, got {path!r} — this helper "
            "uses os-level file operations; at cluster scale drive the "
            "same protocol through the Hadoop FileSystem API"
        )


def overwrite_partitioned(df, *cols: str):
    """A writer that REPLACES an index directory, partitioned by ``cols``
    (none: flat).  The session sets ``partitionOverwriteMode=dynamic``
    (idempotent ingest re-runs), which keeps every partition the new
    rows miss: a rebuild with fewer tables, cells or bands would serve
    the old build's leftovers."""
    return (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(*cols)
    )
