"""Fixed-path artifact handshake shared by the value-checked ML and
index queries (m02/m05/s05/s09/m08 + io/auc artifacts).

These oracles re-read a parquet/CSV/text artifact their paired query
just wrote. The path must be STATIC because the oracle SQL string is
assembled at import time (the driver's harness can't thread a session
token into it) — but "static" means static PER PROCESS: the scratch
root honors $SPARK_GRAFT_SCRATCH exactly like the session-keyed index
scratch in plans/similarity_queries (ADVICE r5), so an operator can
point concurrent evaluators at disjoint roots. Within one process the
contract is an evaluation HANDSHAKE: the query overwrites (atomically,
via sources.writers.publish_parquet_atomic), then its paired oracle
re-reads the same files; checks run sequentially per (query, oracle)
pair. Two concurrent evaluator PROCESSES sharing a scratch root can
interleave a write between a query and its oracle read — that yields
a visible mismatch, never a false pass. scripts/seed_artifact_oracles.py
re-seeds every artifact at the driver's correctness SF and must run
LAST in any CI ordering that sweeps other SFs.
"""

from __future__ import annotations

import os
import tempfile


def _default_scratch() -> str:
    """Per-user 0700 scratch root (ADVICE r6): bare ``/tmp`` names
    are predictable and world-writable, so on a shared host another
    user could pre-create/symlink them and hijack or destroy the
    artifacts the atomic publisher renames into. A uid-suffixed
    directory created with mode 0700 closes that (pre-existing dir
    owned by someone else → the chmod/owner check below fails loudly
    rather than silently sharing)."""
    import stat as _stat

    root = os.path.join(
        tempfile.gettempdir(), f"mergers_acquisitions_spark_u{os.getuid()}"
    )
    try:
        os.makedirs(root, mode=0o700, exist_ok=True)
    except FileExistsError:
        # the name exists but is not a directory (a planted file or a
        # dangling symlink) — same refusal as the checks below
        raise PermissionError(
            f"scratch root {root} exists but is not a directory; "
            "set SPARK_GRAFT_SCRATCH to a private directory"
        )
    # Symlink hardening (ADVICE r7): makedirs(exist_ok=True) and
    # os.stat both FOLLOW symlinks, so an attacker pre-creating the
    # predictable name as a symlink to a directory the victim owns
    # would pass the uid check while the chmod and every artifact
    # write land through the attacker-chosen link. lstat + an explicit
    # is-a-real-directory check close that (mkdtemp-style).
    if os.path.islink(root):
        raise PermissionError(
            f"scratch root {root} is a symlink; refusing to follow it — "
            "set SPARK_GRAFT_SCRATCH to a private directory"
        )
    st = os.lstat(root)
    if not _stat.S_ISDIR(st.st_mode):
        raise PermissionError(
            f"scratch root {root} exists but is not a directory; "
            "set SPARK_GRAFT_SCRATCH to a private directory"
        )
    if st.st_uid != os.getuid():
        raise PermissionError(
            f"scratch root {root} is owned by uid {st.st_uid}, not us; "
            "set SPARK_GRAFT_SCRATCH to a private directory"
        )
    os.chmod(root, 0o700)
    return root


#: Read once at import: the oracle strings interpolate these paths, so
#: a mid-session env change must not split query and oracle.
_SCRATCH = os.environ.get("SPARK_GRAFT_SCRATCH") or _default_scratch()


def scratch_root() -> str:
    """The process-wide scratch root every artifact family shares
    ($SPARK_GRAFT_SCRATCH, else the per-user 0700 default) — the
    session-keyed index scratch and the m02 model path import this
    instead of re-defaulting to bare /tmp."""
    return _SCRATCH


def handshake_path(name: str) -> str:
    """The fixed artifact path for handshake artifact ``name``."""
    return os.path.join(_SCRATCH, f"mergers_acquisitions_spark_{name}")


def publish_codebooks(spark, books: list, path: str) -> list:
    """The learned-artifact recipe: publish PQ books as the ``(m,
    code, vec)`` parquet artifact at ``path``
    (`sources.writers.publish_parquet_atomic`, ``m`` 1-based) and
    return the books READ BACK from it as nested lists — the query
    builds from the same files its oracle replays."""
    from ..operators.util import local_rows_df
    from ..sources.writers import publish_parquet_atomic

    rows = [
        (m + 1, c, [float(x) for x in code])
        for m, book in enumerate(books)
        for c, code in enumerate(book)
    ]
    publish_parquet_atomic(
        local_rows_df(spark, rows, "m BIGINT, code BIGINT, vec ARRAY<DOUBLE>"), path
    )
    nested: dict = {}
    for r in spark.read.parquet(path).collect():
        nested.setdefault(int(r["m"]), {})[int(r["code"])] = [float(x) for x in r["vec"]]
    return [[nested[m][c] for c in sorted(nested[m])] for m in sorted(nested)]
