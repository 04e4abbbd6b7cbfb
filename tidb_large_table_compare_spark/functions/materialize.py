"""Conf-gated eager materialization — the localCheckpoint/persist seam.

Several candidate-generation operators materialize a narrow intermediate
once before a self-join so both join sides read the computed table instead
of re-deriving the full lineage (text → hash → signature) twice — the
duplicated-lineage shape the sf10 profile measured in the minhash candidate
stage. The default mechanism is ``localCheckpoint(eager=True)``: lineage is
truncated, blocks are executor-local, and no unpersist hook is needed
because the blocks die with the session.

That default carries a documented trade (ADVICE r10): localCheckpoint
blocks are UNREPLICATED and the truncated lineage is unrecoverable — on a
preemptible / dynamic-allocation cluster an executor loss after the
checkpoint fails the job instead of recomputing, and blocks are reclaimed
only by driver GC. For those deployments set

    spark.graft.materialize.mode = persist

(session conf, settable at runtime) and the same call sites switch to
``persist(MEMORY_AND_DISK)`` + an eager count: persisted blocks keep their
lineage (executor loss → recompute), are evictable under memory pressure,
and can be dropped early via the returned handle's ``unpersist()``. The
operators themselves cannot unpersist (they return open DataFrames), which
is exactly why persist is opt-in rather than the default: an un-dropped
persist pins the storage-memory pool, while localCheckpoint blocks at
least stay out of it.

Both modes run one eager job and yield bit-identical downstream results
(pinned by tests/test_materialize.py). Stage counts ride ``observe()``
metrics on those jobs and are read back through :func:`observed_count`.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame, Observation

MODE_CONF = "spark.graft.materialize.mode"


def materialize(df: DataFrame, mode: str | None = None) -> DataFrame:
    """Eagerly compute ``df`` once and return a re-readable handle.

    ``mode`` (or the ``spark.graft.materialize.mode`` session conf):
    ``localCheckpoint`` (default) or ``persist`` — see module docstring
    for the failure-domain trade between them.
    """
    if mode is None:
        mode = df.sparkSession.conf.get(MODE_CONF, "localCheckpoint")
    if mode == "persist":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()  # same eagerness as localCheckpoint(eager=True)
        return out
    if mode != "localCheckpoint":
        raise ValueError(
            f"{MODE_CONF}={mode!r}: expected 'localCheckpoint' or 'persist'"
        )
    return df.localCheckpoint(eager=True)


def observed_count(
    obs: Observation, metric: str, recount: Callable[[], int]
) -> int:
    """Read an Observation's ``metric``, with a recount fallback.

    ``Observation.get`` blocks until the first action over the observed
    frame finishes; callers read a metric after that action has run, so
    this returns immediately. The thread+timeout guard is a belt against
    the one pathological case — an execution path where the observed node
    ends up entirely behind a populated cache so its metrics never surface
    — in which case ``recount()`` runs after 30 s instead (costing the one
    extra job the observation was meant to save, never a hang).
    """
    box: dict[str, int] = {}

    def _grab() -> None:
        box["n"] = int(obs.get[metric])

    t = threading.Thread(target=_grab, daemon=True)
    t.start()
    t.join(30.0)
    if "n" in box:
        return box["n"]
    return recount()
