"""Shared materialization helper for reused bounded intermediates.

Several operators/queries cut multiplicative plan re-expansion by
materializing a small reused frame once (``localCheckpoint()``): the
selection operator's per-group statistics, robust_mad's median pass,
pagerank's static ``edges ⋈ deg`` block, prefix_filter's result,
recursive_ewma's head frame.  This module centralizes the call so the
fault-tolerance trade is stated once and switchable once (VERDICT r17
item 3/next-round item 4):

* ``localCheckpoint()`` (the default) stores blocks on executors with
  NO recompute path — fast (no replication, no durable write), but an
  executor loss mid-query FAILS the job instead of recomputing.  That
  is the right trade locally and for the bench; for the strictly
  bounded frames (one row per group, k-row codebooks) the exposure
  window is milliseconds.
* ``checkpoint()`` (``reliable=True``, or env
  ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` for the registered queries,
  whose signatures the driver contract fixes) writes replicated blocks
  to ``spark.sparkContext.setCheckpointDir`` — survives executor loss;
  REQUIRED setup: point the checkpoint dir at durable shared storage
  (without one, :func:`pin` raises ``ValueError``).
  ``operators/components.connected_components`` passes its
  ``reliable_checkpoint`` argument through the same call.

Default mode is byte-identical to the pre-knob behavior (same
``localCheckpoint`` call, same plans); the env flag exists so a cluster
deployment can harden EVERY materialization site with one setting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_ENV = "SPARK_GRAFT_RELIABLE_CHECKPOINT"


def reliable_default() -> bool:
    """True when the deployment asked for replicated checkpoints."""
    return os.environ.get(_ENV, "").strip().lower() in ("1", "true", "yes")


def pin(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """Materialize ``df`` eagerly and truncate its lineage.

    ``reliable=None`` (the registered-query default) reads the
    ``SPARK_GRAFT_RELIABLE_CHECKPOINT`` env switch; operators with a
    caller-facing signature should expose the choice as a
    ``reliable_checkpoint`` parameter and pass it through (see
    ``connected_components``).  See the module docstring for the
    executor-loss trade each form makes.

    Raises ``ValueError`` when the reliable form is asked for and no
    checkpoint directory is set."""
    if reliable is None:
        reliable = reliable_default()
    if not reliable:
        return df.localCheckpoint()
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "reliable checkpoint requested but no checkpoint directory is "
            "set: call SparkContext.setCheckpointDir(<durable shared path>) "
            f"first, or use localCheckpoint() (unset {_ENV}, pass "
            "reliable=False)"
        )
    return df.checkpoint()
