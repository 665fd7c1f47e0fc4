"""Connected components over a pair/edge list — the dedup-clustering step:
near-dup PAIRS (from jaccard/minhash/simhash/embedding ops) become CLUSTERS,
and each cluster keeps one canonical document.

Algorithm: iterative min-label propagation (the standard shared-nothing CC
formulation): every node starts labeled with itself; each round every node
takes the min label in its neighborhood; converged when no label changes.
Rounds = O(component diameter) — near-dup graphs are unions of small
cliques, so 2-4 rounds in practice.  Each round is one shuffle on node id;
no driver-side graph state (only a scalar convergence count crosses to the
driver).

Two executions paths, picked by measured edge count (the count is free —
it rides the edge-list materialization every path needs anyway):

- **small graph** (≤ ``small_graph_edges``, default 1M): one
  ``applyInPandas`` task runs union-find with path compression over the
  whole edge list.  Near-dup pair lists are usually tiny relative to the
  corpus (pairs ∝ duplicates, not documents), so even a 100 TB corpus
  commonly lands here — and the iterative loop's fixed overhead
  (checkpoint + count action per 2-step window, ~17 s at sf0.1 for a 10k
  node graph) collapses to one task.
- **large graph**: the label-propagation loop.  Per check window:
  - Two propagation steps run lazily between materializations: a
    no-change *last* step still proves convergence, so checking every 2nd
    round is exact, not a heuristic.
  - ``localCheckpoint`` truncates lineage, so analysis/planning cost
    stays constant per round instead of growing with the accumulated plan.

Fault-tolerance tradeoff (cluster mode): ``localCheckpoint`` blocks are
unreplicated and NON-recoverable — an executor loss mid-iteration fails
the job (fail-loud; the lineage-free blocks cannot be recomputed).  That
is the correct local/bench default, but on a real cluster pass
``reliable_checkpoint=True`` (with ``spark.sparkContext.setCheckpointDir``
pointing at durable storage) to swap in replicated ``checkpoint()``
materializations that survive executor loss.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.operators.materialize import pin


def _unionfind_components(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Single-pass union-find (path halving) over an edge list; emits
    (node, comp) with comp = min member of the component.  Result is
    order-independent, so it is deterministic for any edge arrival order."""
    parent: dict = {}
    # every endpoint, tracked from the edges themselves — deriving the node
    # set from `parent` misses nodes whose only edges were self-loops (no
    # union ever fires, so they never get a parent entry) and would silently
    # drop them from the output, diverging from the propagation path, which
    # labels every node appearing in the edge list
    seen: set = set()

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for pdf in pdf_iter:
        for u, v in zip(pdf["u"], pdf["v"]):
            seen.add(u)
            seen.add(v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
    # min member per root labels the component (same convention as the
    # min-label propagation loop — the two paths are interchangeable)
    comp_min: dict = {}
    for n in seen:
        r = find(n)
        m = comp_min.get(r)
        comp_min[r] = n if m is None or n < m else m
    out = [(n, comp_min[find(n)]) for n in seen]
    yield pd.DataFrame(out, columns=["node", "comp"])


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
    check_every: int = 2,
    small_graph_edges: int = 1_000_000,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """(node, component) — component = min node id reachable.

    ``edges`` is an undirected pair list — ONE orientation per pair, no
    duplicate rows.  Duplicates or mirrored pairs never change the result
    (both execution paths are duplicate-insensitive), but they inflate the
    ``2 * count()`` path-choice estimate below and can push a genuinely
    small graph onto the slower iterative path — dedupe upstream if the
    pair generator can emit both orientations.  Isolated nodes absent from
    the list are their own components by definition (add them downstream
    if needed).
    Warns (and returns the partial labels) if ``max_iterations`` is
    exhausted before convergence — only possible when a component's
    diameter exceeds ``max_iterations``, which near-dup clique unions
    never approach.
    """
    if check_every < 1:
        # 0 would run zero lazy steps and then die far away on the missing
        # __changed column (and never advance `done`)
        raise ValueError(f"check_every must be >= 1, got {check_every}")
    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")

    # materialize the edge list BEFORE anything reads it twice: the input
    # here is typically the whole near-dup pair pipeline (the expensive
    # part), and both paths below re-read it
    e = pin(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")), reliable_checkpoint)
    # scalar count over the already-materialized edge list — effectively
    # free, and it picks the execution path.  ``small_graph_edges`` is
    # documented as a bound on directed edges after mirroring, so compare
    # against 2× the undirected count (a safe upper bound of the mirrored
    # distinct size) — an input of ~500k undirected pairs sits right at
    # the default 1M.
    n_edges = 2 * e.count()

    if n_edges <= small_graph_edges:
        # one task, one pandas pass — no per-round actions at all.  Union-
        # find is direction- and duplicate-insensitive, so the UNDIRECTED
        # list feeds it as-is: no mirror union, no distinct shuffle, no
        # second materialization (measured ~0.6 s of the sf0.1 headline).
        # The constant grouping key plans Exchange SinglePartition
        # deliberately: the edge list is measured-small, not assumed-small.
        node_t = e.schema["u"].dataType.simpleString()
        return (
            e.groupBy(F.lit(1).alias("__g"))
            .applyInPandas(
                lambda _key, pdf: next(_unionfind_components(iter([pdf]))),
                schema=f"node {node_t}, comp {node_t}",
            )
        )

    # label propagation needs the mirrored view (each round takes the min
    # over IN-neighbors); built from the pinned list, so the pair pipeline
    # still runs once
    bidir = pin(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct(),
        reliable_checkpoint,
    )  # every round reads it

    labels = (
        bidir.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )

    def step(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            bidir.join(lbl, bidir["v"] == lbl["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("comp").alias("nmin"))
        )
        return lbl.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias("comp"),
            F.coalesce(F.col("nmin") < F.col("comp"), F.lit(False)).alias("__changed"),
        )

    done = 0
    changed = 1
    while done < max_iterations and changed:
        steps = min(check_every, max_iterations - done)
        cur = labels
        for _ in range(steps):
            cur = step(cur.select("node", "comp"))
        cur = pin(cur, reliable_checkpoint)  # one materialization per check window
        # __changed reflects only the LAST lazy step: zero there means that
        # step was a fixpoint application — exact convergence, not a sample
        changed = cur.filter(F.col("__changed")).count()
        labels = cur.select("node", "comp")
        done += steps
    if changed:
        warnings.warn(
            f"connected_components: not converged after {max_iterations} rounds "
            "(a component's diameter exceeds the round budget); labels are partial",
            stacklevel=2,
        )
    return labels


def dedup_clusters(pairs: DataFrame, all_ids: DataFrame, id_col: str) -> DataFrame:
    """(id, cluster_id): cluster = min doc id in the near-dup component;
    ids with no near-dup edge are singleton clusters of themselves.
    ``keep = (id == cluster_id)`` picks one canonical doc per cluster."""
    comps = connected_components(pairs)
    return (
        all_ids.select(F.col(id_col))
        .join(comps.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col(id_col)).alias("cluster_id"),
        )
    )
