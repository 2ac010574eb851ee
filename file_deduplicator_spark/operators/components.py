"""Connected components over the verified-pair edge list — assigns cluster
ids by transitive closure.

Replaces the reference's greedy star clustering (main.go:868-902), whose
groups depend on (nondeterministic) input order. CC output is a superset of
any greedy-star grouping over the same edges (SURVEY §7.3), so dup-pair
recall vs the reference is 1.0 given the same edge set; precision may merge
chains — accepted per the BASELINE.json metric.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14), expressed as DataFrame
self-joins + aggregations. Converges in O(log^2 n) rounds on pathological
graphs, 2-4 rounds on dedup graphs (small, dense clusters). Each round:

  large-star: for each node u, every neighbor v > u re-points to min(N(u)∪u)
  small-star: each node's smaller-or-equal neighbors re-point to the min

We implement the standard simplification (label propagation to the minimum
reachable id): iterate ``label[u] = min(label[u], min over neighbors of
label[v])`` with both edge directions, checkpointing every round to truncate
lineage (Catalyst has no fixpoint operator — SURVEY §4 item 2). Convergence
is detected by counting changed labels; iteration count and final delta are
surfaced in the metrics dict (north rule: metrics tables).

IDs are generic strings; at 10^12 rows the edge list is a small fraction of
the input (only rows that collided AND verified), so these rounds shuffle
far less than the signature stage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# which checkpoint path is in use: None = no checkpoint taken yet, then
# "internal" | "fallback" — logged once so a silent degradation on a future
# Spark version / Spark Connect is visible in driver logs (round-2 verdict:
# the internal calls below are PRIVATE APIs, validated against PySpark 4.1;
# CI exercises the fallback explicitly via SPARK_GRAFT_FORCE_CKPT_FALLBACK=1)
_CKPT_PATH_ACTIVE: str | None = None


def _note_ckpt_path(path: str) -> None:
    global _CKPT_PATH_ACTIVE
    if _CKPT_PATH_ACTIVE != path:
        _CKPT_PATH_ACTIVE = path
        print(f"file_deduplicator_spark: detached-checkpoint path = {path}", flush=True)


def _detached_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and return a DataFrame with NO reference to its
    lineage — not even statistics.

    ``Dataset.localCheckpoint`` truncates the logical plan but the resulting
    LogicalRDD keeps a LAZY ``originStats`` reference into the pre-checkpoint
    plan. In an iterative algorithm that references the previous round's
    frame k times per round, optimizer stats evaluation then recurses through
    EVERY past round — measured ~5x per-round slowdown compounding to 72s by
    round 13 on a 20k-row label table. Rebuilding the frame from the
    checkpointed internal-row RDD (fresh LogicalRDD, default stats) keeps
    rounds flat at ~0.25s indefinitely.

    Falls back to plain eager localCheckpoint if the internal API is
    unavailable (e.g. Spark Connect) or when forced via
    ``SPARK_GRAFT_FORCE_CKPT_FALLBACK=1`` (the CI knob proving the
    convergence budget holds without the internal path). PRIVATE-API PIN:
    ``_jdf`` / ``queryExecution().logical().rdd()`` /
    ``internalCreateDataFrame`` validated against PySpark 4.1.x only; the
    active path is logged once per process (see _note_ckpt_path).
    """
    if os.environ.get("SPARK_GRAFT_FORCE_CKPT_FALLBACK") == "1":
        _note_ckpt_path("fallback")
        return df.localCheckpoint(eager=True)
    try:
        spark = df.sparkSession
        jdf = df._jdf
        # Dataset.localCheckpoint copies each InternalRow (toRdd reuses
        # mutable row buffers — caching without the copy corrupts data) and
        # runs as a SQL action, so df.observe() metrics still fire.
        jck = jdf.localCheckpoint(True)
        # unwrap the LogicalRDD's underlying (materialized) RDD and rewrap in
        # a FRESH LogicalRDD via internalCreateDataFrame — identical rows, no
        # originStats back-reference
        jrdd = jck.queryExecution().logical().rdd()
        fresh = spark._jsparkSession.internalCreateDataFrame(jrdd, jdf.schema(), False)
        out = DataFrame(fresh, spark)
        out._fds_ckpt_rdd = jrdd  # handle for explicit block release
        _note_ckpt_path("internal")
        return out
    except Exception:
        _note_ckpt_path("fallback")
        return df.localCheckpoint(eager=True)


def _release_checkpoint(df: DataFrame) -> None:
    """Free the storage blocks behind a _detached_checkpoint frame.

    DataFrame.unpersist() is a CacheManager call and does NOT free
    (local)checkpoint blocks — those hang off the RDD. Left alone they are
    only reclaimed when a driver GC lets the ContextCleaner run, which on a
    large quiet heap can be never (measured as sporadic multi-second stalls
    in later rounds)."""
    jrdd = getattr(df, "_fds_ckpt_rdd", None)
    try:
        if jrdd is not None:
            jrdd.unpersist(False)
        else:
            df.unpersist()
    except Exception:
        pass


def _union_find(edges) -> dict:
    """node → min id of its component, over an iterable of (a, b) edges:
    union-find with path compression, O(E α(E)) — 222k edges ≈ 0.3 s."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # compress
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _local_contraction(
    edges: DataFrame, id_a: str, id_b: str, passes: int = 4
) -> DataFrame:
    """Phase 1 of the distributed CC (round-4): ALTERNATING-KEY per-partition
    union-find contraction — ``passes`` rounds of (repartition by one
    endpoint → mapInPandas local union-find → star edges), alternating the
    partition key between ``id_a`` and ``id_b``.

    Why alternation, not one pass: a single contraction over the
    hash-partitioned edge list barely shortens chains — consecutive chain
    edges land in the same partition with prob 1/partitions, so the
    diameter-46 giant component of the 200k bench fixture still needed 16
    iterative rounds after it (measured). Keying pass k by id_a co-locates
    every edge of a star root; the NEXT pass keyed by id_b co-locates stars
    sharing a member, merging them locally. Each pair of passes is a
    small-star/large-star alternation (Kiveris SoCC'14) with FULL local
    closure inside a partition, so chain length drops geometrically at the
    cost of one tiny-edge-list shuffle per pass — no joins, no label table,
    no global convergence check. Measured on the same fixture: the passes
    contract 222,325 edges → 53,263 star edges (= nodes − components:
    every component fully star-shaped, reached after 2 passes already),
    and the iterative phase converges in 2 rounds (the confirming round
    included) — 16 → 2 rounds, wall 19.5s → 9.3s, labels identical to the
    driver union-find (SCALING.json cc_distributed_200k_round4).

    Connectivity is preserved exactly by induction: a local union-find
    neither joins nor splits components, and every node of every input
    edge appears in the pass output (as root or member), so no label is
    lost.
    """
    import pandas as pd

    def contract(batches):
        roots = _union_find(
            (a, b) for pdf in batches for a, b in zip(pdf[id_a], pdf[id_b]))
        # a root keeps a self-edge, so isolated roots (nodes seen only in
        # self-loop edges, or left alone by this partition's view) survive:
        # the driver union-find labels them with their own id, and the two
        # strategies must agree on node set
        members = [(r, n) for n, r in roots.items() if r != n]
        linked = {r for r, _ in members}
        members += [(n, n) for n, r in roots.items() if r == n and n not in linked]
        yield pd.DataFrame(members, columns=[id_a, id_b])

    out = edges
    for p in range(passes):
        key = id_a if p % 2 == 0 else id_b
        out = out.repartition(F.col(key)).mapInPandas(contract, schema=edges.schema)
    return out


def connected_components(
    edges: DataFrame,
    max_iters: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
    driver_threshold: int = 2_000_000,
) -> tuple[DataFrame, dict]:
    """Return (labels, metrics): labels = (id, cluster_id) for every node that
    appears in an edge; cluster_id = min node id in the component.

    SIZE-ADAPTIVE strategy: the edge list is tiny relative to the input
    (only rows that band-collided AND verified), so one job collects at
    most ``driver_threshold + 1`` distinct edges, and that tells the size.
    Up to ``driver_threshold`` edges, a driver-side union-find finishes in
    O(E α(E)) — milliseconds, where the distributed loop's ~log(diameter)
    rounds cost ~0.8 s of scheduling each regardless of data size. Above
    it (the 10^12-row regime), the iterative min-label + pointer-jumping
    loop below runs fully distributed. The threshold is a driver-memory
    bound (~100 MB at the default), not a correctness bound; set 0 to force
    the distributed path.
    """
    import pyarrow as pa

    distinct = edges.select(F.col(id_a), F.col(id_b)).distinct()
    collected = distinct.limit(driver_threshold + 1).toArrow()  # one job
    if collected.num_rows <= driver_threshold:
        # labels ship to the JVM as one Arrow stream: a pandas frame falls
        # back to sc.parallelize when empty (a second Python daemon+worker)
        roots = _union_find(zip(collected.column(id_a).to_pylist(),
                                collected.column(id_b).to_pylist()))
        ordered = sorted(roots)
        id_pa = collected.schema.field(id_a).type
        id_type = dict(edges.dtypes)[id_a]
        labels = edges.sparkSession.createDataFrame(
            pa.table({"id": pa.array(ordered, type=id_pa),
                      "cluster_id": pa.array([roots[n] for n in ordered], type=id_pa)}),
            f"id {id_type}, cluster_id {id_type}")
        return labels, {
            "iterations": 0,
            "converged": True,
            "changed_last": 0,
            "mode": "driver_union_find",
            "edges": collected.num_rows,
        }

    # materialize the (directed) edge list once — the distributed loop
    # re-joins it every round
    ed = _detached_checkpoint(distinct)
    n_edges = ed.count()  # cheap on the checkpointed frame

    # phase 1 (round-4): per-partition local union-find contraction — chains
    # co-located in a partition collapse to stars before any global barrier,
    # cutting the iterative phase's round count (see _local_contraction)
    contracted = _detached_checkpoint(_local_contraction(ed, id_a, id_b))
    _release_checkpoint(ed)

    sym = (
        contracted.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(contracted.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    sym = _detached_checkpoint(sym)
    _release_checkpoint(contracted)
    # initial label: min(self, min neighbor)
    labels = sym.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("lbl")) \
        .withColumnRenamed("src", "id")
    labels = _detached_checkpoint(labels)

    metrics = {
        "iterations": 0,
        "converged": False,
        "changed_last": None,
        "mode": "distributed_two_phase",
        "edges": n_edges,
    }
    prev_ckpt = labels  # previous round's checkpoint — unpersisted once superseded
    for it in range(max_iters):
        # one round = neighbor propagation + pointer jump (path halving),
        # both against the CHECKPOINTED labels, fused into a single job:
        #   lbl'[u] = min(lbl[u], min_{v∈N(u)} lbl[v], lbl[lbl[u]])
        # Pure neighbor propagation needs O(diameter) rounds; jumping makes
        # it O(log diameter). The changed flag rides along so convergence
        # detection is a cheap scan of the checkpointed result, not a join.
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
            .withColumnRenamed("src", "id")
        )
        parents = labels.select(F.col("id").alias("p_id"), F.col("lbl").alias("p_lbl"))
        stepped = (
            labels.join(nbr_min, "id", "left")
            .join(parents, labels["lbl"] == parents["p_id"], "left")
            .select(
                "id",
                F.least(
                    F.col("lbl"),
                    F.coalesce(F.col("nbr_lbl"), F.col("lbl")),
                    F.coalesce(F.col("p_lbl"), F.col("lbl")),
                ).alias("mid_lbl"),
                F.col("lbl").alias("old_lbl"),
            )
        )
        # second pointer jump in the same round (labels are small relative to
        # the edge join — one extra cheap join halves the rounds on deep paths)
        new_labels = _detached_checkpoint(
            stepped.join(parents, stepped["mid_lbl"] == parents["p_id"], "left")
            .select(
                "id",
                F.least(
                    F.col("mid_lbl"), F.coalesce(F.col("p_lbl"), F.col("mid_lbl"))
                ).alias("new_lbl"),
                "old_lbl",
            )
        )
        # release the superseded round's blocks immediately (see
        # _release_checkpoint for why plain unpersist doesn't)
        if prev_ckpt is not None:
            _release_checkpoint(prev_ckpt)
        prev_ckpt = new_labels
        # convergence check every 2nd round: the count is cheap (checkpointed
        # data) but each extra converged round costs a full propagate job —
        # probing on even rounds trades ≤1 wasted propagation for half the
        # convergence probes on long-chain graphs
        changed = None
        if it % 2 == 1 or it == max_iters - 1:
            changed = new_labels.filter(F.col("new_lbl") != F.col("old_lbl")).count()
        labels = new_labels.select("id", F.col("new_lbl").alias("lbl"))
        metrics["iterations"] = it + 1
        if changed is not None:
            metrics["changed_last"] = changed
            if changed == 0:
                metrics["converged"] = True
                break
    _release_checkpoint(sym)  # returned labels depend only on the final checkpoint
    return labels.withColumnRenamed("lbl", "cluster_id"), metrics


def attach_clusters(
    df: DataFrame,
    labels: DataFrame,
    id_col: str = "clip_id",
) -> DataFrame:
    """Left-join cluster labels back onto the full table; singletons get
    their own id as cluster_id (every row addressable by cluster)."""
    lab = labels.select(F.col("id").alias(id_col), F.col("cluster_id").alias("_cc"))
    return (
        df.join(lab, id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("_cc"), F.col(id_col)))
        .drop("_cc")
    )
