"""Connected components over an edge list (SURVEY.md §2.8 adjunct):
the clustering backbone every near-duplicate family ends with —
minhash buckets, winnow fingerprint matches, embedding neighbors, and
Jaccard pairs all reduce to "label each node with its component
minimum". dedup.py inlines a bounded 2-round variant for its banded
buckets; this module is the GENERAL operator: arbitrary edge lists,
iterated to convergence, usable on any pair output.

Algorithm: min-label propagation with pointer jumping (the
alternating min-label family — cf. Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014; Rastogi et al.,
"Finding Connected Components in Map-Reduce in Logarithmic Rounds",
ICDE 2013 hash-to-min). Each round is (a) one neighbor-min hash
aggregate and (b) one label-table self-join (the jump), so labels
reach the component minimum in O(log n) rounds — a 200-node chain
converges in ~7, not 200. Convergence is driver-checked per round
(one bounded count() job); no pairwise expansion, no pair output,
ever — state is exactly one (node, comp) row per node.

Iterative lineage is CUT every round — re-planning round k's labels
from the raw edges is O(k) deep and sends Catalyst optimization time
superlinear (measured: a 10-round run over an unmaterialized
23-exchange edge subtree never finished planning). The edge list is
materialized once up front and each round's labels after the jump:
``localCheckpoint`` by default (executor storage, reclaimed by the
ContextCleaner once the round frame is dereferenced — nothing stays
pinned in a long-lived session), or alternating parquet paths under
``scratch_dir`` (the semantic-dedup contract pattern; also the
fault-tolerant choice on a real cluster, where localCheckpoint dies
with an executor).

100 TB notes: both per-round shuffles hash on node id, so successive
rounds reuse the same partitioning profile; state is one (node, comp)
row per node, independent of edge count or round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unpersist_checkpoint(df: DataFrame) -> None:
    """Release a ``localCheckpoint`` frame's storage NOW. For
    checkpointed frames ``DataFrame.unpersist()`` is a silent no-op —
    their blocks live as a persisted RDD (LogicalRDD plan node), not
    in the CacheManager — so without this the blocks linger until the
    Python object is garbage-collected and the ContextCleaner gets
    around to them; in a driver's long-lived contract session that
    reads as a leak. Walks the analyzed plan's leaves, so it also
    releases checkpoints buried under post-loop lineage (the
    isolated-node union). Best-effort: falls back to plain unpersist
    for frames that aren't checkpoints (e.g. scratch-parquet reads) —
    and for Spark Connect, where the JVM leaf walk is unavailable
    (plans/shim.py owns that capability split)."""
    from ..plans.shim import release_checkpoint

    if not release_checkpoint(df):
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_rounds: int = 20,
    scratch_dir: str | None = None,
    broadcast_labels: int = 2_000_000,
) -> DataFrame:
    """Label every node with the MINIMUM node id of its connected
    component. ``edges`` is an undirected edge list (each pair listed
    once, either orientation); NULL endpoints are dropped. ``nodes``
    optionally adds to the node universe (first column) so isolated
    nodes appear with their own id as the component; edge endpoints
    are ALWAYS included — an explicit ``nodes`` frame that omits an
    endpoint must not silently sever the paths running through it.
    Returns (node, comp).

    Raises after ``max_rounds`` without convergence — on a connected
    diameter-d graph the bound needs only O(log d) rounds, so hitting
    it means the input is pathological, not that more rounds would be
    fine to skip.

    ``broadcast_labels``: once a round's observed label count is at or
    under this, the label table (one (node, comp) row per node — ~16
    bytes each, so the default 2M rows is ~32 MB) is broadcast into
    both per-round joins, collapsing each round to a single exchange;
    above it, both joins shuffle on node id and reuse one partitioning
    profile round over round.
    """
    spark = edges.sparkSession
    # checkpointed frames superseded during the loop — unpersisted
    # eagerly so a long-lived session (the driver's contract sweep)
    # never accumulates dead round blocks; only the RETURNED frame's
    # blocks stay (the ContextCleaner reclaims them on dereference).
    # The sweep runs in the loop's finally block, so the failure paths
    # (non-convergence, any mid-loop exception) release blocks too.
    retired: list[DataFrame] = []

    def _materialize(df: DataFrame, slot: str) -> DataFrame:
        if scratch_dir is None:
            return df.localCheckpoint(eager=True)
        path = f"{scratch_dir}/{slot}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def _materialize_stats(df: DataFrame, slot: str):
        """Materialize one round's labels, then harvest the
        convergence signal with one TINY aggregate job over the
        materialized frame: sum(comp) is strictly decreasing until the
        fixpoint (comp(x) <= x and only ever decreases), so "sum
        unchanged since last round" == "converged" — no old-label
        column carried through the joins. decimal(38,0) keeps the sum
        exact at any node count (1e12 nodes x 9e18 max id overflows
        bigint; decimal does not). The row count rides along to
        size-gate the next round's broadcast.

        Deliberately a second job, NOT ``df.observe``/``Observation``:
        the first observe() on a session initializes Spark 4.1's lazy
        ObservationManager, which is not serializable and breaks every
        later closure that captures the session (MLlib training
        summaries die with "Task not serializable" — the documented
        incremental_dedup hazard, re-confirmed the hard way in round
        9's full-suite run). The aggregate scans the just-materialized
        checkpoint/parquet — label-table-sized, pennies per round."""
        out = _materialize(df, slot)
        row = out.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return out, row["s"], row["n"]

    def _retire(df: DataFrame) -> None:
        if scratch_dir is None:
            retired.append(df)

    def _sweep(keep: DataFrame | None) -> None:
        for df in retired:
            if df is not keep:
                unpersist_checkpoint(df)

    e = edges.select(
        F.col(src).cast("bigint").alias("a"), F.col(dst).cast("bigint").alias("b")
    ).where(F.col("a").isNotNull() & F.col("b").isNotNull())
    # materialize the DIRECTED list first, THEN mirror it: a union of
    # e with swap(e) before the cut would put the (arbitrarily
    # expensive) upstream pair-generation lineage in the plan twice —
    # measured 2x the ngram_jaccard pipeline on the contract row. The
    # edge count (a metadata/checkpoint-local count over the
    # materialized frame) bounds round 0's label size (<= 2 x edges)
    # so even the first round can take the broadcast path.
    e = _materialize(e, "cc_edges")
    _retire(e)
    n_edges = e.count()
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # the LOOP carries only edge endpoints — isolated nodes can never
    # change labels, so they rejoin as comp = node at the very end
    # instead of riding through every round (loop state = active
    # nodes, not the whole universe). No distinct: duplicate rows all
    # carry comp = node and round 0's min aggregate collapses them —
    # every returned frame is post-groupBy, so output uniqueness holds
    # without the extra up-front shuffle.
    lab = und.select(F.col("a").alias("node")).withColumn("comp", F.col("node"))

    prev_sum: object = object()  # sentinel: never equals a real sum
    n_labels: int = 2 * n_edges  # upper bound until round 0 observes
    try:
        for rnd in range(max_rounds):
            # size gate: once the observed label count fits the
            # broadcast budget, hint both label-side joins — the round
            # collapses to ONE exchange (the node aggregate). The
            # label table is 1 row/node; past the budget (billions of
            # nodes) the hint stays off and both joins shuffle — AQE
            # still converts them at runtime when stats allow.
            small = n_labels is not None and n_labels <= broadcast_labels
            bc = F.broadcast if small else (lambda df: df)
            # (a) neighbor min fused with self-min: one union + one
            # hash aggregate replaces the old join+agg+left-join —
            # min(own label ∪ labels one hop away), partial-aggregated
            # map-side before the single node shuffle
            step = (
                und.join(bc(lab), und.b == lab.node)
                .select(F.col("a").alias("node"), "comp")
                .unionByName(lab)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
            )
            # (b) pointer jump: comp := comp(comp) — doubles the
            # effective propagation distance per round (log-round
            # convergence)
            parent = step.select(
                F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
            )
            new = step.join(bc(parent), step.comp == F.col("p_node"), "left").select(
                "node", F.coalesce("p_comp", "comp").alias("comp")
            )
            # alternating slots: round r reads r-1's files while
            # writing its own — never overwrite a path still feeding
            # the lineage
            new, comp_sum, n_labels = _materialize_stats(
                new, f"cc_round_{rnd % 2}"
            )
            _retire(new)
            lab = new
            if comp_sum == prev_sum:
                _sweep(keep=new)
                retired.clear()
                if nodes is None:
                    return lab
                # fold the isolated nodes back in: comp = own id for
                # every universe node that never touched an edge (one
                # anti-join in the consumer's job — no extra
                # materialize; the loop above never paid for them)
                first = nodes.columns[0]
                isolated = (
                    nodes.select(F.col(first).cast("bigint").alias("node"))
                    .where(F.col(first).isNotNull())
                    .distinct()
                    .join(lab, "node", "left_anti")
                    .withColumn("comp", F.col("node"))
                )
                return lab.unionByName(isolated)
            prev_sum = comp_sum
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    finally:
        # on the failure paths `retired` still holds every round frame
        # (+ the edge list); the success path cleared it after keeping
        # the returned frame
        _sweep(keep=None)


def cc_ingest(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    **kwargs,
) -> DataFrame:
    """Incremental connected components: fold a NEW edge batch into an
    existing (node, comp) labeling without rescanning the original
    edge set — the steady-state companion to the minhash ingest path
    (incremental_dedup), where tonight's near-dup pairs must update
    yesterday's cluster assignments.

    The existing labeling IS a spanning structure of its components
    (each a star: node -> comp), so CC over (star edges ∪ new batch)
    yields exactly CC over (all original edges ∪ new batch) — star
    edges preserve connectivity and add none. Work is bounded by
    |nodes| + |new batch|, independent of historical edge volume, and
    stars have diameter 2, so convergence stays in the low-round
    regime regardless of how the original graph looked. New nodes
    appearing only in the batch join the universe automatically.

    Returns the refreshed (node, comp). Labels stay min-node ids, so
    repeated ingests are stable: an untouched component keeps its
    representative."""
    star = labels.select(F.col("node").alias("a"), F.col("comp").alias("b")).where(
        F.col("a") != F.col("b")
    )
    batch = new_edges.select(
        F.col(src).cast("bigint").alias("a"), F.col(dst).cast("bigint").alias("b")
    )
    # universe: the labeled nodes (isolated ones must persist); batch
    # endpoints join automatically (connected_components always folds
    # edge endpoints in — and drops NULL endpoints with their edges)
    return connected_components(
        star.unionByName(batch), src="a", dst="b",
        nodes=labels.select("node"), **kwargs
    )


def q_connected_components(spark, sf_dir: str) -> DataFrame:
    """Contract (tail, round-8 promotion): dedup clustering as a graph
    problem — connected components over the exact >= 0.95-Jaccard
    near-dup pairs (q_ngram_jaccard's output), every document labeled
    with its cluster minimum, isolated docs labeling themselves. The
    oracle replays the converged fixpoint with a recursive CTE
    (reachability closure + min), so the hash compare pins the FULL
    labeling, independent of how many rounds propagation took.

    Rounds run in localCheckpoint mode (the per-round parquet
    write+read round trip measured ~40% of the loop at sf0.1); only
    the CONVERGED labels are written once to a DETERMINISTIC
    per-sf_dir path (overwrite — the q_semantic_dedup pattern) and the
    checkpoint blocks are unpersisted before returning, so the
    driver's long-lived session gets zero persistent RDD blocks from
    this row (test_no_cache_leak) and repeated sweeps reuse one
    directory."""
    from ..io import load_table
    from .common import stage
    from .dedup import ngram_jaccard

    pairs = ngram_jaccard(spark, sf_dir).select("d1", "d2")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    lab = connected_components(pairs, src="d1", dst="d2", nodes=docs)
    staged = stage(lab, sf_dir, "cc", "labels")
    unpersist_checkpoint(lab)  # drop the returned checkpoint's blocks
    return staged.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


def _cc_oracle() -> str:
    from .dedup import ORACLE as _DEDUP_ORACLE

    pairs_sql = _DEDUP_ORACLE["q_ngram_jaccard"].strip()
    return f"""
WITH RECURSIVE pairs AS (
{pairs_sql}
), und AS (
  SELECT d1 AS s, d2 AS t FROM pairs
  UNION ALL
  SELECT d2 AS s, d1 AS t FROM pairs
), reach(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.s, r.comp FROM reach r JOIN und u ON u.t = r.node
)
SELECT node AS doc_id, CAST(min(comp) AS BIGINT) AS component
FROM reach GROUP BY 1
"""


ORACLE = {"q_connected_components": _cc_oracle()}

QUERIES: dict = {}

QUERIES_TAIL = {"q_connected_components": q_connected_components}
