"""Interaction-graph operators (the reference's flagship analysis).

Reference: GET /analyze/network/{filename}
(/root/reference/backend/main.py:255-342). Semantics reproduced:

  - OP-FIL-DATERANGE: inclusive [start, end] filter applied ONLY when
    BOTH bounds are given (backend/main.py:304-307) — a lone bound is
    ignored. Observable quirk; preserved deliberately.
  - OP-LIMIT-N: keep the first `limit` messages in total order counted
    AFTER all filters pass (backend/main.py:284-285,321). Spark `limit`
    is unordered, so this is row_number over the total order on the
    *filtered* set.
  - OP-LAG-EDGE: an edge connects each surviving message to the previous
    *surviving* message's sender when the sender changed
    (backend/main.py:316-319). Rows dropped by any filter never advance
    the chain, so two in-range messages separated by filtered-out ones
    DO link — computing lag after the filters reproduces this exactly.
  - OP-AGG-EDGEW: undirected canonical pair (source <= target) counted
    (backend/main.py:317-318) → groupBy + count (Spark's partial+final
    hash aggregate).
  - OP-AGG-NODES: distinct senders of surviving messages — includes
    senders that never formed an edge (backend/main.py:313).

Scale design: for a multi-chat corpus the window that orders the
chain is partitioned by `partition_cols` (file_path: one chat per
file). A single chat is at most a few hundred MB, so per-partition
windows keep the plan shuffle-light at any corpus size. With no
partition cols the chain is one global window over the chat's line
order. Each operator has that single plan: a range-chunked variant
with boundary stitching was measured slower than the global window on
every chat size up to a 4M-line export on 4 cores (README.md,
"Single-chat scale").
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

# Not called here: chatbench/trace.py:99 wraps this name to count
# dispatch decisions, so it stays importable from this module.
from poc_spark.plans.dispatch import use_chunked  # noqa: F401


def _chain_window(
    order_cols: Sequence[str], partition_cols: Sequence[str] = ()
) -> WindowSpec:
    """The window that orders the message chain: per partition when
    `partition_cols` are given, else one total order."""
    base = Window.partitionBy(*partition_cols) if partition_cols else Window
    return base.orderBy(*order_cols)


def _edge_weights(transitions: DataFrame, keep: Sequence[str] = ()) -> DataFrame:
    """OP-AGG-EDGEW over (`_prev`, `_cur`) sender transitions: drop the
    chain start and self-transitions, canonicalize the undirected pair
    (source <= target) and count it, per `keep` group."""
    return (
        transitions.filter(
            F.col("_prev").isNotNull() & (F.col("_prev") != F.col("_cur"))
        )
        .select(
            *keep,
            F.least("_prev", "_cur").alias("source"),
            F.greatest("_prev", "_cur").alias("target"),
        )
        .groupBy(*keep, "source", "target")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def _limited_transitions(
    df: DataFrame,
    sender_col: str,
    order_cols: Sequence[str],
    limit: int,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """(`_prev`, `_cur`) for the first `limit` rows: row_number and lag
    share one window spec, so the ordered limit and the edge chain cost
    ONE sort/exchange instead of two. Correct because the limit keeps a
    prefix of the order: each surviving row's predecessor is also in
    the prefix, so lag-then-filter(rn <= n) equals filter-then-lag."""
    w = _chain_window(order_cols, partition_cols)
    return df.select(
        F.row_number().over(w).alias("_rn"),
        F.lag(sender_col).over(w).alias("_prev"),
        F.col(sender_col).alias("_cur"),
    ).filter(F.col("_rn") <= limit)


def ordered_limit(
    df: DataFrame,
    n: int | None,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """OP-LIMIT-N: first n rows per partition in the given total order.

    NOT `df.limit(n)` (unordered in Spark); row_number over the filtered
    set is the faithful mapping of the reference's `count >= limit`
    break. Reference counts globally per file; partition by file_path.
    """
    if not n:
        return df
    w = _chain_window(order_cols, partition_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def lag_edges(
    df: DataFrame,
    sender_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
    group_output: bool = False,
) -> DataFrame:
    """OP-LAG-EDGE + OP-AGG-EDGEW: consecutive-sender transitions over the
    surviving rows → undirected weighted edges (source <= target).

    Self-transitions (same sender twice) emit nothing but still advance
    the chain — lag gives that for free.

    `partition_cols` bounds the chain windows (per-file / per-group —
    no cross-group edge ever forms); by default the weights still
    aggregate into ONE corpus-wide graph (the reference's one-graph-
    per-request shape). `group_output=True` instead keeps the group
    columns in the result — one graph PER group, the true production
    shape at scale: every window and the final aggregate shuffle on
    the group key, nothing is global."""
    w = _chain_window(order_cols, partition_cols)
    keep = list(partition_cols) if group_output else []
    transitions = df.select(
        *keep,
        F.lag(sender_col).over(w).alias("_prev"),
        F.col(sender_col).alias("_cur"),
    )
    return _edge_weights(transitions, keep)


def lag_edges_limited(
    df: DataFrame,
    sender_col: str,
    order_cols: Sequence[str],
    limit: int,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Fused OP-LIMIT-N + OP-LAG-EDGE in one window pass (see
    _limited_transitions)."""
    return _edge_weights(
        _limited_transitions(df, sender_col, order_cols, limit, partition_cols)
    )


def interaction_graph(
    messages: DataFrame,
    start_date: str | dt.date | None = None,
    end_date: str | dt.date | None = None,
    limit: int | None = None,
    sender_col: str = "sender",
    date_col: str = "msg_date",
    order_cols: Sequence[str] = ("line_id",),
    partition_cols: Sequence[str] = (),
) -> tuple[DataFrame, DataFrame]:
    """EP-1: (nodes, edges) for the filtered + limited message stream.

    Returns nodes(id) and edges(source, target, weight).
    """
    df = messages
    # both-bounds-only quirk (backend/main.py:305): a lone bound is a no-op.
    if start_date and end_date:
        df = df.filter(F.col(date_col).between(F.lit(start_date), F.lit(end_date)))

    if limit:
        base = _limited_transitions(df, sender_col, order_cols, limit, partition_cols)
        nodes = base.select(F.col("_cur").alias("id")).distinct()
        return nodes, _edge_weights(base)

    nodes = df.select(F.col(sender_col).alias("id")).distinct()
    edges = lag_edges(df, sender_col, order_cols, partition_cols)
    return nodes, edges


def induced_subgraph(
    edges: DataFrame, nodes_filtered: DataFrame
) -> DataFrame:
    """OP-JOIN-SEMI: keep edges whose BOTH endpoints survive a node filter
    (the client-side substring-search behavior,
    frontend/src/pages/Form.jsx:165-171). Node sets are small →
    broadcast both semi-joins; no shuffle of the edge set."""
    ids = F.broadcast(nodes_filtered.select("id"))
    return (
        edges.join(ids, edges.source == ids.id, "leftsemi")
        .join(ids, edges.target == ids.id, "leftsemi")
    )


def search_nodes(nodes: DataFrame, query: str) -> DataFrame:
    """OP-FIL-SUBSTR: case-insensitive node-id substring search
    (frontend/src/pages/Form.jsx:159-163)."""
    return nodes.filter(F.lower(F.col("id")).contains(query.lower()))
