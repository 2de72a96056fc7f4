"""Plan-tree navigation + ASCII rendering, set-based.

The reference walks the tree with per-node Mongo lookups (N+1 ``find`` per
node, ``draw_plan.py:6-37``): an operator's children are same-fragment rows
with ``parent_id = id`` plus fragments whose ``exchange_id = id``; the root
is the fragment with ``exchange_id NULL``.

Spark-first re-expression: the edge set is ONE self-join plus one
operators<->fragments join (J4); the downward closure (depth + path, which
IS the ASCII render order) is one co-located partition walk: the operators
are shuffled once on query_id, so every plan tree lies in one partition,
and ``_walk_trees`` rebuilds and walks each tree there in plain Python —
one pass over ALL queries at once, never a per-node lookup. The walk
follows pt1's edge set exactly; the DuckDB oracles run WITH RECURSIVE over
that same edge set (``_EDGES``): two very different engines, same fixpoint.

Scale: one shuffle keyed by query_id; a plan tree is tiny (Impala plans
are short), so each partition's walk is linear in its operator rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache_util import session_persisted
from ..corpus import corpus_fragments, corpus_operators, with_corpus


def plan_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt1 — the full parent->child edge set of every plan tree:
    same-fragment operator edges (parent_id) + EXCHANGE->child-fragment-root
    edges (fragments.exchange_id), J4 set-based."""
    ops = corpus_operators(spark, sf_dir).select(
        "query_id", "id", "name", "fragment_id", "parent_id"
    )
    op_edges = (
        ops.alias("c")
        .join(
            ops.alias("p"),
            (F.col("c.query_id") == F.col("p.query_id"))
            & (F.col("c.parent_id") == F.col("p.id"))
            & (F.col("c.fragment_id") == F.col("p.fragment_id")),
        )
        .select(
            F.col("c.query_id").alias("query_id"),
            F.col("p.id").alias("parent_op"),
            F.col("c.id").alias("child_op"),
        )
    )
    # EXCHANGE -> root operators (parent_id NULL) of the fed fragment
    frags = corpus_fragments(spark, sf_dir).select(
        "query_id", F.col("id").alias("frag_id"), "exchange_id"
    )
    ex_edges = (
        frags.filter(F.col("exchange_id").isNotNull())
        .alias("f")
        .join(
            ops.filter(F.col("parent_id").isNull()).alias("r"),
            (F.col("f.query_id") == F.col("r.query_id"))
            & (F.col("f.frag_id") == F.col("r.fragment_id")),
        )
        .select(
            F.col("f.query_id").alias("query_id"),
            F.col("f.exchange_id").alias("parent_op"),
            F.col("r.id").alias("child_op"),
        )
    )
    return op_edges.unionByName(ex_edges)


_PAYLOAD_COLS = ("name", "avg_time")  # every plan analytic's payload


def _colocated_nodes(spark: SparkSession, sf_dir: str,
                     *payload: str) -> DataFrame:
    """Operators + their fragment's exchange_id, co-located per query.

    Co-location safety: against the bucketed corpus tables the planner
    can elide a plain ``repartition(N, query_id)`` (bucket layout already
    hash-partitions by query_id) while DisableUnnecessaryBucketedScan
    simultaneously de-buckets the scan, silently breaking co-location
    (observed: 5.4x row loss). Rather than pinning a session conf (which
    is useless here — the DataFrame is lazy, so any set-and-restore
    inside this function would be undone before the action runs, and a
    bare set leaks into every later query), we repartition on
    ``hash(query_id)``: semantically co-locates identically (same
    query_id -> same partition) but is a *different* clustering
    expression from the bucket spec, so the exchange can never be
    elided. One guaranteed shuffle, conf-leak-free, parallelism follows
    the cluster (``defaultParallelism``, not a hard-coded bucket count).
    ``test_plan_contracts`` guards row conservation.

    Shared across pt2/pt3/pt5/pt8/pt9: the scan + broadcast join + co-location
    shuffle is ~70% of a single pt query's wall time and is byte-identical
    for every plan analytic, so ONE frame carrying every payload column is
    built per (session, corpus) and persisted (MEMORY_AND_DISK — spills,
    never OOMs); each caller projects its payload off the cached
    partitions (a narrow op, co-location preserved). At cluster scale
    this is the standard shared-scan pattern for a family of analytics
    over one intermediate; correctness never depends on the cache
    (a cold call simply rebuilds)."""
    def build() -> DataFrame:
        ops = corpus_operators(spark, sf_dir).select(
            "query_id", "id", "fragment_id", "parent_id", *_PAYLOAD_COLS
        )
        frags = corpus_fragments(spark, sf_dir).select(
            "query_id", F.col("id").alias("fragment_id"), "exchange_id"
        )
        return ops.join(frags, ["query_id", "fragment_id"], "left").repartition(
            spark.sparkContext.defaultParallelism, F.hash("query_id")
        )

    base = session_persisted(spark, sf_dir, "pt_nodes", build)
    return base.select(
        "query_id", "id", "fragment_id", "parent_id", "exchange_id", *payload
    )


def _walk_trees(nodes: DataFrame, visit, out_schema: str,
                out_cols: list[str], payload_col: str | None = None) -> DataFrame:
    """Accumulate each partition (queries never span partitions — see
    ``_colocated_nodes``), rebuild every query's (payload, children,
    roots) tree with plain dict loops, and let ``visit(qid, payload,
    children, roots, rows)`` emit output rows. Child lists are pt1's edge
    set: a ``parent_id`` edge only when the parent row is in the same
    fragment (a cross-fragment or dangling ``parent_id`` is no edge), plus
    EXCHANGE -> fed-fragment-root edges; the root is the root fragment's
    root operator (draw_plan.py:36). Without a ``payload_col`` every
    payload is None.

    The walk buffers its partition's rows before emitting, because a
    query's rows can straddle Arrow batch boundaries (the co-location
    shuffle hashes by query_id but does not sort). The buffer is a few
    scalars per operator row, smaller than the Arrow batches that
    delivered them, and per-partition rows shrink as the cluster grows."""
    from collections.abc import Iterator  # noqa: PLC0415
    from itertools import repeat  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    def walk_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        per_query: dict[str, list[tuple]] = {}
        for pdf in batches:
            for qid, oid, frag, parent, eid, p in zip(
                pdf["query_id"], pdf["id"], pdf["fragment_id"],
                pdf["parent_id"], pdf["exchange_id"],
                pdf[payload_col] if payload_col else repeat(None),
            ):
                per_query.setdefault(qid, []).append(
                    (int(oid), frag, parent, eid, p))
        rows: list[tuple] = []
        for qid, items in per_query.items():
            frag_of = {oid: frag for oid, frag, _, _, _ in items}
            payload = {}
            children: dict[int, list[int]] = {}
            roots = []
            for oid, frag, parent, eid, p in items:
                payload[oid] = p
                if not pd.isna(parent):
                    if frag_of.get(int(parent)) == frag:
                        children.setdefault(int(parent), []).append(oid)
                elif not pd.isna(eid):  # fragment root feeding an EXCHANGE
                    children.setdefault(int(eid), []).append(oid)
                else:  # root fragment's root operator
                    roots.append(oid)
            visit(qid, payload, children, roots, rows)
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    return nodes.mapInPandas(walk_partition, schema=out_schema)


def plan_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt2 — downward closure from each plan root: (op, depth, path). The
    path string sorts into the reference's ASCII pre-order; rendered line =
    2-space indent per level (draw_plan.py:6-37).

    Execution strategy: a plan tree is tiny and wholly contained in one
    query, so the recursion runs as plain Python over each partition
    inside ``mapInPandas``, after co-locating by query_id
    (``_colocated_nodes``) — ONE shuffle at most, no per-group pandas
    overhead (a groupBy+applyInPandas variant paid ~10x in per-group
    DataFrame construction over 145k tiny groups; per-level join loops
    and lazy chained unions were 5-10x slower again)."""
    return _paths_over(_colocated_nodes(spark, sf_dir, "name"))


def _paths_over(nodes: DataFrame) -> DataFrame:
    """pt2's walk over a co-located node frame carrying ``name``."""

    def visit(qid, names, children, roots, rows) -> None:
        def rec(oid: int, depth: int, path: str) -> None:
            rows.append((qid, oid, depth, path,
                         "  " * depth + f"{oid}:{names[oid]}"))
            for child in sorted(children.get(oid, ())):
                rec(child, depth + 1, path + ">" + f"{child:03d}")

        for root in sorted(roots):
            rec(root, 0, f"{root:03d}")

    return _walk_trees(
        nodes, visit,
        "query_id string, id bigint, depth int, path string, line string",
        ["query_id", "id", "depth", "path", "line"], "name",
    )


def critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt3 — plan critical path: per query, the root-to-leaf chain with
    the largest cumulative avg_time (operator times are positive, so the
    argmax over all cumulative totals lands on a leaf), ties broken by
    the lexicographically smallest path. The first question an engineer
    asks of a slow plan — where does the time chain concentrate.

    Same execution strategy as pt2 (shared ``_colocated_nodes`` /
    ``_walk_trees`` scaffolding), keeping only the per-query argmax —
    one shuffle, one output row per query."""

    def visit(qid, times, children, roots, rows) -> None:
        best: tuple | None = None

        def rec(oid: int, path: str, total: int) -> None:
            nonlocal best
            total += int(times[oid])
            # argmax by (total DESC, path ASC) over every node — with
            # positive times the winner is necessarily a leaf
            key = (-total, path)
            if best is None or key < (-best[2], best[1]):
                best = (oid, path, total)
            for child in sorted(children.get(oid, ())):
                rec(child, path + ">" + f"{child:03d}", total)

        for root in sorted(roots):
            rec(root, f"{root:03d}", 0)
        if best is not None:
            rows.append((qid, best[0], best[1], best[2]))

    return _walk_trees(
        _colocated_nodes(spark, sf_dir, "avg_time"), visit,
        "query_id string, leaf_id bigint, path string, total_time bigint",
        ["query_id", "leaf_id", "path", "total_time"], "avg_time",
    )


def _fingerprint_md5():
    """Canonical plan-shape token string, hashed: operators in id order
    as id:name:parent (built lazily — Column construction needs an
    active SparkContext)."""
    return F.md5(
        F.expr(
            "concat_ws('|', transform("
            " array_sort(collect_list(struct(id, name,"
            "   coalesce(parent_id, -1) AS p))),"
            " x -> concat_ws(':', CAST(x.id AS STRING), x.name,"
            "   CAST(x.p AS STRING))))"
        )
    )


def _fingerprints_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per query: the md5 plan-shape fingerprint (pt4/pt6 share
    this groupBy; plan-sized groups)."""
    ops = corpus_operators(spark, sf_dir).select(
        "query_id", "id", "name", "parent_id"
    )
    return ops.groupBy("query_id").agg(
        _fingerprint_md5().alias("fingerprint"),
        F.count("*").alias("n_ops"),
    )


def plan_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt4 — canonical PLAN-SHAPE FINGERPRINTING: each query's plan tree
    renders to a canonical token string (operators in id order as
    id:name:parent) and hashes to a fingerprint; grouping by fingerprint
    collapses the workload into its distinct plan shapes — the
    workload-dedup view of the reference's query parameterization (Q5),
    applied to plans instead of SQL text. One row per distinct shape
    with its population and a representative query.

    Scale: one groupBy(query_id) builds the canonical strings (operator
    lists are plan-sized, tiny per group), one groupBy(fingerprint)
    rolls up — two shuffles, the second over shape-cardinality rows."""
    per_q = _fingerprints_per_query(spark, sf_dir)
    return per_q.groupBy("fingerprint", "n_ops").agg(
        F.count("*").alias("n_queries"),
        F.min("query_id").alias("example_query_id"),
    )


def shape_runtime_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt6 — SAME PLAN, DIFFERENT SPEED: for every plan shape (pt4's
    fingerprint) run on two or more clusters, the spread between the
    slowest and fastest cluster's mean runtime. A shape whose drift
    ratio is high is the workload's canary for a mis-provisioned or
    regressed cluster — the cross-fleet question pt4's shape census and
    a23's per-cluster drift each answer only half of.

    Exactness: per-(shape, cluster) means use the corpus floor-division
    convention (BIGINT), so the ratio divides two integers — engine-
    exact before the single rounded output column.

    Scale: one groupBy(query_id) builds fingerprints (plan-sized
    groups), one join to the bucketed queries table on its bucket key,
    then two grouped aggs over shape-cardinality rows."""
    per_q = _fingerprints_per_query(spark, sf_dir).select(
        "query_id", "fingerprint"
    )
    from ..corpus import corpus_queries  # noqa: PLC0415

    q = (
        corpus_queries(spark, sf_dir)
        .filter(F.col("runtime").isNotNull())
        .select("query_id", "cluster", "runtime")
    )
    per_fc = (
        per_q.join(q, "query_id")
        .groupBy("fingerprint", "cluster")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr(
                "CAST(FLOOR(SUM(runtime) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)"
            ).alias("mean_runtime"),
        )
    )
    return (
        per_fc.groupBy("fingerprint")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("n").cast("bigint").alias("n_queries"),
            F.min("mean_runtime").alias("min_mean"),
            F.max("mean_runtime").alias("max_mean"),
        )
        .filter((F.col("n_clusters") >= 2) & (F.col("min_mean") > 0))
        .withColumn(
            "drift_ratio",
            F.round(F.col("max_mean") / F.col("min_mean").cast("double"), 9),
        )
    )


def critical_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt5 — CRITICAL-PATH HOTSPOTS: explode pt3's winning root-to-leaf
    chains into their member operators and roll up by operator name —
    how often each operator class sits on the workload's slowest chain,
    and how much critical-path time it carries. The fleet-level answer
    to pt3's per-query question: which operator to optimize FIRST.

    Scale: pt3's output is one row per query; exploding the path string
    yields plan-depth rows per query, joined back to the bucketed
    operator corpus on (query_id, id) — the same co-location key every
    plan analytic uses."""
    crit = critical_path(spark, sf_dir)
    nodes = crit.select(
        "query_id", F.explode(F.split("path", ">")).alias("id_str")
    ).select("query_id", F.col("id_str").cast("bigint").alias("id"))
    ops = corpus_operators(spark, sf_dir).select("query_id", "id", "name", "avg_time")
    return (
        nodes.join(ops, ["query_id", "id"])
        .groupBy("name")
        .agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("avg_time").cast("bigint").alias("total_time"),
        )
    )


# pt1's edge set, the one every plan oracle walks: a parent_id edge only
# when the parent row is in the same fragment, plus EXCHANGE ->
# fed-fragment-root edges
_EDGES = """
        , edges AS (
          SELECT o.query_id, p.id AS parent_op, o.id AS child_op
          FROM iwa_operators o
          JOIN iwa_operators p
            ON p.query_id = o.query_id AND p.id = o.parent_id
           AND p.fragment_id = o.fragment_id
          UNION ALL
          SELECT f.query_id, f.exchange_id AS parent_op, o.id AS child_op
          FROM iwa_fragments f
          JOIN iwa_operators o
            ON o.query_id = f.query_id AND o.fragment_id = f.id
           AND o.parent_id IS NULL
          WHERE f.exchange_id IS NOT NULL
        )"""


_PT3_WALK = _EDGES + """,
        walk AS (
          WITH RECURSIVE r AS (
            SELECT o.query_id, o.id, format('{:03d}', o.id) AS path,
                   o.avg_time AS total
            FROM iwa_operators o
            JOIN iwa_fragments f
              ON f.query_id = o.query_id AND f.id = o.fragment_id
             AND f.exchange_id IS NULL
            WHERE o.parent_id IS NULL
            UNION ALL
            SELECT e.query_id, e.child_op,
                   r.path || '>' || format('{:03d}', e.child_op),
                   r.total + o.avg_time
            FROM r JOIN edges e
              ON e.query_id = r.query_id AND e.parent_op = r.id
            JOIN iwa_operators o
              ON o.query_id = e.query_id AND o.id = e.child_op
          )
          SELECT * FROM r
        ),
        ranked AS (
          SELECT query_id, id AS leaf_id, path, total AS total_time,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY total DESC, path ASC) AS rn
          FROM walk)"""


_PT2_WALK = _EDGES + """,
        walk AS (
          WITH RECURSIVE r AS (
            SELECT o.query_id, o.id, 0 AS depth,
                   format('{:03d}', o.id) AS path
            FROM iwa_operators o
            JOIN iwa_fragments f
              ON f.query_id = o.query_id AND f.id = o.fragment_id
             AND f.exchange_id IS NULL
            WHERE o.parent_id IS NULL
            UNION ALL
            SELECT e.query_id, e.child_op, r.depth + 1,
                   r.path || '>' || format('{:03d}', e.child_op)
            FROM r JOIN edges e
              ON e.query_id = r.query_id AND e.parent_op = r.id
          )
          SELECT * FROM r
        )
"""


# pt4/pt6's plan-shape fingerprint per query
_PLAN_FINGERPRINTS = """
        , per_op AS (
          SELECT query_id, id,
                 CAST(id AS VARCHAR) || ':' || name || ':'
                   || CAST(COALESCE(parent_id, -1) AS VARCHAR) AS tok
          FROM iwa_operators),
        per_q AS (
          SELECT query_id,
                 md5(string_agg(tok, '|' ORDER BY id)) AS fingerprint,
                 COUNT(*) AS n_ops
          FROM per_op GROUP BY query_id)"""


ORACLES = {
    "pt5_critical_hotspots": with_corpus(_PT3_WALK + """,
        crit AS (
          SELECT query_id, path FROM ranked WHERE rn = 1),
        nodes AS (
          SELECT query_id,
                 CAST(unnest(string_split(path, '>')) AS BIGINT) AS id
          FROM crit)
        SELECT o.name,
               CAST(COUNT(DISTINCT n.query_id) AS BIGINT) AS n_queries,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(o.avg_time) AS BIGINT) AS total_time
        FROM nodes n
        JOIN iwa_operators o ON o.query_id = n.query_id AND o.id = n.id
        GROUP BY o.name"""),
    "pt6_shape_runtime_drift": with_corpus(_PLAN_FINGERPRINTS + """,
        per_fc AS (
          SELECT p.fingerprint, q.cluster,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(FLOOR(SUM(q.runtime) / CAST(COUNT(*) AS DOUBLE))
                      AS BIGINT) AS mean_runtime
          FROM per_q p JOIN iwa_queries q ON q.query_id = p.query_id
          WHERE q.runtime IS NOT NULL
          GROUP BY 1, 2)
        SELECT fingerprint,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(n) AS BIGINT) AS n_queries,
               MIN(mean_runtime) AS min_mean,
               MAX(mean_runtime) AS max_mean,
               ROUND(MAX(mean_runtime) / CAST(MIN(mean_runtime) AS DOUBLE), 9)
                 AS drift_ratio
        FROM per_fc
        GROUP BY fingerprint
        HAVING COUNT(*) >= 2 AND MIN(mean_runtime) > 0"""),
    "pt4_plan_fingerprints": with_corpus(_PLAN_FINGERPRINTS + """
        SELECT fingerprint, n_ops, COUNT(*) AS n_queries,
               MIN(query_id) AS example_query_id
        FROM per_q GROUP BY 1, 2"""),
    "pt3_critical_path": with_corpus(_PT3_WALK + """
        SELECT query_id, leaf_id, path, total_time FROM ranked WHERE rn = 1"""),
    "pt1_plan_edges": with_corpus(_EDGES + """
        SELECT query_id, parent_op, child_op FROM edges"""),
    "pt2_plan_paths": with_corpus(_PT2_WALK + """
        SELECT w.query_id, w.id, w.depth, w.path,
               repeat('  ', w.depth) || CAST(w.id AS VARCHAR) || ':' || o.name AS line
        FROM walk w
        JOIN iwa_operators o ON o.query_id = w.query_id AND o.id = w.id"""),
}

SPARK_QUERIES = {
    "pt1_plan_edges": plan_edges,
    "pt2_plan_paths": plan_paths,
    "pt3_critical_path": critical_path,
    "pt4_plan_fingerprints": plan_fingerprints,
    "pt5_critical_hotspots": critical_hotspots,
    "pt6_shape_runtime_drift": shape_runtime_drift,
}


def plan_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt7 — PLAN MOTIF census: every parent->child->grandchild operator
    NAME triple across all plan trees, with occurrence and query counts —
    "which three-operator sub-plan shapes dominate the workload" (e.g.
    AGGREGATE>HASH JOIN>SCAN HDFS vs EXCHANGE>AGGREGATE>SCAN). The
    n-gram view of pt4's whole-plan fingerprints: fingerprints tell you
    which PLANS repeat, motifs tell you which SHAPES repeat inside
    different plans — what a workload reviewer scans before deciding
    which pattern to optimize for first.

    Scale: pt1's edge set (one self-join + one fragment join) named via
    two (query_id, id)-keyed joins, then one edge self-join on the
    shared child/parent id and a grouped count — every join an equi-join
    on plan-local keys, output bounded by distinct-name^3."""
    ops = corpus_operators(spark, sf_dir).select("query_id", "id", "name")
    edges = plan_edges(spark, sf_dir)
    named = (
        edges.join(
            ops.select(
                "query_id",
                F.col("id").alias("parent_op"),
                F.col("name").alias("parent_name"),
            ),
            ["query_id", "parent_op"],
        )
        .join(
            ops.select(
                "query_id",
                F.col("id").alias("child_op"),
                F.col("name").alias("child_name"),
            ),
            ["query_id", "child_op"],
        )
    )
    chains = (
        named.alias("a")
        .join(
            named.alias("b"),
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.child_op") == F.col("b.parent_op")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.parent_name").alias("op_top"),
            F.col("a.child_name").alias("op_mid"),
            F.col("b.child_name").alias("op_leaf"),
        )
    )
    return chains.groupBy("op_top", "op_mid", "op_leaf").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
    )


ORACLES["pt7_plan_motifs"] = with_corpus(_EDGES + """,
        named AS (
          SELECT e.query_id, e.parent_op, e.child_op,
                 p.name AS parent_name, c.name AS child_name
          FROM edges e
          JOIN iwa_operators p
            ON p.query_id = e.query_id AND p.id = e.parent_op
          JOIN iwa_operators c
            ON c.query_id = e.query_id AND c.id = e.child_op
        )
        SELECT a.parent_name AS op_top,
               a.child_name AS op_mid,
               b.child_name AS op_leaf,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(COUNT(DISTINCT a.query_id) AS BIGINT) AS n_queries
        FROM named a
        JOIN named b
          ON b.query_id = a.query_id AND b.parent_op = a.child_op
        GROUP BY 1, 2, 3""")

SPARK_QUERIES["pt7_plan_motifs"] = plan_motifs


def plan_shape_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt8 — per-query PLAN SHAPE PROFILE: the structural complexity
    metrics of each plan tree — node count, maximum depth, edge count,
    maximum fanout (widest operator), leaf count. pt4 fingerprints WHICH
    plans repeat and pt7 which local shapes repeat; pt8 measures HOW BIG
    and HOW BUSHY each plan is — the size/shape axis the reference's
    ASCII renderer (draw_plan.py:6-37) makes a human eyeball, published
    as numbers a workload monitor can threshold (a depth-40 or
    fanout-12 plan is a review flag regardless of runtime).

    Scale: ONE pass over the co-located node frame shared with pt2/pt3/
    pt5 (``_colocated_nodes``) through the same ``_walk_trees`` with no
    payload: every metric — the root-closure node count and depth (pt2's
    walk) and the edge/fanout census (pt1's edge set) — comes out of one
    plain-Python partition walk that emits ONE ROW PER QUERY, with no
    shuffle beyond the shared frame's co-location."""
    return _shapes_over(_colocated_nodes(spark, sf_dir))


def _shapes_over(nodes: DataFrame) -> DataFrame:
    """pt8's walk over a co-located node frame."""

    def visit(qid, _payload, children, roots, rows) -> None:
        n_nodes = 0
        depth_max = 0
        stack = [(root, 0) for root in roots]
        while stack:
            oid, depth = stack.pop()
            n_nodes += 1
            if depth > depth_max:
                depth_max = depth
            for child in children.get(oid, ()):
                stack.append((child, depth + 1))
        n_edges = sum(len(c) for c in children.values())
        max_fanout = max((len(c) for c in children.values()), default=0)
        rows.append((qid, n_nodes, depth_max, n_edges, max_fanout,
                     n_nodes - len(children)))

    return _walk_trees(
        nodes, visit,
        "query_id string, n_nodes bigint, depth_max bigint, "
        "n_edges bigint, max_fanout bigint, n_leaves bigint",
        ["query_id", "n_nodes", "depth_max", "n_edges", "max_fanout",
         "n_leaves"],
    )


ORACLES["pt8_plan_shape_profile"] = with_corpus(_PT2_WALK + """,
        prof AS (
          SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                 CAST(MAX(depth) AS BIGINT) AS depth_max
          FROM walk GROUP BY query_id),
        fan AS (
          SELECT query_id, CAST(SUM(c) AS BIGINT) AS n_edges,
                 CAST(MAX(c) AS BIGINT) AS max_fanout,
                 CAST(COUNT(*) AS BIGINT) AS n_parents
          FROM (SELECT query_id, parent_op, CAST(COUNT(*) AS BIGINT) AS c
                FROM edges GROUP BY 1, 2) t
          GROUP BY query_id)
        SELECT p.query_id, p.n_nodes, p.depth_max,
               CAST(COALESCE(f.n_edges, 0) AS BIGINT) AS n_edges,
               CAST(COALESCE(f.max_fanout, 0) AS BIGINT) AS max_fanout,
               CAST(p.n_nodes - COALESCE(f.n_parents, 0) AS BIGINT) AS n_leaves
        FROM prof p LEFT JOIN fan f ON p.query_id = f.query_id""")

SPARK_QUERIES["pt8_plan_shape_profile"] = plan_shape_profile


def depth_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt9 — RUNTIME SHARE BY PLAN DEPTH: operator time aggregated by
    tree depth (root = 0, pt2's closure), per level the node count,
    distinct-query count, total avg_time and its floor-ppm share of all
    operator time. pt3 answers "which chain is critical" per query;
    pt9 answers the fleet-wide structural question — does the workload
    spend at the scan leaves or in the upper join/agg levels — which is
    what decides whether to buy IO (deep-heavy) or CPU/memory
    (shallow-heavy), and flags plan-depth pathologies a per-query view
    hides.

    Exactness: integer avg_time sums; level totals reach ~1e15 us, so
    total * 1e6 overflows BIGINT — the share is computed in WIDE
    integers (Spark DECIMAL(38,0) DIV, DuckDB HUGEINT //, the ev30
    pattern), exact at any magnitude; the global total is carried to
    each level by a window over the depth table.

    Scale: rides pt2's one-shuffle colocated walk; the join back to
    operator times is (query_id, id)-keyed on frames that came out of
    the same bucketed corpus; the depth rollup's output is
    max-plan-depth rows, and the share window runs over that tiny
    table, never the operators."""
    from pyspark.sql import Window  # noqa: PLC0415

    paths = plan_paths(spark, sf_dir).select("query_id", "id", "depth")
    ops = corpus_operators(spark, sf_dir).select("query_id", "id", "avg_time")
    per = (
        paths.join(ops, ["query_id", "id"])
        .groupBy("depth")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.sum("avg_time").cast("bigint").alias("total_time"),
        )
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        F.col("depth").cast("bigint").alias("depth"),
        "n_nodes",
        "n_queries",
        "total_time",
        F.sum("total_time").over(wall).alias("grand_total"),
    ).select(
        "depth",
        "n_nodes",
        "n_queries",
        "total_time",
        F.expr(
            "CAST((CAST(total_time AS DECIMAL(38,0)) * 1000000)"
            " DIV grand_total AS BIGINT)"
        ).alias("time_share_ppm"),
    )


def _pt9_oracle() -> str:
    return with_corpus(_PT2_WALK + """,
        per AS (
          SELECT CAST(w.depth AS BIGINT) AS depth,
                 CAST(COUNT(*) AS BIGINT) AS n_nodes,
                 CAST(COUNT(DISTINCT w.query_id) AS BIGINT) AS n_queries,
                 CAST(SUM(o.avg_time) AS BIGINT) AS total_time
          FROM walk w JOIN iwa_operators o
            ON o.query_id = w.query_id AND o.id = w.id
          GROUP BY w.depth)
        SELECT depth, n_nodes, n_queries, total_time,
               CAST((CAST(total_time AS HUGEINT) * 1000000)
                    // SUM(total_time) OVER () AS BIGINT) AS time_share_ppm
        FROM per""")


ORACLES["pt9_depth_time_profile"] = _pt9_oracle()
SPARK_QUERIES["pt9_depth_time_profile"] = depth_time_profile
