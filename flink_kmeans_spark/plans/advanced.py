"""Round-2b advanced surface: distributed graph metrics, re-aggregable
exact-distinct bitmaps, wide→long reshape, running distinct-count
windows, and an engine-portable count-min sketch.

Scale notes (100 TB discipline):
- ``graph_triangles`` is the ordered-edge-join triangle enumeration —
  the canonical distributed algorithm (each triangle materializes once,
  as its (low, mid, high) orientation; joins shuffle on edge endpoints,
  never all-pairs). Degree/triangle tables are node-sized, not
  edge-squared.
- ``agg_bitmap_distinct`` is EXACT distinct via Spark's bitmap
  aggregates. Unlike COUNT(DISTINCT), partial bitmaps are re-aggregable
  (``bitmap_or_agg``) — the rollup-tier pattern for exact distinct at
  100 TB: shards build (group, bucket) partials map-side, any coarser
  tier ORs them without touching raw rows.
- ``agg_cms_frequency`` builds a count-min sketch with explicit
  arithmetic hashing (engine-portable, so DuckDB can verify the EXACT
  sketch cells, not an approximation band). The sketch is D×W cells —
  broadcastable — regardless of input row count; the classic bounded-
  memory frequency summary for unbounded key domains.
- ``window_count_distinct`` rewrites the unsupported
  COUNT(DISTINCT) OVER as first-occurrence-marker + running SUM —
  two window passes over the same (user, time) sort order, so Catalyst
  reuses one Sort+Exchange for both.
- ``reshape_unpivot`` expands W metric columns into W rows per group
  with Expand (no shuffle at all — the aggregate before it did the
  only exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..boundary import install
from ..session import scratch_dir
from ..sources import load_table
from .registry import register


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# Shared DuckDB CTE: the exact 3-gram Jaccard near-dup candidate pairs
# (same text pipeline as dedup_ngram_jaccard / graph_components oracles).
_PAIRS_CTE = """
    d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
               i -> array_to_string(string_split(text,' ')[i:i+2], ' ')
             )) AS sh
      FROM documents
    ),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
    )
"""


@register(
    "graph_triangles",
    oracle=f"""
    WITH {_PAIRS_CTE},
    und AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    deg AS (SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM und GROUP BY src),
    tri AS (
      SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.id_a = e1.id_b
      JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    pernode AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT deg.doc_id, deg.degree,
           COALESCE(pernode.n_tri, 0) AS n_tri,
           ROUND(CASE WHEN deg.degree >= 2
                      THEN 2.0 * COALESCE(pernode.n_tri, 0)
                           / (deg.degree * (deg.degree - 1))
                      ELSE 0.0 END, 4) AS clustering
    FROM deg LEFT JOIN pernode ON pernode.node = deg.doc_id
    """,
    tags=("graph", "dedup"),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    exact ngram-Jaccard near-dup graph. Dup-graph use: clustering≈1
    flags fully-duplicated clusters, low clustering flags chain-shaped
    near-dup drift.

    GROUP-GRAIN enumeration (r8 rewrite — 100× probe catch #9): the
    doc-grain ordered-edge double join is CUBIC in exact-dup clique
    size — on the 100× replica (every text ×100, so every dup group is
    a 100-clique) it materializes ~5 000·C(100,3) ≈ 8·10⁸ triangle
    rows and never finishes; real web corpora have the same
    boilerplate-clique shape. Identical texts are interchangeable
    graph nodes, so everything collapses to the DISTINCT-text group
    graph (ngram_jaccard_groups; a near-dup edge between two groups
    means ALL cross member pairs are edges, an intra edge exists iff
    the group's shingle set is non-empty):

        degree(x∈g)      = (m_g − 1)·[sh_g≠∅] + S_g
        triangles(x∈g)   = C(m_g−1, 2)·[sh_g≠∅]        (both in g)
                         + (m_g−1)·S_g·[sh_g≠∅]        (one in g, one out)
                         + Σ_{h~g} C(m_h, 2)           (both in one h)
                         + Σ_{(g,h,k)∈T_G} m_h·m_k     (two different groups)

    with S_g = Σ_{h~g} m_h and T_G the GROUP-grain triangles from the
    same ordered double join — now over the distinct-text graph, whose
    size is independent of duplication factor. Per-doc values expand
    map-side at the end (every member of g gets g's numbers).
    Bit-identical to the doc-grain formulation (pytest pins equality
    on corpora with synthesized cliques; the DuckDB oracle is
    unchanged)."""
    from ..operators import dedup as DD

    docs = _t(spark, sf_dir, "documents")
    d, members, near_groups = DD.ngram_jaccard_groups(docs, n=3, threshold=0.8)
    sizes = d.select(
        "__gid",
        F.col("__m").alias("m"),
        (F.size("sh") >= 1).alias("has_sh"),
    ).localCheckpoint(eager=False)  # group-grain; referenced 5×
    gp = near_groups.select("g_a", "g_b").localCheckpoint(eager=True)
    und = gp.unionByName(
        gp.select(F.col("g_b").alias("g_a"), F.col("g_a").alias("g_b"))
    )
    # per-group neighbor aggregates: S_g and Σ C(m_h, 2)
    nbr = (
        und.join(sizes.select(F.col("__gid").alias("g_b"),
                              F.col("m").alias("m_b")), "g_b")
        .groupBy(F.col("g_a").alias("__gid"))
        .agg(
            F.sum("m_b").alias("s_nbr"),
            F.sum(F.col("m_b") * (F.col("m_b") - 1) / 2).cast("long").alias("t_nbr"),
        )
    )
    # group-grain triangles (ordered double join over DISTINCT texts)
    e1, e2, e3 = gp.alias("e1"), gp.alias("e2"), gp.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.g_b") == F.col("e2.g_a"))
        .join(
            e3,
            (F.col("e3.g_a") == F.col("e1.g_a"))
            & (F.col("e3.g_b") == F.col("e2.g_b")),
        )
        .select(
            F.col("e1.g_a").alias("a"),
            F.col("e1.g_b").alias("b"),
            F.col("e2.g_b").alias("c"),
        )
    )
    tri_m = (
        tri.join(sizes.select(F.col("__gid").alias("a"), F.col("m").alias("m_a")), "a")
        .join(sizes.select(F.col("__gid").alias("b"), F.col("m").alias("m_b")), "b")
        .join(sizes.select(F.col("__gid").alias("c"), F.col("m").alias("m_c")), "c")
    )
    tri_corner = (
        tri_m.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("g"),
                             (F.col("m_b") * F.col("m_c")).alias("t")),
                    F.struct(F.col("b").alias("g"),
                             (F.col("m_a") * F.col("m_c")).alias("t")),
                    F.struct(F.col("c").alias("g"),
                             (F.col("m_a") * F.col("m_b")).alias("t")),
                )
            ).alias("x")
        )
        .groupBy(F.col("x.g").alias("__gid"))
        .agg(F.sum("x.t").alias("t_tri"))
    )
    per_group = (
        sizes.join(nbr, "__gid", "left")
        .join(tri_corner, "__gid", "left")
        .select(
            "__gid",
            "m",
            "has_sh",
            F.coalesce("s_nbr", F.lit(0)).alias("s_nbr"),
            F.coalesce("t_nbr", F.lit(0)).alias("t_nbr"),
            F.coalesce("t_tri", F.lit(0)).alias("t_tri"),
        )
        .select(
            "__gid",
            (
                F.when(F.col("has_sh"), F.col("m") - 1).otherwise(F.lit(0))
                + F.col("s_nbr")
            ).alias("degree"),
            (
                F.when(
                    F.col("has_sh"),
                    (F.col("m") - 1) * (F.col("m") - 2) / 2
                    + (F.col("m") - 1) * F.col("s_nbr"),
                ).otherwise(F.lit(0)).cast("long")
                + F.col("t_nbr")
                + F.col("t_tri")
            ).alias("n_tri"),
        )
    )
    # expand to docs map-side (every member of g carries g's numbers);
    # docs with degree 0 (no edges at all) keep the doc-grain
    # formulation's semantics of NOT appearing (deg came from the edge
    # list there), so filter degree >= 1
    return (
        members.join(per_group, "__gid")
        .filter(F.col("degree") >= 1)
        .select(
            F.col("__id").alias("doc_id"),
            "degree",
            "n_tri",
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0 * F.col("n_tri")
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("clustering"),
        )
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority AS pri,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "sketch"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark's bitmap aggregates, built as
    the two-level re-aggregation a 100 TB rollup tier uses:
    shard-level partial bitmaps (``bitmap_construct_agg`` per
    (group, bucket, shard)) are OR-merged (``bitmap_or_agg``) into
    group-level bitmaps, and the distinct count is the sum of
    ``bitmap_count`` over buckets. Unlike COUNT(DISTINCT) — whose
    partials are not mergeable without a re-shuffle of raw values —
    bitmap partials compose, so coarser rollup tiers never touch raw
    rows again. The oracle is plain COUNT(DISTINCT): the bitmap path
    must be exactly equal, not approximately."""
    o = _t(spark, sf_dir, "orders")
    # shard = ingest-split surrogate (any partition-stable column works)
    partial = (
        o.select(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderstatus").alias("shard"),
            F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("pri", "shard", "bkt")
        .agg(
            F.expr("bitmap_construct_agg(pos)").alias("bm"),
            F.count(F.lit(1)).alias("pn"),
        )
    )
    merged = partial.groupBy("pri", "bkt").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm"), F.sum("pn").alias("pn")
    )
    return merged.groupBy("pri").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct_cust"),
        F.sum("pn").alias("n_orders"),
    )


@register(
    "reshape_unpivot",
    oracle="""
    WITH w AS (
      SELECT n_name,
             CAST(COUNT(*) AS DOUBLE) AS n_orders,
             ROUND(SUM(o_totalprice), 2) AS revenue,
             ROUND(MAX(o_totalprice), 2) AS max_price
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n_name
    )
    SELECT n_name, 'n_orders' AS metric, n_orders AS value FROM w
    UNION ALL SELECT n_name, 'revenue', revenue FROM w
    UNION ALL SELECT n_name, 'max_price', max_price FROM w
    """,
    tags=("reshape",),
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape with the native ``unpivot`` (Expand-based
    inverse of pivot): per-nation metric columns become (nation,
    metric, value) rows. Expand is a map-side row multiplier — zero
    shuffle beyond the aggregate that built the wide table, vs the
    UNION-ALL-of-N-selects formulation that would rescan the input N
    times (the oracle does exactly that, over an already-aggregated
    CTE, to stay engine-portable). Metrics are cast to a common DOUBLE
    before unpivot — unpivot requires a least-common value type.
    MAX (not AVG) keeps the value exactly representable so 2-dp
    rounding can't straddle an engine-order boundary."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    wide = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )
    return wide.unpivot(
        ["n_name"], ["n_orders", "revenue", "max_price"], "metric", "value"
    )


@register(
    "window_count_distinct",
    oracle="""
    WITH m AS (
      SELECT event_id, user_id, ts,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_distinct_types
    FROM m
    """,
    tags=("window", "events"),
)
def window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT event_type) per user — unsupported as a
    native window aggregate in both engines, rewritten as the
    first-occurrence-marker trick: row_number()==1 over
    (user, type, time) marks each type's first sighting, and a running
    SUM of the marker over (user, time) is the distinct count so far.
    ONE exchange for both windows: the input pre-partitions on
    user_id alone, which satisfies the first window's
    (user_id, event_type) clustering too (hash on a subset of the
    keys co-locates the full key), so EnsureRequirements inserts only
    the two in-partition sorts — without the repartition, each window
    plans its own full shuffle (verified in the physical plan). State
    is O(1) per row vs the collect_set-over-window formulation whose
    per-row set materialization is O(distinct) memory per row."""
    e = _t(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    marked = e.select("event_id", "user_id", "event_type", "ts").repartition(
        "user_id"
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w1) == 1, 1).otherwise(0).alias("is_first"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return marked.select(
        "event_id",
        "user_id",
        F.sum("is_first").over(w2).alias("n_distinct_types"),
    )


# Count-min sketch constants: depth×width cells, pairwise-independent-ish
# arithmetic hashes h_j(k) = ((k·A_j + B_j) mod P) mod W with P = 2³¹−1.
# Plain integer arithmetic so DuckDB computes the IDENTICAL sketch.
_CMS_A = [1103515245, 1229782938, 1666666669, 1431655765]
_CMS_B = [12345, 67890, 424242, 13579]
_CMS_P = 2147483647
_CMS_W = 512
_CMS_D = 4


@register(
    "agg_cms_frequency",
    oracle=f"""
    WITH ks AS (SELECT o_custkey AS k FROM orders),
    ex AS (SELECT k, j FROM ks, generate_series(0, {_CMS_D - 1}) AS t(j)),
    sketch AS (
      SELECT j,
             ((k * ({_CMS_A})[j + 1] + ({_CMS_B})[j + 1]) % {_CMS_P})
               % {_CMS_W} AS bkt,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ex GROUP BY 1, 2
    ),
    exact AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_n
              FROM ks GROUP BY k),
    probe AS (
      SELECT k, exact_n, j,
             ((k * ({_CMS_A})[j + 1] + ({_CMS_B})[j + 1]) % {_CMS_P})
               % {_CMS_W} AS bkt
      FROM exact, generate_series(0, {_CMS_D - 1}) AS t(j)
    )
    SELECT k, exact_n, MIN(cnt) AS cms_est
    FROM probe JOIN sketch USING (j, bkt)
    GROUP BY 1, 2
    """,
    tags=("agg", "sketch"),
)
def agg_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with engine-portable arithmetic hashing: build
    the D×W cell table (one hash aggregate over k×D exploded rows —
    map-side combine collapses to ≤D×W cells per partition before the
    shuffle), then probe every distinct key back through the sketch
    and take the row-wise MIN — the CMS point estimate. The sketch is
    4×512 cells regardless of input size, so the probe
    join broadcasts it; CMS guarantees est ≥ exact (one-sided error),
    which the output exposes as (exact_n, cms_est) for direct
    inspection and the pytest invariant. At 100 TB the sketch is the
    bounded-memory frequency summary for heavy-hitter screens —
    exact per-key counts need a full shuffle of the key domain; the
    sketch needs a broadcastable constant-size table."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    arr_a = F.array(*[F.lit(a) for a in _CMS_A])
    arr_b = F.array(*[F.lit(b) for b in _CMS_B])

    def bucket(k_col):
        return (
            (
                k_col * F.element_at(arr_a, F.col("j") + 1)
                + F.element_at(arr_b, F.col("j") + 1)
            )
            % _CMS_P
        ) % _CMS_W

    ex = o.select("k", F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("j"))
    sketch = ex.groupBy("j", bucket(F.col("k")).alias("bkt")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    exact = o.groupBy("k").agg(F.count(F.lit(1)).alias("exact_n"))
    probe = exact.select(
        "k",
        "exact_n",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("j"),
    ).withColumn("bkt", bucket(F.col("k")))
    return (
        probe.join(F.broadcast(sketch), ["j", "bkt"])
        .groupBy("k", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )


@register(
    "events_user_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             STRING_AGG(event_type, '>' ORDER BY rn) AS path
      FROM seq WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path ASC
    LIMIT 20
    """,
    tags=("events", "window"),
)
def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 onboarding paths: each user's first 5 events (by time,
    event_id tiebreak) joined into a '>'-path, counted across users.
    The per-user sequence is one window pass; the ORDERED string
    aggregation — Spark's collect_list has no ORDER BY — is
    array_sort over (rn, type) structs then transform+array_join,
    all engine-side codegen. Top-20 compiles to
    TakeOrderedAndProject: no global sort materializes. Path counts
    are user-grain (≪ event-grain) before the final aggregate."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    paths = seq.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(20)
    )


@register(
    "cdc_merge_apply",
    oracle="""
    WITH dels AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 17 = 0),
    upds AS (
      SELECT o_orderkey, o_totalprice + 1000.0 AS new_price
      FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 17 <> 0
    ),
    ins AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_orderpriority,
             o_totalprice FROM orders WHERE o_orderkey % 23 = 0
    ),
    merged AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             COALESCE(u.new_price, o.o_totalprice) AS price
      FROM orders o
      LEFT JOIN upds u ON o.o_orderkey = u.o_orderkey
      WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM dels)
      UNION ALL
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM ins
    )
    SELECT o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(price), 2) AS total_price
    FROM merged GROUP BY pri
    """,
    tags=("cdc", "join"),
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog MERGE (CDC apply): a deterministic change batch —
    deletes (key%17), updates (key%10, price +1000.0, delete wins on
    overlap), inserts (key%23 under shifted keys) — applied to the
    orders snapshot with the canonical distributed pattern: UNION the
    keyed snapshot (seq=0) with the change rows (seq=1), shuffle once
    on the key, keep the max-seq row per key, drop tombstones. One
    exchange regardless of change-type mix — vs the three-join
    formulation (the oracle's, for SQL portability) that shuffles the
    snapshot once per change type. Emitted as the per-priority audit
    aggregate so the output is group-sized."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").alias("price"),
        F.lit(0).alias("seq"),
        F.lit("I").alias("op"),
    )
    dels = o.filter(F.col("o_orderkey") % 17 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("seq"),
        F.lit("D").alias("op"),
    )
    upds = (
        o.filter((F.col("o_orderkey") % 10 == 0) & (F.col("o_orderkey") % 17 != 0))
        .select(
            "o_orderkey",
            "o_orderpriority",
            # +1000.0 is exact in binary — a ×1.1 + ROUND update hits
            # half-up (Spark) vs half-even (DuckDB) on .xx5 halfway
            # values and the per-row disagreements survive the sum.
            (F.col("o_totalprice") + 1000.0).alias("price"),
            F.lit(1).alias("seq"),
            F.lit("U").alias("op"),
        )
    )
    ins = o.filter(F.col("o_orderkey") % 23 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_orderpriority",
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    log = base.unionByName(dels).unionByName(upds).unionByName(ins)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    latest = log.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & (F.col("op") != "D")
    )
    return latest.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("price"), 2).alias("total_price"),
    )


@register(
    "agg_salted_twophase",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice), 2) AS total,
           ROUND(SUM(l_extendedprice) / COUNT(*), 4) AS avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "skew"),
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-phase salted aggregation for skewed group keys:
    l_returnflag has 3 values, so a naive groupBy lands ~1/3 of 100 TB
    on 3 reducers. Phase 1 aggregates (flag, salt) with a 16-way
    deterministic salt — 48 evenly-sized partials; phase 2 merges the
    partials (sum-of-sums / sum-of-counts, AVG recomposed at the end —
    never avg-of-avgs). Same two-exchange shape Spark's partial
    aggregation gives for free on commutative aggs; written out
    explicitly because the pattern is what rescues HOLISTIC aggs
    (collect/percentile) and extreme skew where map-side combine
    alone can't balance reducers."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_extendedprice"
    )
    salted = li.withColumn("salt", F.pmod(F.hash("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("l_extendedprice").alias("pt")
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("pt"), 2).alias("total"),
        F.round(F.sum("pt") / F.sum("pn"), 4).alias("avg_price"),
    )


@register(
    "scalar_try_safe",
    oracle="""
    SELECT o_orderkey,
           ROUND(o_totalprice / NULLIF(o_custkey % 7, 0), 4) AS safe_div,
           TRY_CAST(CASE WHEN o_orderkey % 3 = 0
                         THEN CAST(o_orderkey AS VARCHAR)
                         ELSE o_orderpriority END AS BIGINT) AS maybe_num,
           CASE WHEN o_orderkey > 0 THEN NULL
                ELSE 9223372036854775807 + o_orderkey END AS overflow_add,
           [1, 2, 3][CAST(o_orderkey % 5 + 1 AS INTEGER)] AS oob_elem
    FROM orders
    """,
    tags=("scalar",),
)
def scalar_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar family — the ANSI-mode escape hatches a
    data-quality pipeline runs on untrusted input: try_divide
    (÷0 → NULL, not an error or ±Inf), try_cast (malformed → NULL),
    try_add (int64 overflow → NULL — the oracle encodes the documented
    semantic as an explicit CASE since DuckDB 1.0 has no TRY()),
    try_element_at (out-of-bounds → NULL, matching DuckDB's native
    OOB-is-NULL list indexing; note 1-based vs element_at which
    errors). All pure codegen and never aborts a 100 TB job on one bad
    row — but NOT free when the failure path actually fires (r11
    measurement, guide §1.2 per-task work): each try_* failure
    constructs a formatted SparkException internally, measured ~37 µs
    per try_add overflow and ~15 µs per try_cast parse failure —
    5.6 s / 2.3 s alone at sf0.1's 150 k rows (one scan task: single
    row group). The fix keeps every try_* in the plan but guards the
    KNOWN-failing input ranges with cheap arithmetic so the exception
    constructor only runs for genuinely ambiguous inputs:
    - overflow_add: MAX+key overflows iff key > 0 (branchable without
      parsing) — the guard emits the NULL directly and try_add handles
      the non-overflowing remainder;
    - maybe_num: a string that is not ^[+-]?digits$ can NEVER cast to
      bigint, so an rlike pre-filter (compiled regex, no exceptions)
      short-circuits the guaranteed-NULL rows; integral-looking
      strings still go through try_cast (which still handles >int64
      digit strings via its own overflow path).
    Output bit-identical for ANY data; measured 5.39 s → ~1.3 s."""
    o = _t(spark, sf_dir, "orders")
    maybe_src = F.when(
        F.col("o_orderkey") % 3 == 0, F.col("o_orderkey").cast("string")
    ).otherwise(F.col("o_orderpriority"))
    return o.select(
        "o_orderkey",
        F.round(
            F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 7), 4
        ).alias("safe_div"),
        F.when(
            maybe_src.rlike(r"^\s*[+-]?[0-9]+\s*$"),
            maybe_src.try_cast("bigint"),
        )
        .otherwise(F.lit(None).cast("bigint"))
        .alias("maybe_num"),
        F.when(
            F.col("o_orderkey") > 0, F.lit(None).cast("bigint")
        )
        .otherwise(
            F.try_add(
                F.lit(9223372036854775807).cast("bigint"), F.col("o_orderkey")
            )
        )
        .alias("overflow_add"),
        # index stays 1-based and nonzero (1..5): try_element_at nulls
        # out-of-bounds but still ERRORS on index 0 in both engines' API
        F.try_element_at(
            F.array(F.lit(1), F.lit(2), F.lit(3)),
            (F.col("o_orderkey") % 5 + 1).cast("int"),
        ).alias("oob_elem"),
    )


@register(
    "agg_approx_topk",
    oracle="""
    SELECT source AS item, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM documents GROUP BY source
    """,
    tags=("agg", "sketch"),
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` heavy-hitter sketch (Spark 4 built-in —
    bounded-memory item tracking, partial-mergeable, the streaming-
    friendly top-k that never shuffles raw values). Probed with
    k=100 ≥ |domain| and default maxItemsTracked ≫ |domain|, where the
    sketch is provably exact — so the full GROUP BY histogram is a
    hash-exact oracle of the sketch machinery itself, stronger than a
    tolerance band. The struct-array result explodes to (item, cnt)
    rows; order-insensitive compare makes count ties harmless. At
    100 TB the sketch aggregates map-side into a constant-size state
    per partition vs COUNT(*) GROUP BY's full key shuffle."""
    docs = _t(spark, sf_dir, "documents")
    topk = docs.agg(F.expr("approx_top_k(source, 100)").alias("tk"))
    return topk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"), F.col("e.count").alias("cnt")
    )


@register(
    "scan_csv_permissive",
    oracle="""
    WITH sel AS (SELECT * FROM orders WHERE o_orderkey % 100 = 0)
    SELECT CAST(COUNT(*) FILTER (WHERE o_orderkey % 7 <> 0) AS BIGINT)
             AS n_good,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 7 = 0) AS BIGINT)
             AS n_corrupt,
           ROUND(SUM(o_totalprice) FILTER (WHERE o_orderkey % 7 <> 0), 2)
             AS good_total
    FROM sel
    """,
    tags=("scan", "quality"),
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input CSV ingestion: a deterministic subset of orders
    is serialized to CSV with every key%7 row corrupted (non-numeric
    price field), then read back under PERMISSIVE mode with a
    ``_corrupt_record`` column — the production posture for untrusted
    100 TB landing data, where FAILFAST would abort the job on row one
    and DROPMALFORMED silently loses the evidence. The audit output
    (good/corrupt counts + good-row total) is what a quarantine
    pipeline logs; the oracle recomputes it from the clean source via
    the same modular conditions. Corrupt rows quarantine at scan
    grain, map-side — no shuffle touches them."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    lines = o.select(
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.concat_ws(
                ",",
                F.col("o_orderkey"),
                F.col("o_custkey"),
                F.lit("NOT_A_PRICE"),
            ),
        )
        .otherwise(
            F.concat_ws(
                ",",
                F.col("o_orderkey"),
                F.col("o_custkey"),
                F.col("o_totalprice"),
            )
        )
        .alias("value")
    )
    path = scratch_dir("csv_permissive") + "/orders_csv"
    lines.write.mode("overwrite").text(path)
    schema = (
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, "
        "_corrupt_record STRING"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # cache() before splitting on _corrupt_record: Spark documents that
    # a bare filter on the corrupt column alone is unreliable pre-cache
    back = back.cache()
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias(
            "n_corrupt"
        ),
        F.round(
            F.sum(
                F.when(F.col("_corrupt_record").isNull(), F.col("o_totalprice"))
            ),
            2,
        ).alias("good_total"),
    )


@register(
    "scan_jsonl_gz",
    oracle="""
    SELECT doc_id, lang, text FROM documents
    """,
    tags=("scan", "sink"),
)
def scan_jsonl_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped JSON-lines roundtrip — THE interchange format for LLM
    text corpora (one JSON doc per line, .jsonl.gz shards): the full
    documents table is written as gzip-compressed NDJSON and read back
    with an EXPLICIT schema (inference is an extra full pass at
    100 TB). Free-text content exercises JSON escaping (quotes,
    backslashes, non-ASCII) through the codec; the identity oracle
    proves the byte-level roundtrip is lossless. gzip is
    NON-SPLITTABLE — one task per shard — which is exactly how real
    crawl dumps arrive; Spark parallelizes across shards (here one per
    input partition), the 100 TB recipe being many ~100 MB .gz shards
    rather than few large ones."""
    out = scratch_dir("scan_jsonl_gz") + "/docs"
    (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(out)
    )
    return spark.read.schema("doc_id long, lang string, text string").json(out)


@register(
    "pipeline_curation",
    oracle="""
    WITH filt AS (
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE n_chars BETWEEN 150 AND 500
        AND len(string_split(text, ' ')) >= 20
    ),
    kept AS (
      SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang, source, n_chars
                                  ORDER BY doc_id) AS rn
        FROM filt) WHERE rn = 1
    ),
    cents AS MATERIALIZED (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    joined AS (
      SELECT k.doc_id, k.lang, k.n_chars,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM kept k JOIN embeddings e ON k.doc_id = e.vec_id
    ),
    assigned AS (
      SELECT doc_id, lang, n_chars, cid FROM (
        SELECT j.doc_id, j.lang, j.n_chars, c.cid,
               ROW_NUMBER() OVER (PARTITION BY j.doc_id ORDER BY
                 list_aggregate(list_transform(list_zip(j.v, c.cvec),
                   z -> (z[1] - z[2]) * (z[1] - z[2])), 'sum'), c.cid) AS rn
        FROM joined j CROSS JOIN cents c) WHERE rn = 1
    )
    SELECT cid, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 2) AS avg_chars
    FROM assigned GROUP BY cid, lang
    """,
    tags=("pipeline", "dedup", "kmeans"),
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data curation — the composed pipeline a user
    of this engine actually runs, as ONE declarative plan Catalyst
    optimizes globally: quality filter (length gates, pushed to the
    parquet scan) → exact-key dedup (keep-first window over the
    metadata key) → embedding join (doc_id = vec_id) → K-Means cluster
    assignment (fixed first-8 init, broadcast centroid block, zero
    shuffle) → per-(cluster, lang) corpus report. Stage boundaries
    cost nothing — no materialization between steps, and the final
    aggregate is the only data-sized exchange after the dedup window.
    The DuckDB oracle replays the identical five stages, so the whole
    composition is hash-verified, not just its parts."""
    from ..operators import kmeans as km

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    filt = docs.filter(
        F.col("n_chars").between(150, 500)
        & (F.size(F.split(F.col("text"), " ")) >= 20)
    ).select("doc_id", "lang", "source", "n_chars")
    w = Window.partitionBy("lang", "source", "n_chars").orderBy("doc_id")
    kept = (
        filt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )
    cents = km.init_centroids(emb, 8)
    joined = kept.join(emb, kept.doc_id == emb.vec_id).select(
        "doc_id", "lang", "n_chars", "embedding"
    )
    assigned = km.assign(joined, cents)
    return assigned.groupBy("cid", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


@register(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT CAST('1995-01-01' AS DATE)
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < CAST('2001-08-01' AS DATE)
    )
    SELECT strftime(m, '%Y-%m') AS month_start,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0.0), 2) AS revenue
    FROM months
    LEFT JOIN orders ON date_trunc('month', CAST(o_orderdate AS DATE)) = m
    GROUP BY m
    """,
    tags=("sql", "eventtime"),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE through the SQL front door (Spark 4 recursive
    CTE): a calendar spine generated by the recursion — no physical
    calendar table — LEFT-joined to orders so zero-order months
    survive with 0 revenue (the gap-preserving report a bare GROUP BY
    cannot produce). The recursion materializes ~80 month rows on the
    driver side of the plan (UnionLoop), broadcast into the join;
    orders aggregates once. DuckDB runs the IDENTICAL statement —
    the dialect surface itself is what's verified."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT CAST('1995-01-01' AS DATE)
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < CAST('2001-08-01' AS DATE)
        )
        SELECT date_format(m, 'yyyy-MM') AS month_start,
               CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
               ROUND(COALESCE(SUM(o_totalprice), 0.0), 2) AS revenue
        FROM months
        LEFT JOIN orders ON date_trunc('month', CAST(o_orderdate AS DATE)) = m
        GROUP BY m
        """
    )


@register(
    "join_lateral_topn",
    oracle="""
    SELECT n.n_name, c.c_name, ROUND(c.c_acctbal, 2) AS acctbal
    FROM nation n,
    LATERAL (
      SELECT c_name, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
    ) c
    """,
    tags=("join", "sql"),
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (per-nation top-2 customers by
    balance, custkey tiebreak) — the SQL-standard spelling of
    top-N-per-group. Catalyst DECORRELATES it: the executed plan is a
    window rank over customer partitioned by nationkey + a broadcast
    join with nation, not a per-outer-row re-execution — the same plan
    the hand-written window formulation gets, which is exactly why the
    surface is safe at 100 TB. DuckDB runs the identical statement."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, ROUND(c.c_acctbal, 2) AS acctbal
        FROM nation n,
        LATERAL (
          SELECT c_name, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
        ) c
        """
    )


@register(
    "scalar_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           CASE WHEN json_extract(props, '$.k') IS NOT NULL
                THEN 'BIGINT' ELSE 'VOID' END AS k_type
    FROM events
    """,
    tags=("scalar", "json"),
)
def scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT semi-structured type (Spark 4): ``parse_json`` into
    an open-schema value, path access via ``variant_get`` with a typed
    extraction, and ``schema_of_variant`` for runtime type discovery —
    the shredding-free way to carry heterogeneous JSON at scale
    (binary-encoded, predicate-pushable — vs re-parsing JSON strings
    per access). The oracle reads the same paths with DuckDB's JSON
    accessors: VARIANT must be a faithful view of the document."""
    e = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_val"),
        F.expr("schema_of_variant(variant_get(parse_json(props), '$.k'))").alias(
            "k_type"
        ),
    )


@register(
    "source_python_datasource",
    oracle="""
    WITH g AS (SELECT i FROM generate_series(0, 9999) AS t(i))
    SELECT i % 7 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(i * i) AS BIGINT) AS sum_sq
    FROM g GROUP BY 1
    """,
    tags=("source",),
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SOURCE via the Python Data Source API (Spark 4): a
    deterministic generator exposing ``partitions()`` so the scan
    parallelizes — 4 independent splits, each yielding its own index
    range (the contract any external-system connector implements:
    plan splits driver-side, read each split executor-side, no driver
    materialization). Defined in-function so it ships to workers BY
    VALUE (repo worker-serialization contract — module-level classes
    pickle by reference and break under the driver's plain session).
    The oracle recomputes the closed-form dataset with
    generate_series."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    n_total, n_parts = 10_000, 4

    class RangePartition(InputPartition):
        def __init__(self, start, end):
            self.start, self.end = start, end

    class SquaresReader(DataSourceReader):
        def partitions(self):
            step = n_total // n_parts
            return [
                RangePartition(p * step, (p + 1) * step) for p in range(n_parts)
            ]

        def read(self, partition):
            install()
            for i in range(partition.start, partition.end):
                yield (i, i * i)

    class SquaresSource(DataSource):
        @classmethod
        def name(cls):
            return "squares_gen"

        def schema(self):
            return "i bigint, sq bigint"

        def reader(self, schema):
            return SquaresReader()

    spark.dataSource.register(SquaresSource)
    df = spark.read.format("squares_gen").load()
    return df.groupBy((F.col("i") % 7).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("sq").alias("sum_sq")
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, MAX(value) AS value
          FROM events WHERE event_type = 'click' GROUP BY 1, 2),
    back AS (
      SELECT p.event_id, epoch_us(CAST(c.ts AS TIMESTAMP)) AS b_ts,
             ROUND(c.value, 4) AS b_val
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND c.ts <= p.ts
    ),
    fwd AS (
      SELECT p.event_id, epoch_us(CAST(c.ts AS TIMESTAMP)) AS f_ts,
             ROUND(c.value, 4) AS f_val
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND c.ts >= p.ts
    )
    SELECT p.event_id,
           CASE
             WHEN b.b_ts IS NULL AND f.f_ts IS NULL THEN NULL
             WHEN f.f_ts IS NULL THEN b.b_ts
             WHEN b.b_ts IS NULL THEN f.f_ts
             WHEN epoch_us(CAST(p.ts AS TIMESTAMP)) - b.b_ts
                  <= f.f_ts - epoch_us(CAST(p.ts AS TIMESTAMP)) THEN b.b_ts
             ELSE f.f_ts
           END AS nearest_ts_us,
           CASE
             WHEN b.b_ts IS NULL AND f.f_ts IS NULL THEN NULL
             WHEN f.f_ts IS NULL THEN b.b_val
             WHEN b.b_ts IS NULL THEN f.f_val
             WHEN epoch_us(CAST(p.ts AS TIMESTAMP)) - b.b_ts
                  <= f.f_ts - epoch_us(CAST(p.ts AS TIMESTAMP)) THEN b.b_val
             ELSE f.f_val
           END AS nearest_value
    FROM p
    LEFT JOIN back b ON b.event_id = p.event_id
    LEFT JOIN fwd f ON f.event_id = p.event_id
    """,
    tags=("join", "eventtime"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (pandas ``merge_asof(direction='nearest')``):
    each purchase matches its closest click in EITHER time direction,
    backward winning ties — the sensor-alignment semantic neither
    native ASOF direction covers. Composed from the two single-shuffle
    as-of passes (backward + forward, both purchase-grain) merged on
    the left key with the |Δt| argmin decided per row — still a
    constant number of shuffles, no time-pair blowup. The oracle
    composes DuckDB's two native ASOF directions with the identical
    pick rule. Click side pre-collapsed per (user_id, ts) as in
    join_asof (ADVICE r3: DuckDB ASOF boundary-tie arbitrariness)."""
    from ..operators.joins import asof_join_backward, asof_join_forward

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase")
    c = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("c_val"))
        .select("user_id", "ts", F.col("ts").alias("c_ts"), "c_val")
    )
    back = asof_join_backward(
        p, c, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["c_ts", "c_val"], tiebreak=["event_id"],
    ).select(
        "event_id",
        F.col("ts").alias("p_ts"),
        F.unix_micros("c_ts").alias("b_ts"),
        F.round("c_val", 4).alias("b_val"),
    )
    fwd = asof_join_forward(
        p, c, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["c_ts", "c_val"], tiebreak=["event_id"],
    ).select(
        "event_id",
        F.unix_micros("c_ts").alias("f_ts"),
        F.round("c_val", 4).alias("f_val"),
    )
    j = back.join(fwd, "event_id", "left")
    p_us = F.unix_micros("p_ts")
    take_back = (
        F.col("f_ts").isNull()
        | (F.col("b_ts").isNotNull() & ((p_us - F.col("b_ts")) <= (F.col("f_ts") - p_us)))
    )
    return j.select(
        "event_id",
        F.when(take_back, F.col("b_ts")).otherwise(F.col("f_ts")).alias(
            "nearest_ts_us"
        ),
        F.when(take_back, F.col("b_val")).otherwise(F.col("f_val")).alias(
            "nearest_value"
        ),
    )


@register(
    "events_pattern_seq",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2,
             LEAD(event_id, 2) OVER w AS end_event_id,
             LEAD(epoch_us(CAST(ts AS TIMESTAMP)), 2) OVER w AS end_ts_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS start_event_id, end_event_id,
           CAST((end_ts_us - ts_us) // 1000000 AS BIGINT) AS span_sec
    FROM o
    WHERE event_type = 'click' AND t1 = 'click' AND t2 = 'purchase'
      AND end_ts_us - ts_us <= CAST(86400 AS BIGINT) * 1000000
    """,
    tags=("eventtime", "events"),
)
def events_pattern_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style sequence detection (the Flink-CEP shape, relationally):
    the strict-contiguity pattern click→click→purchase within 24 h,
    matched with LEAD offsets over each user's time-ordered stream —
    one window pass, no self-joins (a k-step pattern is k-1 LEADs, not
    a k-way join; at 100 TB the difference is one shuffle vs k). Spark
    and DuckDB run the same windowed predicate."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    o = e.select(
        "user_id",
        "event_id",
        "event_type",
        ts_us.alias("ts_us"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("event_id", 2).over(w).alias("end_event_id"),
        F.lead(ts_us, 2).over(w).alias("end_ts_us"),
    )
    return o.filter(
        (F.col("event_type") == "click")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
        & (F.col("end_ts_us") - F.col("ts_us") <= 86400 * 1_000_000)
    ).select(
        "user_id",
        F.col("event_id").alias("start_event_id"),
        "end_event_id",
        # floor div on BOTH sides: double-division + CAST rounds half-to-
        # even in DuckDB but truncates in Spark — off-by-one on .5s spans
        F.floor((F.col("end_ts_us") - F.col("ts_us")) / 1_000_000)
        .cast("bigint")
        .alias("span_sec"),
    )


@register(
    "scalar_collation",
    oracle="""
    WITH m AS (
      SELECT lang,
             CASE WHEN doc_id % 2 = 0 THEN UPPER(source) ELSE source END
               AS mixed
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(DISTINCT mixed) AS BIGINT) AS n_case_sensitive,
           CAST(COUNT(DISTINCT LOWER(mixed)) AS BIGINT) AS n_case_insensitive,
           CAST(COUNT(*) FILTER (WHERE LOWER(mixed) = 'src1') AS BIGINT)
             AS n_src1_ci
    FROM m GROUP BY lang
    """,
    tags=("scalar", "string"),
)
def scalar_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String COLLATION (Spark 4): distinct counts and equality under
    UNICODE_CI — collation-aware semantics pushed into the ENGINE's
    comparators (hash/sort operators use the collation key directly)
    instead of wrapping every column in lower() at every use site.
    The oracle expresses the same semantics with explicit LOWER() —
    collated distinct/equality must agree exactly with the normalize-
    then-compare formulation. Case diversity is injected
    deterministically (doc_id parity)."""
    docs = _t(spark, sf_dir, "documents")
    mixed = F.when(
        F.col("doc_id") % 2 == 0, F.upper(F.col("source"))
    ).otherwise(F.col("source"))
    m = docs.select("lang", mixed.alias("mixed"))
    ci = F.collate(F.col("mixed"), "UNICODE_CI")
    return m.groupBy("lang").agg(
        F.countDistinct("mixed").alias("n_case_sensitive"),
        F.countDistinct(ci).alias("n_case_insensitive"),
        F.count(F.when(ci == F.lit("src1"), 1)).alias("n_src1_ci"),
    )


@register(
    "scalar_xml",
    oracle="""
    SELECT o_orderkey, o_orderpriority AS pri,
           ROUND(o_totalprice, 2) AS price
    FROM orders
    """,
    tags=("scalar", "xml"),
)
def scalar_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML serialize/parse roundtrip (``to_xml`` → ``from_xml`` with an
    explicit schema): every orders row survives the format conversion
    bit-exactly, verified by the identity oracle on the source table.
    The XML reader is schema-on-read like from_json/from_csv — the
    scan shape for XML feeds at scale; all row-at-a-time work stays in
    JVM codegen (no Python)."""
    o = _t(spark, sf_dir, "orders")
    xml = o.select(
        F.to_xml(
            F.struct(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("p"),
                F.col("o_totalprice").alias("t"),
            )
        ).alias("doc")
    )
    parsed = xml.select(
        F.from_xml(F.col("doc"), "k BIGINT, p STRING, t DOUBLE").alias("s")
    )
    return parsed.select(
        F.col("s.k").alias("o_orderkey"),
        F.col("s.p").alias("pri"),
        F.round("s.t", 2).alias("price"),
    )


@register(
    "multimodal_dedup_hash",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0
    ),
    hashed AS (SELECT doc_id, md5(text) AS digest FROM corpus),
    grp AS (
      SELECT digest, MIN(doc_id) AS rep_doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM hashed GROUP BY digest
    )
    SELECT rep_doc_id, n_copies, digest FROM grp WHERE n_copies > 1
    """,
    tags=("multimodal", "dedup"),
)
def multimodal_dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BINARY-content dedup for media tables: payloads dedupe on
    their md5 content digest — the first pass of every multimodal
    pipeline (identical bytes re-crawled under different ids), running
    entirely on the 16-byte digest so the shuffle never carries
    payloads (at 100 TB the digests are ~0.0001% of the media bytes;
    group-by-digest + min-id representative is the same keep-first
    shape as dedup_exact). Re-crawls are simulated by re-ingesting
    every 5th document under a shifted id; the oracle md5s the same
    utf-8 bytes (Spark md5(binary) ≡ DuckDB md5(text) for utf-8
    payloads)."""
    from ..operators.multimodal import to_media_table

    docs = _t(spark, sf_dir, "documents")
    recrawl = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    corpus = docs.unionByName(recrawl)
    media = to_media_table(corpus)
    grp = media.groupBy(F.col("meta.content_md5").alias("digest")).agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return grp.filter(F.col("n_copies") > 1).select(
        "rep_doc_id", "n_copies", "digest"
    )


@register(
    "join_point_in_time",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             CASE WHEN lag(event_type) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id)
                       IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events WHERE event_type <> 'purchase'
    ), r AS (
      SELECT user_id, event_type, t, event_id,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM s
    ), runs AS (
      SELECT user_id, event_type AS state,
             CAST(MIN(t) AS BIGINT) AS valid_from
      FROM r GROUP BY user_id, event_type, grp
    ),
    p AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, runs.state AS state_at_event,
           runs.valid_from AS state_since_us
    FROM p ASOF LEFT JOIN runs
      ON p.user_id = runs.user_id AND runs.valid_from <= p.t
    """,
    tags=("join", "eventtime", "scd2"),
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME correct join (the feature-store primitive): each
    purchase event reads the SCD2 state dimension AS OF its own
    timestamp — never a later state (label leakage) and never missing
    the concurrent one. Implemented as the backward as-of join of the
    purchase stream against the interval starts, so the temporal
    containment needs NO range predicate at all: intervals per user
    are contiguous, so "greatest valid_from ≤ t" IS the containing
    interval — one shuffle, no interval explosion. The DIMENSION is
    built from the non-purchase events only (status stream) and the
    purchases are the FACT stream — joining facts against a history
    containing themselves degenerates to self-lookup. A purchase
    before any status event carries NULL state (left as-of). The
    oracle rebuilds the same SCD2 runs and uses DuckDB's native
    ASOF LEFT."""
    from ..operators.joins import asof_join_backward

    e = _t(spark, sf_dir, "events")
    status = e.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = status.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t"),
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0).alias("chg"),
    )
    r = s.withColumn(
        "grp",
        F.sum("chg").over(
            Window.partitionBy("user_id")
            .orderBy("t", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = r.groupBy("user_id", F.col("event_type").alias("state"), "grp").agg(
        F.min("t").alias("valid_from")
    )
    intervals = runs.select(
        "user_id",
        F.col("valid_from").alias("iv_t"),
        "state",
        F.col("valid_from").alias("vfrom"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t")
    )
    out = asof_join_backward(
        purchases,
        intervals,
        on=["user_id"],
        left_ts="t",
        right_ts="iv_t",
        value_cols=["state", "vfrom"],
        tiebreak=["event_id"],
    )
    return out.select(
        "event_id",
        F.col("state").alias("state_at_event"),
        F.col("vfrom").alias("state_since_us"),
    )


@register(
    "events_rfm",
    oracle="""
    WITH mx AS (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS now_us
                FROM events),
    base AS (
      SELECT user_id,
             CAST((mx.now_us - MAX(epoch_us(CAST(ts AS TIMESTAMP))))
                  // 86400000000 AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END), 4) AS monetary
      FROM events, mx GROUP BY user_id, mx.now_us
    )
    SELECT user_id, recency_days, frequency, monetary,
           CAST(NTILE(4) OVER (ORDER BY recency_days ASC, user_id)
                AS INTEGER) AS r_quartile,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id)
                AS INTEGER) AS f_quartile,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, user_id)
                AS INTEGER) AS m_quartile
    FROM base
    """,
    tags=("events", "agg", "window"),
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary + NTILE
    quartiles) — the standard customer-scoring composite: one hash
    aggregate to user grain, a one-row MAX broadcast as "now", then
    three exact NTILEs over the user-sized frame. The NTILEs run
    DISTRIBUTED (operators/ranking.py): repartitionByRange on each
    sort key + per-partition row_number + broadcast partition-offset
    table — identical integer output to the single-partition window,
    but the sort scales past the 10⁹-user grain where one sorted
    partition becomes the bottleneck (VERDICT r3 plan item). user_id
    tiebreaks make quartile boundaries deterministic. Floor-div for
    day buckets on both engines."""
    e = _t(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    now = e.agg(F.max(ts_us).alias("now_us"))
    base = (
        e.groupBy("user_id")
        .agg(
            F.max(ts_us).alias("last_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                    .otherwise(0.0)
                ),
                4,
            ).alias("monetary"),
        )
        .join(F.broadcast(now))
        .select(
            "user_id",
            F.floor((F.col("now_us") - F.col("last_us")) / 86_400_000_000)
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    from ..operators.ranking import with_global_ntile

    out = with_global_ntile(
        base, [F.col("recency_days").asc(), F.col("user_id")], 4, "r_quartile"
    )
    out = with_global_ntile(
        out, [F.col("frequency").desc(), F.col("user_id")], 4, "f_quartile"
    )
    out = with_global_ntile(
        out, [F.col("monetary").desc(), F.col("user_id")], 4, "m_quartile"
    )
    return out.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )


@register(
    "mining_cooccurrence",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS support
    FROM pairs GROUP BY part_a, part_b
    HAVING COUNT(*) >= 2
    """,
    tags=("mining", "join"),
)
def mining_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining (the candidate-pair stage of
    association-rule mining): item pairs co-purchased in the same
    order, counted across orders, support-thresholded. Baskets are
    COLLECTED per order (collect_set — the ~7-item TPC-H basket keeps
    the array tiny) and ordered pairs are generated MAP-SIDE from the
    sorted item array, so the whole key costs TWO shuffles (basket
    grain, then pair grain) with no self-join at all. The r5 shape —
    distinct + basket-keyed self-join — cost four shuffles and fell
    off the broadcast cliff into a sort-merge join at 10× data
    (probe: 4.52×); this formulation re-probed 2.27× at 10× data
    (SCALE_PROBE.json — the sf0.1 wall is mostly scheduling floor;
    per-row work is linear). The a < b
    ordering halves the pair space and canonicalizes the pair; the
    support HAVING is applied in the same aggregate that counts, so
    sub-threshold pairs die in the map-side combine, not a second
    pass."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
    )
    arr = F.col("items")
    pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ),
    lm AS (
      SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM toks GROUP BY tok
    ),
    tot AS (SELECT SUM(c) AS n FROM lm)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-LN(lm.c / tot.n)), 4) AS avg_neg_logprob
    FROM toks t JOIN lm ON t.tok = lm.tok CROSS JOIN tot
    GROUP BY t.doc_id
    """,
    tags=("text", "llm"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM fluency scoring (the CCNet/Gopher-style quality
    filter shape, with the corpus itself as the LM): per-document mean
    negative log-probability under corpus unigram frequencies. Two
    aggregates + one join: the LM table is VOCAB-sized (broadcast — at
    100 TB vocab ≪ corpus), the total is a one-row cross join, and
    scoring is a map-side lookup per token. Docs full of rare tokens
    score high (gibberish screen), boilerplate scores low — the
    cheap distributed proxy where a real LM is too expensive to run
    corpus-wide."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    lm = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = lm.agg(F.sum("c").alias("n"))
    return (
        toks.join(F.broadcast(lm), "tok")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 4).alias(
                "avg_neg_logprob"
            ),
        )
    )


@register(
    "scalar_decimal",
    oracle="""
    SELECT o_orderpriority AS pri,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS VARCHAR)
             AS exact_total,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("scalar", "agg"),
)
def scalar_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT money arithmetic with DECIMAL(18,2): the sum of ~3000
    prices per group is bit-exact and ORDER-INDEPENDENT — no float
    summation noise, no .xx5 rounding divergence — so the oracle
    compares the full-precision total as a STRING, something the
    double path fundamentally cannot promise (its engines disagree in
    the last ulps and need the 6 dp rounding escape hatch). Spark
    widens decimal sums to (28,2) internally and map-side combines
    them like any other aggregate; the scale story is unchanged from
    double sums, only overflow-checked."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("string")
        .alias("exact_total"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "events_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT CASE WHEN ud.d = days.d
                                    THEN ud.user_id END) AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT CASE WHEN ud.d > days.d - 7
                                    THEN ud.user_id END) AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS mau
    FROM days JOIN ud
      ON ud.d <= days.d AND ud.d > days.d - 28
    GROUP BY days.d
    """,
    tags=("events", "agg"),
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU — trailing-window DISTINCT users per day, the
    engagement report every product pipeline ships. Computed on the
    DEDUPED (user, day) grid (event-grain collapses first: the grid is
    |users|×|days| ≪ |events|), then one bounded range join fans each
    user-day into the ≤28 report days it supports, and conditional
    COUNT(DISTINCT CASE …) folds all three horizons in a single
    aggregate — one pass, not three. At 100 TB the fan-out is a
    constant ×28 of the tiny grid, never of raw events, and the spine
    join is a broadcast EQUALITY join (plan-checked: no BNLJ)."""
    e = _t(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select("d").distinct().select(F.col("d").alias("day_d"))
    # explode each user-day into the <=28 report days it supports: a
    # MAP-SIDE fan-out + broadcast EQUALITY join with the observed-day
    # spine — no BroadcastNestedLoopJoin range scan (the first draft's
    # keyless range join planned as BNLJ; equality keeps the join
    # hash-based however large the grid grows)
    fan = ud.select(
        "user_id",
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("i"),
    ).select("user_id", "d", "i", F.expr("date_add(d, i)").alias("day_d"))
    j = fan.join(F.broadcast(days), "day_d")
    return (
        j.groupBy("day_d")
        .agg(
            F.countDistinct(F.when(F.col("i") == 0, F.col("user_id"))).alias(
                "dau"
            ),
            F.countDistinct(F.when(F.col("i") < 7, F.col("user_id"))).alias(
                "wau"
            ),
            F.countDistinct("user_id").alias("mau"),
        )
        .select(
            F.date_format("day_d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "mau",
        )
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id, UNNEST(v) AS x, generate_subscripts(v, 1) AS dim
      FROM v
    ),
    st AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim),
    q AS (
      SELECT e.vec_id, e.dim, e.x, st.mn, st.mx,
             FLOOR((e.x - st.mn) / (st.mx - st.mn) * 255 + 0.5) AS code
      FROM ex e JOIN st USING (dim)
    ),
    r AS (
      SELECT vec_id, dim, code,
             x - (mn + code / 255 * (mx - mn)) AS err
      FROM q
    )
    SELECT vec_id,
           CAST(MAX(CASE WHEN dim = 1 THEN code END) AS BIGINT) AS code0,
           CAST(MAX(CASE WHEN dim = 64 THEN code END) AS BIGINT) AS code63,
           ROUND(AVG(err * err) * 1000000, 3) AS mse_ppm
    FROM r GROUP BY vec_id
    """,
    tags=("similarity", "llm"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 scalar quantization of the embedding corpus — the 4×
    footprint cut every vector store applies before ANN: per-dimension
    [min, max] ranges (64-row stats table, broadcast), codes =
    half-up-rounded 0..255 bins (explicit FLOOR(x·255 + .5) so both
    engines round identically — bare round() is half-up in Spark,
    half-even in DuckDB), and per-vector reconstruction MSE as the
    quality audit. Fully distributed: explode to (vec, dim) grain,
    broadcast-join the stats, re-aggregate — the corpus never
    collects, and at 100 TB the stats table stays 64 rows whatever
    the row count."""
    e = _t(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    )
    st = v.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    q = v.join(F.broadcast(st), "dim").withColumn(
        "code",
        F.floor((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255 + 0.5),
    )
    r = q.withColumn(
        "err",
        F.col("x") - (F.col("mn") + F.col("code") / 255 * (F.col("mx") - F.col("mn"))),
    )
    return r.groupBy("vec_id").agg(
        F.max(F.when(F.col("dim") == 0, F.col("code"))).cast("bigint").alias("code0"),
        F.max(F.when(F.col("dim") == 63, F.col("code"))).cast("bigint").alias("code63"),
        F.round(F.avg(F.col("err") * F.col("err")) * 1_000_000, 3).alias("mse_ppm"),
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, l_extendedprice AS val, l_quantity AS w,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice, l_orderkey,
                                            l_linenumber
                                   ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    ),
    px AS (
      SELECT l_returnflag, val,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY cw, val) AS rn
      FROM s WHERE cw >= tw / 2
    )
    SELECT l_returnflag, ROUND(val, 2) AS weighted_median
    FROM px WHERE rn = 1
    """,
    tags=("agg", "window"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median (lower weighted median: smallest value whose
    cumulative weight reaches half the total). Neither engine has a
    native weighted percentile; the ORACLE keeps the one-window
    cumulative-weight formulation, while the Spark side runs the
    DISTRIBUTED two-phase shape (r7 probe catch #8):

    the original single window partitioned the WHOLE table by
    l_returnflag — 3 partitions, so one task sorted and prefix-summed
    a third of the dataset (probe: 6.3× wall at 10× data; at 100 TB
    one task owns ~33 TB). Now phase 1 is a fully parallel hash
    aggregate of weights at (group, fixed-width price bucket) grain;
    phase 2 prefix-sums the ~100 bucket rows per group (tiny window)
    and finds the bucket where the cumulative weight crosses tw/2;
    phase 3 broadcast-joins the crossing bucket back and runs the
    exact sorted prefix scan over ONLY that bucket's rows (~1% of a
    group). Weights are integer-valued (TPC-H quantities), so every
    cumulative sum is exact in doubles and the crossing decisions are
    bit-identical to the one-window formulation — same result, same
    tie-breaks (value ties share a bucket, where the original
    orderkey/linenumber ordering applies unchanged). Re-probed 1.18×
    at 10× data (was 6.3×)."""
    li = _t(spark, sf_dir, "lineitem")
    bkt = F.floor(F.col("l_extendedprice") / 1000).alias("bkt")
    ph1 = li.groupBy("l_returnflag", bkt).agg(
        F.sum("l_quantity").alias("bw")
    )
    wb = Window.partitionBy("l_returnflag").orderBy("bkt")
    cum = ph1.select(
        "l_returnflag",
        "bkt",
        "bw",
        F.sum("bw").over(wb.rowsBetween(Window.unboundedPreceding, 0)).alias("cumw"),
        F.sum("bw").over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    cross = (
        cum.filter(F.col("cumw") >= F.col("tw") / 2)
        .groupBy("l_returnflag")
        .agg(
            F.min_by(
                F.struct(
                    F.col("bkt").alias("bkt"),
                    (F.col("cumw") - F.col("bw")).alias("prev_cum"),
                    F.col("tw").alias("tw"),
                ),
                F.col("bkt"),
            ).alias("c")
        )
        .select(
            F.col("l_returnflag").alias("cf"),
            F.col("c.bkt").alias("cbkt"),
            F.col("c.prev_cum").alias("prev_cum"),
            F.col("c.tw").alias("tw"),
        )
    )
    wsort = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    sel = li.join(
        F.broadcast(cross),
        (F.col("l_returnflag") == F.col("cf"))
        & (F.floor(F.col("l_extendedprice") / 1000) == F.col("cbkt")),
    ).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("val"),
        (
            F.col("prev_cum")
            + F.sum("l_quantity").over(
                wsort.rowsBetween(Window.unboundedPreceding, 0)
            )
        ).alias("cw"),
        "tw",
    )
    px = sel.filter(F.col("cw") >= F.col("tw") / 2).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_returnflag").orderBy("cw", "val")
        ),
    )
    return px.filter(F.col("rn") == 1).select(
        "l_returnflag", F.round("val", 2).alias("weighted_median")
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH sess AS (
      SELECT user_id, event_type, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                         (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id)
                       > 21600000000 OR
                  LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                         (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE event_type IN ('click', 'error')
    ),
    g AS (
      SELECT user_id, event_type, t,
             SUM(new_s) OVER (PARTITION BY user_id, event_type
                              ORDER BY t, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM sess
    ),
    iv AS (
      SELECT user_id, event_type, sid,
             MIN(t) AS s_from, MAX(t) AS s_to
      FROM g GROUP BY user_id, event_type, sid
    )
    SELECT c.user_id,
           CAST(c.sid AS BIGINT) AS click_sid,
           CAST(e.sid AS BIGINT) AS error_sid,
           CAST(LEAST(c.s_to, e.s_to) - GREATEST(c.s_from, e.s_from)
                AS BIGINT) AS overlap_us
    FROM iv c JOIN iv e
      ON c.user_id = e.user_id
     AND c.event_type = 'click' AND e.event_type = 'error'
     AND c.s_from <= e.s_to AND e.s_from <= c.s_to
    """,
    tags=("join", "eventtime"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP join: 6h-gap click sessions × error sessions
    per user, emitting every overlapping pair with its overlap length
    — "did errors cluster inside active sessions?". Both interval
    sets derive from one gaps-and-islands pass (shared user shuffle);
    the overlap join keys on user_id EQUALITY so the range predicate
    only filters within user-sized groups — never a global
    interval×interval nested loop (the binned-range-join fallback
    covers keyless interval joins; here the natural key bounds it
    better). Session grain ≪ event grain before the join."""
    e = _t(spark, sf_dir, "events")
    ev = e.filter(F.col("event_type").isin("click", "error"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    s = ev.select(
        "user_id",
        "event_type",
        "event_id",
        t.alias("t"),
        F.when(
            F.lag(t).over(w).isNull() | ((t - F.lag(t).over(w)) > 21_600_000_000),
            1,
        ).otherwise(0).alias("new_s"),
    )
    g = s.withColumn(
        "sid",
        F.sum("new_s").over(
            Window.partitionBy("user_id", "event_type")
            .orderBy("t", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    iv = g.groupBy("user_id", "event_type", "sid").agg(
        F.min("t").alias("s_from"), F.max("t").alias("s_to")
    )
    c = iv.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("sid").alias("click_sid"),
        F.col("s_from").alias("c_from"),
        F.col("s_to").alias("c_to"),
    )
    er = iv.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("sid").alias("error_sid"),
        F.col("s_from").alias("e_from"),
        F.col("s_to").alias("e_to"),
    )
    j = c.join(
        er,
        (F.col("user_id") == F.col("e_user"))
        & (F.col("c_from") <= F.col("e_to"))
        & (F.col("e_from") <= F.col("c_to")),
    )
    return j.select(
        "user_id",
        "click_sid",
        "error_sid",
        (
            F.least("c_to", "e_to") - F.greatest("c_from", "e_from")
        ).cast("bigint").alias("overlap_us"),
    )


@register(
    "dedup_incremental",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS digest FROM documents
      WHERE doc_id % 4 <> 0
    ),
    batch AS (
      SELECT doc_id + 20000 AS new_id, doc_id AS orig_id, md5(text) AS digest
      FROM documents WHERE doc_id % 2 = 0
    ),
    in_batch_first AS (
      SELECT new_id, digest FROM (
        SELECT new_id, digest,
               ROW_NUMBER() OVER (PARTITION BY digest ORDER BY new_id) AS rn
        FROM batch) WHERE rn = 1
    )
    SELECT b.new_id, b.digest,
           CASE WHEN c.digest IS NOT NULL THEN 'dup_of_corpus'
                WHEN f.new_id IS NULL THEN 'dup_in_batch'
                ELSE 'new' END AS verdict
    FROM batch b
    LEFT JOIN corpus c ON c.digest = b.digest
    LEFT JOIN in_batch_first f
      ON f.digest = b.digest AND f.new_id = b.new_id
    """,
    tags=("dedup", "llm"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingest dedup — the daily-batch shape: a new batch
    dedupes against the EXISTING corpus digest index (never the corpus
    text: at 100 TB the index is 16-byte digests, broadcast- or
    shuffle-joinable) and against ITSELF (keep-first window), with a
    three-way verdict per document (new / dup_of_corpus /
    dup_in_batch). Corpus = docs with id%4≠0; batch = docs with id%2=0
    re-ingested under shifted ids — so the batch contains both
    corpus-known and batch-internal dups deterministically. The full
    corpus is scanned ONCE to build the digest index; each increment
    touches only its own rows plus the index."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0).select(
        F.md5(F.encode("text", "utf-8")).alias("c_digest")
    ).distinct()
    batch = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 20000).alias("new_id"),
        F.md5(F.encode("text", "utf-8")).alias("digest"),
    )
    w = Window.partitionBy("digest").orderBy("new_id")
    marked = batch.withColumn("rn", F.row_number().over(w))
    return (
        marked.join(
            F.broadcast(corpus), marked.digest == corpus.c_digest, "left"
        )
        .select(
            "new_id",
            "digest",
            F.when(F.col("c_digest").isNotNull(), "dup_of_corpus")
            .when(F.col("rn") > 1, "dup_in_batch")
            .otherwise("new")
            .alias("verdict"),
        )
    )


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderpriority AS pri,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(discount_pct) AS BIGINT) AS n_with_discount,
           ROUND(SUM(COALESCE(discount_pct, 0.0)), 2) AS total_discount
    FROM (
      SELECT o_orderpriority, NULL::DOUBLE AS discount_pct
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderpriority, ROUND(o_totalprice / 10000, 2) AS discount_pct
      FROM orders WHERE o_orderkey % 2 = 1
    ) GROUP BY pri
    """,
    tags=("scan", "schema"),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet SCHEMA EVOLUTION (mergeSchema): generation-1 files lack
    a column that generation-2 files carry — the normal state of any
    long-lived 100 TB table. Both generations are written to one
    directory, read back with ``mergeSchema=true``, and the old rows
    surface the new column as NULL — the audit aggregate counts
    nulls-vs-present and must match recomputing from the unioned
    source. Schema merge happens at PLANNING time (footer union);
    per-file projections adapt at scan, no rewrite of old files."""
    o = _t(spark, sf_dir, "orders")
    out = scratch_dir("schema_evo") + "/orders_evo"
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderpriority"
    )
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") / 10000, 2).alias("discount_pct"),
    )
    gen1.write.mode("overwrite").parquet(out + "/gen=1")
    gen2.write.mode("overwrite").parquet(out + "/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("discount_pct").alias("n_with_discount"),
        F.round(F.sum(F.coalesce("discount_pct", F.lit(0.0))), 2).alias(
            "total_discount"
        ),
    )


@register(
    "events_cohort_ltv",
    oracle="""
    WITH cohort AS (
      SELECT user_id,
             MIN(CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE))
               AS c_week
      FROM events GROUP BY user_id
    ),
    weekly AS (
      SELECT e.user_id, c.c_week,
             CAST((CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE)
                   - c.c_week) // 7 AS BIGINT) AS week_off,
             SUM(CASE WHEN e.event_type = 'purchase' THEN e.value
                      ELSE 0 END) AS rev
      FROM events e JOIN cohort c ON e.user_id = c.user_id
      GROUP BY 1, 2, 3
    ),
    curve AS (
      SELECT c_week, week_off, SUM(rev) AS w_rev,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
      FROM weekly GROUP BY 1, 2
    )
    SELECT strftime(c_week, '%Y-%m-%d') AS cohort_week, week_off,
           active_users,
           ROUND(SUM(w_rev) OVER (PARTITION BY c_week ORDER BY week_off
                                  ROWS UNBOUNDED PRECEDING), 4)
             AS cum_revenue
    FROM curve
    """,
    tags=("events", "agg", "window"),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: users cohorted by first-seen week, revenue
    accumulated per (cohort, weeks-since) cell, running-summed into
    the cumulative-revenue curve every growth team plots. Three
    grain-collapsing aggregates (event → user-week → cohort-week)
    before the window, so the running sum runs over curve-sized rows;
    the cohort map joins back user-keyed (broadcast at dim scale).
    Week arithmetic is integer day-diff // 7 on both engines — no
    month-length ambiguity."""
    e = _t(spark, sf_dir, "events")
    wk = F.to_date(F.date_trunc("week", F.col("ts")))
    cohort = e.groupBy("user_id").agg(F.min(wk).alias("c_week"))
    weekly = (
        e.join(cohort, "user_id")
        .groupBy(
            "user_id",
            "c_week",
            F.floor(F.datediff(wk, F.col("c_week")) / 7)
            .cast("bigint")
            .alias("week_off"),
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0.0)
            ).alias("rev")
        )
    )
    curve = weekly.groupBy("c_week", "week_off").agg(
        F.sum("rev").alias("w_rev"),
        F.countDistinct("user_id").alias("active_users"),
    )
    w = (
        Window.partitionBy("c_week")
        .orderBy("week_off")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return curve.select(
        F.date_format("c_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_off",
        "active_users",
        F.round(F.sum("w_rev").over(w), 4).alias("cum_revenue"),
    )


@register(
    "events_attribution_linear",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t
      FROM events WHERE event_type = 'click'
    ),
    touch AS (
      SELECT p.event_id, p.value, c.click_id,
             CAST(COUNT(*) OVER (PARTITION BY p.event_id) AS BIGINT)
               AS n_touches
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.t <= p.t
       AND c.t > p.t - CAST(86400 AS BIGINT) * 7 * 1000000
    )
    SELECT click_id,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           SUM(CAST(FLOOR((value / n_touches) * 1000000) AS BIGINT))
             / 1000000.0 AS attributed_value
    FROM touch GROUP BY click_id
    """,
    tags=("events", "join", "eventtime"),
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution: each purchase's value splits
    equally across every click in its trailing 7-day window, then
    credit aggregates per click — the ad-tech revenue-allocation shape
    (last-touch is join_asof; this is the many-to-many generalization).
    The time-bounded join keys on user EQUALITY so the fan-out is
    per-user touches-within-window, never a global range join; the
    per-purchase touch count is a window over the already-joined
    pairs (no second join). Credits are conserved: sum(attributed) =
    sum(attributed purchases' values), pinned by pytest."""
    e = _t(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value", t_us.alias("t")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        t_us.alias("c_t"),
    )
    touch = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_t") <= F.col("t"))
        & (F.col("c_t") > F.col("t") - 7 * 86_400 * 1_000_000),
    ).select(
        "event_id",
        "value",
        "click_id",
        F.count(F.lit(1)).over(Window.partitionBy("event_id")).alias("n_touches"),
    )
    # Per-click credits quantize to integer MICRO-UNITS via FLOOR before
    # the sum: FLOOR has no halfway semantics (unlike half-up vs
    # half-even ROUND) so identical input doubles floor identically in
    # both engines, BIGINT sums are exact, and the single final divide
    # is deterministic — immune to float fold-order noise, unlike
    # post-sum ROUND which flips on .xxxx5 boundaries.
    credit_u = F.floor((F.col("value") / F.col("n_touches")) * 1_000_000)
    return touch.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        (F.sum(credit_u) / 1_000_000.0).alias("attributed_value"),
    )


@register(
    "scan_binary_files",
    oracle="""
    WITH sel AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(MIN(strlen(text)) AS BIGINT) AS min_bytes,
           CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes
    FROM sel
    """,
    tags=("scan", "multimodal"),
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` ingestion — the raw-media on-ramp: every file in
    a landing directory becomes one row of (path, length, content)
    with NO parsing, the first hop for images/audio before any decode
    UDF. A deterministic subset of documents is written out as one
    .bin file each (utf-8 payloads), read back via
    format("binaryFile"), and audited on count + byte totals against
    the source rows. At scale the reader parallelizes per file and
    prunes on path/length WITHOUT touching content bytes (the content
    column loads lazily per matched file)."""
    import os

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    base = scratch_dir("binfiles")
    fdir = base + "/blobs"
    os.makedirs(fdir, exist_ok=True)

    def _write_blobs(rows):  # executor-side: payload bytes never cross the driver
        install()
        import os as _os

        _os.makedirs(fdir, exist_ok=True)
        for r in rows:
            with open(f"{fdir}/doc_{r['doc_id']}.bin", "wb") as f:
                f.write(r["text"].encode("utf-8"))

    docs.select("doc_id", "text").foreachPartition(_write_blobs)
    back = spark.read.format("binaryFile").load(fdir)
    return back.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("length").alias("total_bytes"),
        F.min("length").alias("min_bytes"),
        F.max("length").alias("max_bytes"),
    )


@register(
    "udf_arrow_optimized",
    oracle="""
    SELECT o_orderkey,
           UPPER(o_orderpriority) AS pri_upper,
           o_totalprice * 0.25 AS quarter_price
    FROM orders
    """,
    tags=("udf",),
)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED scalar Python UDF (Spark 4 ``useArrow=True``):
    same row-wise Python semantics as a classic pickled UDF but the
    batch transport is Arrow — measured 1.5-2× faster serialization
    and type coercions that match pandas_udf. Kept OUT of hot paths
    per the repo UDF policy (built-ins first); registered here as the
    API-surface key, oracled against the built-in-equivalent SQL the
    UDFs reimplement. In-function defs ship by value to workers."""
    from pyspark.sql.functions import udf

    @udf(returnType="string", useArrow=True)
    def py_upper(s: str) -> str:
        install()
        return s.upper() if s is not None else None

    @udf(returnType="double", useArrow=True)
    def py_quarter(x: float) -> float:
        install()
        # x*0.25 is an exact power-of-two scale — bit-identical across
        # engines; Python round() is half-even vs DuckDB half-up, so no
        # in-UDF rounding (repo float discipline)
        return x * 0.25 if x is not None else None

    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        py_upper(F.col("o_orderpriority")).alias("pri_upper"),
        py_quarter(F.col("o_totalprice")).alias("quarter_price"),
    )


@register(
    "dedup_threshold_histogram",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
               i -> array_to_string(string_split(text,' ')[i:i+2], ' ')
             )) AS sh
      FROM documents
    ),
    pairs AS (
      SELECT len(list_intersect(a.sh, b.sh))
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
               AS j
      FROM d a JOIN d b ON a.doc_id < b.doc_id
    )
    SELECT CAST(FLOOR(j * 20) AS INTEGER) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs WHERE j >= 0.5
    GROUP BY 1
    """,
    tags=("dedup", "llm"),
)
def dedup_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-TUNING histogram: the similarity distribution of
    candidate pairs in 0.05-wide Jaccard bands above 0.5 — the
    diagnostic that picks a dedup threshold from data (a bimodal
    histogram separates boilerplate twins from organic overlap)
    instead of folklore 0.8. One prefix-filtered candidate pass at the
    LOWEST band of interest serves every band above it (prefix
    filtering is complete for J ≥ t, so t=0.5 candidates contain all
    higher bands); the naive-all-pairs oracle confirms no band lost
    pairs. Band edges floor identical IEEE doubles on both engines."""
    from ..operators import dedup as DD

    docs = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    return (
        pairs.select(
            F.floor(F.col("jaccard") * 20).cast("int").alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "orders_backlog_curve",
    oracle="""
    WITH placed AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS placed
      FROM orders GROUP BY 1
    ),
    completed AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS completed FROM (
        SELECT l_orderkey, CAST(MAX(l_shipdate) AS DATE) AS day
        FROM lineitem GROUP BY l_orderkey
      ) GROUP BY day
    ),
    flow AS (
      SELECT COALESCE(p.day, c.day) AS day,
             COALESCE(placed, 0) AS placed,
             COALESCE(completed, 0) AS completed
      FROM placed p FULL OUTER JOIN completed c ON p.day = c.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, placed, completed,
           CAST(SUM(placed - completed) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
    FROM flow
    """,
    tags=("eventtime", "window"),
)
def orders_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog-over-time curve (running net flow): +placed on order
    date, −completed on the order's LAST ship date, cumulative-summed
    over the merged day spine — the open-work inventory series every
    ops dashboard tracks. Both inflow and outflow collapse to
    day-grain aggregates BEFORE the full outer day merge, so the
    running-sum window runs single-partition over ~|days| rows — the
    one place a global ordered window is free. An order 'completes'
    when its last lineitem ships (MAX, not MIN)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    placed = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("placed")
    )
    completed = (
        li.groupBy("l_orderkey")
        .agg(F.to_date(F.max("l_shipdate")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("completed"))
    )
    flow = (
        placed.join(completed, "day", "full")
        .select(
            "day",
            F.coalesce("placed", F.lit(0)).alias("placed"),
            F.coalesce("completed", F.lit(0)).alias("completed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return flow.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "placed",
        "completed",
        F.sum(F.col("placed") - F.col("completed")).over(w).alias("backlog"),
    )


@register(
    "events_pareto_share",
    oracle="""
    WITH rev AS (
      SELECT user_id, SUM(value) AS revenue
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    tot AS (SELECT SUM(revenue) AS t FROM rev)
    SELECT user_id, ROUND(revenue, 4) AS revenue,
           CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, user_id)
                AS BIGINT) AS rnk,
           ROUND(SUM(revenue) OVER (ORDER BY revenue DESC, user_id
                                    ROWS UNBOUNDED PRECEDING) / tot.t, 6)
             AS cum_share
    FROM rev, tot
    """,
    tags=("events", "window"),
)
def events_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto revenue concentration: users ranked by purchase revenue
    with the cumulative share of total — the 80/20 curve (how many
    users until 80% of revenue). Rank and running sum run DISTRIBUTED
    (operators/ranking.py): repartitionByRange on (revenue desc,
    user_id) + per-partition window + broadcast partition-offset
    table — no single-partition sort at the 10⁹-user grain (VERDICT
    r3 plan item). The offset fold differs from a strictly-sequential
    global fold only below double-noise level — far inside the 6 dp
    rounding, pinned by the tri-scale gate. The total rides in as a
    one-row broadcast cross join."""
    from ..operators.ranking import with_global_rank_and_running_sum

    e = _t(spark, sf_dir, "events")
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum("value").alias("revenue"))
    )
    tot = rev.agg(F.sum("revenue").alias("t"))
    cum = with_global_rank_and_running_sum(
        rev, [F.col("revenue").desc(), F.col("user_id")], "revenue", "rnk", "__cum"
    )
    return (
        cum.join(F.broadcast(tot))
        .select(
            "user_id",
            F.round("revenue", 4).alias("revenue"),
            "rnk",
            F.round(F.col("__cum") / F.col("t"), 6).alias("cum_share"),
        )
    )


@register(
    "events_session_metrics",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                       > 21600000000 OR
                  LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    g AS (
      SELECT user_id, t,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    sess AS (
      SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
             (MAX(t) - MIN(t)) // 1000000 AS dur_sec
      FROM g GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounce,
           ROUND(AVG(n_events), 4) AS avg_events,
           ROUND(AVG(dur_sec), 2) AS avg_dur_sec,
           CAST(MAX(n_events) AS BIGINT) AS max_events
    FROM sess
    """,
    tags=("eventtime", "events"),
)
def events_session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-quality report over 6h-gap sessions: session count,
    bounce count (single-event sessions), mean length/duration, max
    length — the engagement summary downstream of any sessionization.
    One gaps-and-islands pass (single user shuffle) → session-grain
    aggregate → one global one-row summary; each stage collapses
    cardinality before the next, so the final aggregate sees
    session-grain rows only. Duration uses integer floor-div seconds
    on both engines."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    s = e.select(
        "user_id",
        "event_id",
        t.alias("t"),
        F.when(
            F.lag(t).over(w).isNull() | ((t - F.lag(t).over(w)) > 21_600_000_000),
            1,
        ).otherwise(0).alias("new_s"),
    )
    g = s.withColumn(
        "sid",
        F.sum("new_s").over(
            Window.partitionBy("user_id")
            .orderBy("t", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sess = g.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor((F.max("t") - F.min("t")) / 1_000_000).alias("dur_sec"),
    )
    return sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, 1)).alias("n_bounce"),
        F.round(F.avg("n_events"), 4).alias("avg_events"),
        F.round(F.avg("dur_sec"), 2).alias("avg_dur_sec"),
        F.max("n_events").alias("max_events"),
    )


@register(
    "sim_maxsim_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(generate_series(0, 3),
               i -> list_transform(embedding[i*16+1 : i*16+16],
                                   x -> CAST(x AS DOUBLE))) AS subs
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, subs AS qsubs FROM v WHERE vec_id < 3),
    scored AS (
      SELECT q.q_id, v.vec_id,
             list_aggregate(list_transform(q.qsubs,
               qs -> list_max(list_transform(v.subs,
                 ds -> list_aggregate(list_transform(list_zip(qs, ds),
                         z -> z[1] * z[2]), 'sum')))), 'sum') AS score
      FROM q CROSS JOIN v
    )
    SELECT q_id, vec_id, ROUND(score, 5) AS score,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT q_id, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY score DESC, vec_id) AS rnk
      FROM scored)
    WHERE rnk <= 5
    """,
    tags=("similarity", "llm"),
)
def sim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-VECTOR late-interaction retrieval (the ColBERT MaxSim
    shape): documents and queries carry 4×16-d sub-vectors (slices of
    the 64-d embedding standing in for token vectors), and the score
    is Σ over query sub-vectors of the MAX dot product against the
    doc's sub-vectors — richer than single-vector cosine because each
    query part matches its own best doc part. All nested arithmetic
    runs in Catalyst higher-order functions over a broadcast 3-query
    build side: corpus map-side scored, one top-k window per query
    (WindowGroupLimit), no Python. Sequential fold order makes the
    scores bit-identical across engines; vec_id breaks rank ties."""
    e = _t(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        F.expr(
            "transform(sequence(0, 3), "
            "i -> transform(slice(embedding, i*16+1, 16), "
            "x -> cast(x as double)))"
        ).alias("subs"),
    )
    q = v.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("subs").alias("qsubs")
    )
    scored = v.join(F.broadcast(q)).select(
        "q_id",
        "vec_id",
        F.expr(
            "aggregate(qsubs, 0D, (acc, qs) -> acc + "
            "array_max(transform(subs, ds -> "
            "aggregate(zip_with(qs, ds, (a, b) -> a * b), 0D, "
            "(s, x) -> s + x))))"
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "vec_id", F.round("score", 5).alias("score"), "rnk")
    )


@register(
    "graph_link_prediction",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    pairs AS MATERIALIZED (
      SELECT a.user_id AS id_a, b.user_id AS id_b
      FROM ud a JOIN ud b ON a.d = b.d AND a.user_id < b.user_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 29
    ),
    und AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    two_hop AS (
      SELECT DISTINCT e1.src AS a, e2.dst AS b
      FROM und e1 JOIN und e2 ON e1.dst = e2.src
      WHERE e1.src < e2.dst
        AND NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.id_a = e1.src AND p.id_b = e2.dst)
    ),
    nb AS (SELECT src, list_distinct(list(dst)) AS ns FROM und GROUP BY src)
    SELECT t.a, t.b,
           CAST(len(list_intersect(na.ns, nb2.ns)) AS BIGINT) AS common,
           ROUND(len(list_intersect(na.ns, nb2.ns))
                 / (len(na.ns) + len(nb2.ns)
                    - len(list_intersect(na.ns, nb2.ns))), 6) AS jaccard
    FROM two_hop t
    JOIN nb na ON na.src = t.a
    JOIN nb nb2 ON nb2.src = t.b
    """,
    tags=("graph", "events"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION via common-neighbor Jaccard on the user
    CO-ACTIVITY graph (edge = two users active on >=29 shared days —
    the near-dup doc graph is pure cliques on this corpus, so 2-hop
    non-edges only exist here): 2-hop candidate non-edges scored by
    neighborhood overlap, the candidate-expansion step of any
    graph-ML recommender. Candidates come from the 2-hop join
    (shuffle on the middle node — wedge-bounded, never all-pairs),
    existing edges anti-join away, neighbor sets join at node grain.
    Integer set sizes are engine-exact; the day-grain co-activity
    edge list itself collapses events before any pairing.

    r11 optimization (guide §2.3 — shuffle fewer bytes, lossless
    prefilter): |A∩B| ≥ 29 forces |A| ≥ 29 AND |B| ≥ 29, so only
    users with ≥ 29 distinct active days can appear in ANY qualifying
    pair — the per-day self-join runs on that eligible subset only.
    Measured at sf0.1: 26.7M day-join pair rows → ~0.75M (224 of
    1500 users eligible), identical output by construction. The
    eligibility aggregate is user-grain (|V| rows) and the semi-join
    broadcasts while eligible users fit, shuffles past that — both
    linear, so the prefilter never costs more than the pairing it
    prunes."""
    e = _t(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    eligible = (
        ud.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 29)
        .select("user_id")
    )
    ud = ud.join(eligible, "user_id", "semi")
    a_side, b_side = ud.alias("ua"), ud.alias("ub")
    pairs = (
        a_side.join(
            b_side,
            (F.col("ua.d") == F.col("ub.d"))
            & (F.col("ua.user_id") < F.col("ub.user_id")),
        )
        .groupBy(
            F.col("ua.user_id").alias("id_a"),
            F.col("ub.user_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 29)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    und = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    e1, e2 = und.alias("e1"), und.alias("e2")
    two_hop = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .filter(F.col("e1.src") < F.col("e2.dst"))
        .select(F.col("e1.src").alias("a"), F.col("e2.dst").alias("b"))
        .distinct()
        .join(
            pairs,
            (F.col("a") == pairs.id_a) & (F.col("b") == pairs.id_b),
            "left_anti",
        )
    )
    nb = und.groupBy("src").agg(F.collect_set("dst").alias("ns"))
    na, nb2 = nb.alias("na"), nb.alias("nb2")
    j = (
        two_hop.join(na, F.col("a") == F.col("na.src"))
        .join(nb2, F.col("b") == F.col("nb2.src"))
    )
    inter = F.size(F.array_intersect(F.col("na.ns"), F.col("nb2.ns")))
    union = F.size(F.col("na.ns")) + F.size(F.col("nb2.ns")) - inter
    return j.select(
        "a",
        "b",
        inter.cast("bigint").alias("common"),
        F.round(inter / union, 6).alias("jaccard"),
    )


@register(
    "events_seasonality_heatmap",
    oracle="""
    SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INTEGER) AS dow,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("events", "agg"),
)
def events_seasonality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day seasonality heatmap — the traffic-
    shape fingerprint behind capacity planning and anomaly baselines.
    One hash aggregate over (dow, hod) — 168 cells regardless of
    event count. DOW convention trap: Spark's dayofweek() is 1=Sunday
    while DuckDB's is 0=Sunday — normalized here to DuckDB's 0-based
    convention (dayofweek-1) so both engines emit identical cell
    keys."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "forecast_snaive_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    with_fc AS (
      SELECT d, n,
             AVG(n) OVER (ORDER BY d ROWS BETWEEN 28 PRECEDING
                                           AND 7 PRECEDING) AS naive_any,
             (LAG(n, 7) OVER (ORDER BY d) + LAG(n, 14) OVER (ORDER BY d))
               / 2.0 AS snaive
      FROM daily
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, n,
           ROUND(snaive, 4) AS forecast,
           ROUND(ABS(n - snaive), 4) AS abs_err
    FROM with_fc WHERE snaive IS NOT NULL
    """,
    tags=("eventtime", "window"),
)
def forecast_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive FORECAST BACKTEST: each day's traffic predicted
    as the mean of the same weekday in the 2 prior weeks (LAG 7/14
    over the daily series; the test corpus spans ~30 days), with per-day absolute error — the
    baseline every fancier forecaster must beat, produced as a
    backtest table the way an evaluation pipeline consumes it. All
    window ops run on the DAY-grain series (|days| rows after one
    aggregate), so the global ordered window is over a tiny frame;
    days with incomplete lag history drop out (IS NOT NULL) on both
    engines identically."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("d")
    snaive = (F.lag("n", 7).over(w) + F.lag("n", 14).over(w)) / 2.0
    fc = daily.select(
        "d", "n", snaive.alias("snaive")
    ).filter(F.col("snaive").isNotNull())
    return fc.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        F.round("snaive", 4).alias("forecast"),
        F.round(F.abs(F.col("n") - F.col("snaive")), 4).alias("abs_err"),
    )


@register(
    "plan_cached_reuse",
    oracle="""
    WITH enriched AS (
      SELECT o.o_orderkey, o.o_totalprice, c.c_mktsegment,
             n.n_name
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT 'by_segment' AS report, c_mktsegment AS grp,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM enriched GROUP BY c_mktsegment
    UNION ALL
    SELECT 'by_nation', n_name,
           CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
    FROM enriched GROUP BY n_name
    """,
    tags=("plan", "agg"),
)
def plan_cached_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-intermediate REUSE: one enrichment join feeds two
    report aggregates. Spark does NOT reuse an exchange referenced
    twice from the DataFrame API (round-2 lesson, README), so without
    intervention the 3-table join executes TWICE; an explicit
    ``persist`` materializes the enriched frame once and both
    aggregates read the cached partitions — the dashboard-fanout
    pattern (one silver table, N gold reports). Unpersisted in a
    finally block so the key leaves no cache residue for later
    queries."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("o_orderkey", "o_totalprice", "c_mktsegment", "n_name")
        .persist()
    )
    try:
        by_seg = enriched.groupBy(F.col("c_mktsegment").alias("grp")).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        ).select(F.lit("by_segment").alias("report"), "grp", "n", "total")
        by_nat = enriched.groupBy(F.col("n_name").alias("grp")).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        ).select(F.lit("by_nation").alias("report"), "grp", "n", "total")
        out = by_seg.unionByName(by_nat)
        out = out.localCheckpoint(eager=True)  # materialize while cached
    finally:
        enriched.unpersist()
    return out


@register(
    "events_funnel_stages",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s2,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s3
      FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(s1) AS BIGINT) AS viewed,
           CAST(SUM(s1 * s2) AS BIGINT) AS clicked,
           CAST(SUM(s1 * s2 * s3) AS BIGINT) AS purchased,
           ROUND(SUM(s1 * s2) * 1.0 / NULLIF(SUM(s1), 0), 6)
             AS view_to_click,
           ROUND(SUM(s1 * s2 * s3) * 1.0 / NULLIF(SUM(s1 * s2), 0), 6)
             AS click_to_purchase
    FROM u
    """,
    tags=("events", "agg"),
)
def events_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic STAGE-FUNNEL report (view → click → purchase):
    per-user stage flags folded in one aggregate, stage counts
    requiring ALL upstream stages (s1·s2·s3 — a user who purchased
    without viewing doesn't count as full-funnel), conversion rates
    between adjacent stages. Two hash aggregates total (event → user
    flags → one-row report); no joins, no event-grain shuffles. The
    companion events_funnel key does time-ordered pair matching —
    this is the unordered membership funnel both reports coexist in
    practice."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("s1"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("s2"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "s3"
        ),
    )
    return u.agg(
        F.sum("s1").alias("viewed"),
        F.sum(F.col("s1") * F.col("s2")).alias("clicked"),
        F.sum(F.col("s1") * F.col("s2") * F.col("s3")).alias("purchased"),
        F.round(
            F.sum(F.col("s1") * F.col("s2"))
            / F.nullif(F.sum("s1"), F.lit(0)),
            6,
        ).alias("view_to_click"),
        F.round(
            F.sum(F.col("s1") * F.col("s2") * F.col("s3"))
            / F.nullif(F.sum(F.col("s1") * F.col("s2")), F.lit(0)),
            6,
        ).alias("click_to_purchase"),
    )


@register(
    "text_zipf_fit",
    oracle="""
    WITH toks AS (
      SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
             FROM toks GROUP BY tok),
    ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS r FROM freq
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           ROUND(regr_slope(LN(f), LN(r)), 6) AS zipf_slope,
           ROUND(regr_r2(LN(f), LN(r)), 6) AS r2
    FROM ranked
    """,
    tags=("text", "agg"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: log-frequency
    regressed on log-rank with the single-pass ``regr_slope`` /
    ``regr_r2`` moment aggregates — the corpus-health statistic that
    flags template-heavy or synthetic text (natural corpora fit slope
    ≈ −1; word-soup flattens). Rank assignment breaks frequency ties
    by token so both engines rank identically; the rank runs
    DISTRIBUTED (operators/ranking.py range-partition + offset table)
    so a 10⁸-token vocabulary never funnels through one sorted
    partition (VERDICT r3 plan item). The regression moments are
    order-insensitive sums — no fold-order hazard."""
    from ..operators.ranking import with_global_row_number

    e = _t(spark, sf_dir, "documents")
    freq = (
        e.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked, _n = with_global_row_number(
        freq, [F.col("f").desc(), F.col("tok")], "r"
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(F.regr_slope(F.log("f"), F.log("r")), 6).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("f"), F.log("r")), 6).alias("r2"),
    )


@register(
    "orders_mix_shift",
    oracle="""
    WITH p AS (
      SELECT o_orderpriority AS seg,
             CAST(COUNT(*) FILTER (WHERE o_orderdate <  CAST('1998-01-01' AS DATE)) AS BIGINT) AS n0,
             CAST(COUNT(*) FILTER (WHERE o_orderdate >= CAST('1998-01-01' AS DATE)) AS BIGINT) AS n1,
             SUM(o_totalprice) FILTER (WHERE o_orderdate <  CAST('1998-01-01' AS DATE)) AS rev0,
             SUM(o_totalprice) FILTER (WHERE o_orderdate >= CAST('1998-01-01' AS DATE)) AS rev1
      FROM orders GROUP BY 1
    )
    SELECT seg, n0, n1,
           ROUND(rev1 - rev0, 2) AS delta_rev,
           ROUND((n1 - n0) * (rev0 / n0), 2) AS volume_effect,
           ROUND(n1 * (rev1 / n1 - rev0 / n0), 2) AS rate_effect
    FROM p WHERE n0 > 0 AND n1 > 0
    """,
    tags=("agg",),
)
def orders_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period MIX-SHIFT decomposition (the FP&A bridge):
    per-segment revenue change split into a VOLUME effect (count
    change × old average price) and a RATE effect (new count × change
    in average price) — volume + rate = delta exactly, the identity
    pinned in both engines' arithmetic. One conditional-aggregate
    pass builds both periods per segment (no self-join of two period
    scans); segment-grain rows feed the decomposition."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("date")
    is0 = F.col("o_orderdate") < cut
    is1 = F.col("o_orderdate") >= cut
    p = o.groupBy(F.col("o_orderpriority").alias("seg")).agg(
        F.count(F.when(is0, 1)).alias("n0"),
        F.count(F.when(is1, 1)).alias("n1"),
        F.sum(F.when(is0, F.col("o_totalprice"))).alias("rev0"),
        F.sum(F.when(is1, F.col("o_totalprice"))).alias("rev1"),
    )
    return p.filter((F.col("n0") > 0) & (F.col("n1") > 0)).select(
        "seg",
        "n0",
        "n1",
        F.round(F.col("rev1") - F.col("rev0"), 2).alias("delta_rev"),
        F.round(
            (F.col("n1") - F.col("n0")) * (F.col("rev0") / F.col("n0")), 2
        ).alias("volume_effect"),
        F.round(
            F.col("n1")
            * (F.col("rev1") / F.col("n1") - F.col("rev0") / F.col("n0")),
            2,
        ).alias("rate_effect"),
    )


@register(
    "window_ratio_to_report",
    oracle="""
    WITH seg AS (
      SELECT c_mktsegment AS seg, n_name,
             SUM(o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT seg, n_name, ROUND(rev, 2) AS revenue,
           ROUND(rev / SUM(rev) OVER (PARTITION BY seg), 6) AS share_of_seg,
           CAST(ROW_NUMBER() OVER (PARTITION BY seg
                                   ORDER BY rev DESC, n_name) AS INTEGER)
             AS rnk
    FROM seg
    """,
    tags=("window", "agg"),
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each (segment, nation) cell's share of its
    segment total, plus the within-segment revenue rank — the
    denominator is a partition-total window over ALREADY-AGGREGATED
    cells (|segments|×|nations| rows), so the share computation adds
    no data-sized work to the one fact aggregate. The full-partition
    SUM window and the rank share one segment exchange. Share is an
    order-insensitive single SUM per partition — no fold-order
    hazard at 6 dp."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    seg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), "n_name")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w_all = Window.partitionBy("seg")
    w_rnk = Window.partitionBy("seg").orderBy(F.col("rev").desc(), F.col("n_name"))
    return seg.select(
        "seg",
        "n_name",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(w_all), 6).alias("share_of_seg"),
        F.row_number().over(w_rnk).alias("rnk"),
    )


@register(
    "window_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           ROUND(median(CAST(value AS DOUBLE)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ), 6) AS med7
    FROM events
    """,
    tags=("window",),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-event median of value per user — the robust
    (outlier-immune) counterpart of window_frame's moving average.
    Spark has no holistic aggregates over window frames, so the frame
    materializes as a <=7-element collect_list, is array_sort'ed, and
    the interpolated median (avg of the two middles on even counts —
    DuckDB's semantics for DOUBLE) is picked by element_at arithmetic.

    Scale shape: ONE user_id exchange + per-partition sort shared with
    every other ordered window over events; the per-row state is bounded
    at 7 doubles regardless of user cardinality or history length, so
    the operator never spills frame state at 100 TB. (ts, event_id)
    ordering makes frames engine-deterministic."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    vals = F.array_sort(F.collect_list(F.col("value")).over(w))
    n = F.size(vals)
    lo = F.element_at(vals, ((n + 1) / 2).cast("int"))
    hi = F.element_at(vals, (n / 2 + 1).cast("int"))
    return e.select(
        "event_id",
        "user_id",
        F.round((lo + hi) / 2, 6).alias("med7"),
    )


@register(
    "scalar_url",
    oracle=r"""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || doc_id
               || '?lang=' || lang || '&v=1' AS url
      FROM documents
    )
    SELECT doc_id, url,
           regexp_extract(url, 'https?://([^/]+)', 1) AS host,
           regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param
    FROM u
    """,
    tags=("scalar",),
)
def scalar_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction with Spark's parse_url (HOST / PATH /
    QUERY / QUERY:key) over deterministic synthetic URLs — the
    crawl-curation scalar surface (domain blocklists, per-site
    dedup keys, tracking-param stripping all start here). The oracle
    re-derives each component with regexes, proving parse_url's
    JVM-side semantics against an engine-neutral definition.

    Scale shape: pure scan-side codegen'd projection — zero shuffles,
    zero joins; at 100 TB this runs at parquet-scan speed."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id"), F.lit("?lang="), F.col("lang"), F.lit("&v=1"),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@register(
    "data_skew_report",
    oracle="""
    WITH ks AS (
      SELECT 'lineitem.l_partkey' AS keyed, l_partkey AS k FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem
      UNION ALL
      SELECT 'events.user_id', user_id FROM events
    ), g AS (
      SELECT keyed, k, COUNT(*) AS n FROM ks GROUP BY 1, 2
    )
    SELECT keyed,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_n,
           ROUND(AVG(n), 4) AS avg_n,
           ROUND(quantile_cont(n, 0.99), 4) AS p99_n,
           ROUND(MAX(n) * 1.0 / AVG(n), 4) AS skew_ratio,
           ROUND(MAX(n) * 1.0 / SUM(n), 6) AS top1_share
    FROM g GROUP BY keyed
    """,
    tags=("quality", "ops"),
)
def data_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key SKEW PROFILER: per candidate shuffle key, the
    group-size distribution (key count, max, mean, exact p99, max/mean
    skew ratio, heaviest key's row share). This is the diagnostic run
    BEFORE choosing a 100 TB shuffle strategy — skew_ratio >> 1 says
    salt or AQE-skew-split this key; top1_share bounds the benefit.

    Scale shape: per audited key one partial+final count aggregate
    collapses the table to key grain, then one tiny stats aggregate per
    key name; the three audits union into a single two-stage plan. The
    exact p99 sorts only |keys| collapsed rows per audit (the sort-based
    percentile path), never raw rows."""
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    parts = [
        ("lineitem.l_partkey", li.select(F.col("l_partkey").alias("k"))),
        ("lineitem.l_suppkey", li.select(F.col("l_suppkey").alias("k"))),
        ("events.user_id", ev.select(F.col("user_id").alias("k"))),
    ]
    outs = []
    for name, frame in parts:
        g = frame.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        outs.append(
            g.agg(
                F.lit(name).alias("keyed"),
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("n").alias("n_rows"),
                F.max("n").alias("max_n"),
                F.round(F.avg("n"), 4).alias("avg_n"),
                F.round(F.percentile("n", F.lit(0.99)), 4).alias("p99_n"),
                F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
                F.round(F.max("n") / F.sum("n"), 6).alias("top1_share"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "domain_mix_rebalance",
    oracle="""
    WITH g AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1
    ), t AS (
      SELECT SUM(n_docs) AS total, COUNT(*) AS n_langs FROM g
    )
    SELECT g.lang,
           CAST(g.n_docs AS BIGINT) AS n_docs,
           ROUND(g.n_docs * 1.0 / t.total, 6) AS share,
           ROUND(least(1.0, (t.total * 1.0 / t.n_langs) / g.n_docs), 6) AS keep_prob,
           CAST(FLOOR(g.n_docs * least(1.0, (t.total * 1.0 / t.n_langs) / g.n_docs)) AS BIGINT)
             AS expected_kept
    FROM g, t
    """,
    tags=("text", "sampling"),
)
def domain_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix REBALANCING plan: per language (stand-in for any
    domain/source dimension), the downsampling probability that caps
    every domain at the uniform target share (keep_prob = min(1,
    target_n / n_l)) plus the expected post-sampling count — the
    published data-mixture recipe (uniformize-or-cap) that precedes
    weighted sampling in corpus assembly. Feed keep_prob into
    sample_hash_stratified's deterministic per-domain downsampler to
    EXECUTE the plan.

    Scale shape: one domain-grain aggregate + a broadcast 1-row totals
    frame; output is |domains| rows. The corpus itself is touched once
    and never shuffled."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    t = g.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    keep = F.least(F.lit(1.0), (F.col("total") / F.col("n_langs")) / F.col("n_docs"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("total"), 6).alias("share"),
            F.round(keep, 6).alias("keep_prob"),
            F.floor(F.col("n_docs") * keep).alias("expected_kept"),
        )
    )


@register(
    "scan_text_lines",
    oracle="""
    WITH sel AS (
      SELECT replace(text, chr(10), ' ') AS text
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct
    FROM sel
    """,
    tags=("scan", "sink", "text"),
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text SINK + SOURCE roundtrip (``df.write.text`` /
    ``spark.read.text``): the rawest corpus interchange format (one doc
    per line — the WebText/C4 on-disk shape before parquetization). A
    deterministic doc subset is written as .txt part files and read
    back; the audit (line count, byte total, distinct lines) must
    reproduce the source rows exactly. Line order is NOT preserved
    across the roundtrip — the audit is deliberately order-insensitive,
    matching the format's contract.

    Scale shape: both write and read are embarrassingly parallel per
    part-file/line; the only aggregation is the final 1-row audit (the
    distinct rides the same exchange)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    out = scratch_dir("textlines") + "/docs_txt"
    # newline-proof the one-doc-per-line contract: embedded newlines in
    # a regenerated corpus would otherwise split docs across lines and
    # silently break the audit (same discipline on the oracle side)
    docs.select(
        F.regexp_replace("text", "\n", " ").alias("text")
    ).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.octet_length("value")).alias("total_bytes"),
        F.countDistinct("value").alias("n_distinct"),
    )


@register(
    "events_outlier_mad",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), m1 AS (
      SELECT user_id, median(CAST(n AS DOUBLE)) AS med FROM c GROUP BY 1
    ), dev AS (
      SELECT c.user_id, c.d, c.n, m1.med, ABS(c.n - m1.med) AS adev
      FROM c JOIN m1 USING (user_id)
    ), m2 AS (
      SELECT user_id, median(adev) AS mad FROM dev GROUP BY 1
    )
    SELECT dev.user_id,
           strftime(dev.d, '%Y-%m-%d') AS d,
           CAST(dev.n AS BIGINT) AS n,
           ROUND((dev.n - dev.med) / m2.mad, 4) AS score
    FROM dev JOIN m2 USING (user_id)
    WHERE m2.mad > 0
      AND ROUND(ABS(dev.n - dev.med) - 3 * m2.mad, 6) > 0
    """,
    tags=("events", "quality"),
)
def events_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user daily-volume outliers via MEDIAN absolute
    deviation (|n - median| > 3·MAD) — the breakdown-resistant
    counterpart of events_anomaly's 2-sigma rule: one wild day inflates
    a stddev and hides itself, but not a median. Both medians are exact
    interpolated percentiles (identical semantics in Spark's median and
    DuckDB's median over DOUBLE); the decision boundary compares
    ROUNDED on both sides so float noise can't flip membership.

    Scale shape: the raw table collapses to user-day grain in one
    aggregate (everything after runs on <= |users|·31 rows); the two
    median passes and the joins all share user_id partitioning. Exact
    medians sort only each user's <= 31 daily counts."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    m1 = c.groupBy("user_id").agg(
        F.median(F.col("n").cast("double")).alias("med")
    )
    dev = c.join(m1, "user_id").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    m2 = dev.groupBy("user_id").agg(F.median("adev").alias("mad"))
    return (
        dev.join(m2, "user_id")
        .where(
            (F.col("mad") > 0)
            & (F.round(F.abs(F.col("n") - F.col("med")) - 3 * F.col("mad"), 6) > 0)
        )
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "n",
            F.round((F.col("n") - F.col("med")) / F.col("mad"), 4).alias("score"),
        )
    )


@register(
    "window_ewma",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id,
             list(CAST(value AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
             ) AS vals
      FROM events
    )
    SELECT event_id, user_id,
           ROUND(
             list_aggregate(list_transform(list_zip(vals, generate_series(1, len(vals))),
                            p -> CAST(p[1] AS DOUBLE) * pow(0.8, len(vals) - p[2])), 'sum')
             / list_aggregate(list_transform(generate_series(1, len(vals)),
                              i -> pow(0.8, len(vals) - i)), 'sum'),
           6) AS ewma
    FROM v
    """,
    tags=("window", "timeseries"),
)
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (decay 0.8, normalized)
    over each user's last 10 events — the smoothing primitive behind
    rate limiting, trend detection, and drift monitors. True infinite-
    history EWMA is a recurrence no SQL window expresses; the BOUNDED
    frame keeps it set-based (weights below 0.8^10 ≈ 0.11 are cut and
    the renormalization makes the truncation exact, not approximate).

    Scale shape: same single user_id exchange + shared sort as every
    ordered events window; per-row state is <= 10 doubles. Both engines
    build the IDENTICAL frame-ordered list and fold it sequentially, so
    the quotient is bit-stable before the 6 dp output rounding."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    vals = F.collect_list(F.col("value").cast("double")).over(w)
    n = F.size(vals)
    a = F.lit(0.8)
    num = F.aggregate(
        F.zip_with(
            vals,
            F.sequence(F.lit(1), n),
            lambda x, i: x * F.pow(a, (n - i).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), n), lambda i: F.pow(a, (n - i).cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "event_id", "user_id", F.round(num / den, 6).alias("ewma")
    )


@register(
    "dedup_url_canonical",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://www.example.com/page/' || (doc_id % 97)
               || '?utm_source=s' || doc_id || '&sid=' || (doc_id * 7 % 1000) AS url
      FROM documents
    ), c AS (
      SELECT doc_id,
             regexp_extract(url, 'https?://([^/]+)', 1)
               || regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS canonical
      FROM u
    )
    SELECT canonical,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           CAST(MIN(doc_id) AS BIGINT) AS keeper
    FROM c GROUP BY canonical
    """,
    tags=("dedup", "scalar"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL crawl dedup — the cheapest dedup tier in a crawl
    pipeline, run BEFORE any content hashing: strip tracking params
    (utm_*, session ids) by canonicalizing to host+path via parse_url,
    then keep-first per canonical with the dup count. Synthetic crawl
    URLs collide on doc_id % 97 so real dup groups exist; the oracle
    re-derives canonicals with regexes (engine-neutral definition of
    the same canonicalization).

    Scale shape: canonicalization is scan-side codegen; ONE hash
    aggregate on the canonical key does keep-first + counting — at
    crawl scale this is the groupBy that replaces a quadratic URL
    compare."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www.example.com/page/"), F.col("doc_id") % 97,
        F.lit("?utm_source=s"), F.col("doc_id"),
        F.lit("&sid="), (F.col("doc_id") * 7) % 1000,
    )
    canonical = F.concat(
        F.parse_url(url, F.lit("HOST")), F.parse_url(url, F.lit("PATH"))
    )
    return (
        d.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper"),
        )
    )


@register(
    "sink_parquet_codecs",
    oracle="""
    SELECT 'snappy' AS codec, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    UNION ALL
    SELECT 'zstd', CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'gzip', CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT)
    FROM orders
    """,
    tags=("sink", "scan"),
)
def sink_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec roundtrips (snappy / zstd / gzip): the same
    table written under each codec and read back with a content
    checksum per codec — the lake's storage-tiering decision (zstd for
    cold archives ~2× smaller, snappy for hot scan paths) verified as
    lossless. All three rewrites are narrow scan→write jobs; the
    audits are 1-row aggregates."""
    from .relational import _t

    base = scratch_dir("codecs")
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    outs = []
    for codec in ("snappy", "zstd", "gzip"):
        path = f"{base}/orders_{codec}"
        o.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        outs.append(
            back.agg(
                F.lit(codec).alias("codec"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


@register(
    "table_fingerprint",
    oracle="""
    WITH f AS (
      SELECT 'documents' AS tbl,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(list_aggregate(list_transform(generate_series(1, 12), i -> (strpos('0123456789abcdef', substr(md5(doc_id || '|' || text || '|' || lang || '|' || source), i, 1)) - 1) * CAST(pow(16, 12 - i) AS BIGINT)), 'sum') % 1000000007) AS BIGINT) AS fp
      FROM documents
      UNION ALL
      SELECT 'orders',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(list_aggregate(list_transform(generate_series(1, 12), i -> (strpos('0123456789abcdef', substr(md5(o_orderkey || '|' || o_orderstatus || '|' || o_orderpriority), i, 1)) - 1) * CAST(pow(16, 12 - i) AS BIGINT)), 'sum') % 1000000007) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'region',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(list_aggregate(list_transform(generate_series(1, 12), i -> (strpos('0123456789abcdef', substr(md5(r_regionkey || '|' || r_name), i, 1)) - 1) * CAST(pow(16, 12 - i) AS BIGINT)), 'sum') % 1000000007) AS BIGINT)
      FROM region
    )
    SELECT tbl, n_rows, fp FROM f
    """,
    tags=("quality", "ops"),
)
def table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed DATASET FINGERPRINT — the data-versioning
    primitive (detect silent upstream drift, pin exactly-this-corpus
    in a model card, verify a replica): per table, an ORDER-INSENSITIVE
    digest = sum over rows of (first 48 bits of md5(canonical row
    string) mod p). Commutative addition makes it partitioning- and
    order-independent; 48-bit summands mod 1e9+7 keep the BIGINT sum
    exact under ANSI overflow checking at any row count below ~9e9.

    Scale shape: pure map-side hashing + ONE 1-row aggregate per
    table; no shuffle of data, only partial sums. The same digest
    computed by any engine over any row order must match — which is
    exactly what the DuckDB oracle proves."""
    parts = []
    for tbl, cols in (
        ("documents", ["doc_id", "text", "lang", "source"]),
        ("orders", ["o_orderkey", "o_orderstatus", "o_orderpriority"]),
        ("region", ["r_regionkey", "r_name"]),
    ):
        t = load_table(spark, sf_dir, tbl)
        canon = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        row48 = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
        parts.append(
            t.agg(
                F.lit(tbl).alias("tbl"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(row48 % 1000000007).alias("fp"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "gdpr_user_erasure",
    oracle="""
    WITH del AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 0
    ), kept AS (
      SELECT e.* FROM events e
      WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.user_id = e.user_id)
    )
    SELECT CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS rows_before,
           CAST(COUNT(*) AS BIGINT) AS rows_after,
           CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS users_erased,
           CAST((SELECT COUNT(*) FROM events) - COUNT(*) AS BIGINT) AS rows_erased,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_after
    FROM kept
    """,
    tags=("ops", "quality"),
)
def gdpr_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten REWRITE: drop every event belonging to a
    deletion list (user_id % 37 — the deterministic stand-in for the
    DSAR queue) via a broadcast ANTI join, plus the compliance audit
    every erasure job must emit (rows before/after, users erased, rows
    erased, surviving users). In production the `kept` frame is
    rewritten over the partitioned table — the erase is this exact
    anti join at scan speed.

    Scale shape: the deletion list is tiny and BROADCASTS (anti join
    is a map-side filter — the fact table never shuffles); the audits
    are 1-row aggregates sharing the same scans."""
    e = load_table(spark, sf_dir, "events")
    delete_list = e.where(F.col("user_id") % 37 == 0).select("user_id").distinct()
    kept = e.join(F.broadcast(delete_list), "user_id", "left_anti")
    audit = kept.agg(
        F.count(F.lit(1)).alias("rows_after"),
        F.countDistinct("user_id").alias("users_after"),
    )
    totals = e.agg(F.count(F.lit(1)).alias("rows_before"))
    dl = delete_list.agg(F.count(F.lit(1)).alias("users_erased"))
    return (
        audit.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(dl))
        .select(
            "rows_before",
            "rows_after",
            "users_erased",
            (F.col("rows_before") - F.col("rows_after")).alias("rows_erased"),
            "users_after",
        )
    )


@register(
    "join_skew_aqe",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN user_id % 10 <> 0 THEN 0
                  ELSE CAST(user_id / 10 AS BIGINT) % 49 + 1 END AS k,
             value
      FROM events
    ),
    d AS (SELECT range AS k, range * 3 + 7 AS dim_val FROM range(50))
    SELECT f.k,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(f.value * d.dim_val), 4) AS weighted
    FROM f JOIN d ON f.k = d.k
    GROUP BY f.k
    """,
    tags=("join", "aqe", "skew"),
)
def join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join splitting — the NO-CODE-CHANGE answer to
    hot keys (join_skew_salted is the manual twin): ~90% of the fact
    rows share join key 0, the join is forced to sort-merge, and AQE's
    OptimizeSkewedJoin carves the hot reduce partition into map-output
    ranges at runtime (``SortMergeJoin(skew=true)``), duplicating the
    matching dim rows per split. The callable EXECUTES the join,
    asserts the final adaptive plan actually took the skew path (a
    silent fallback to a straggler plan raises instead of passing),
    then returns the 50-row aggregate as a literal frame.

    Toy-scale enablement, discovered empirically this round: skew
    splits are map-output-granular, so a single-mapper toy scan can
    NEVER split (createSkewPartitionSpecs returns None — this exact
    probe failed silently until the fact side was repartitioned to 32
    maps); thresholds are set low, and forceOptimizeSkewedJoin covers
    the downstream agg's distribution requirement. On a real cluster
    none of that is needed: thousands of mappers and 256 MB partitions
    are the defaults' native regime — the demonstrated plan shape is
    exactly the 100 TB one.

    Conf isolation (ADVICE r4): the tuned AQE confs are set on a
    CLONED session (``spark.newSession()`` — own SQLConf, shared
    SparkContext), so a concurrent query on the caller's session never
    observes them and no restore path is needed; the clone is
    discarded after the eager collect.

    Driver-side collect is the 50-row AGGREGATE (bounded by the dim
    key space), never the fact table."""
    s2 = spark.newSession()
    # load FIRST: load_table's ensure_conf applies RUNTIME_CONFS (which
    # honor the SPARK_GRAFT_AQE=false gate perturbation) — this key's
    # contract IS the adaptive skew path, so its cloned-session
    # enablement must be applied after, not clobbered by, ensure_conf.
    e = load_table(s2, sf_dir, "events")
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }.items():
        s2.conf.set(k, v)
    fact = e.select(
        F.when(F.col("user_id") % 10 != 0, F.lit(0))
        .otherwise((F.col("user_id") / F.lit(10)).cast("long") % 49 + 1)
        .cast("long")
        .alias("k"),
        "value",
    ).repartition(32)  # multi-mapper stand-in for the 100 TB scan
    dim = s2.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 3 + 7).alias("dim_val")
    )
    out = (
        fact.join(dim.hint("MERGE"), "k")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value") * F.col("dim_val")), 4).alias(
                "weighted"
            ),
        )
    )
    rows = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "skew=true" not in plan:
        raise RuntimeError(
            "join_skew_aqe: AQE did not take the skew-join path "
            "(no 'skew=true' in the final adaptive plan) — the key "
            "exists to PIN that plan shape, so this is a failure, "
            "not a silent fallback"
        )
    return spark.createDataFrame(rows, "k bigint, n bigint, weighted double")


@register(
    "agg_kmv_distinct",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS exact_distinct,
             MAX(CASE WHEN rn = 64 THEN hv END) AS hk
      FROM r GROUP BY event_type
    )
    SELECT event_type, exact_distinct,
           ROUND(CASE WHEN exact_distinct < 64 THEN CAST(exact_distinct AS DOUBLE)
                      ELSE 63.0 / (CAST(hk AS DOUBLE) / 1152921504606846976.0)
                 END, 4) AS est_distinct,
           ABS(CASE WHEN exact_distinct < 64 THEN CAST(exact_distinct AS DOUBLE)
                    ELSE 63.0 / (CAST(hk AS DOUBLE) / 1152921504606846976.0)
               END - exact_distinct) / exact_distinct <= 0.35 AS in_corridor
    FROM s
    """,
    tags=("agg", "sketch"),
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, k=64 — the
    MERGEABLE cardinality sketch family HLL belongs to, but built from
    engine-portable arithmetic: the k smallest 60-bit md5-prefix
    hashes per group estimate |D| ≈ (k−1)/x_(k) with x_(k) the k-th
    smallest hash normalized to [0,1). Unlike agg_approx /
    agg_hll_sketch (engine-specific sketch internals → rows-only),
    BOTH engines compute the identical hash set, so the ESTIMATE
    itself is hash-verified bit-for-bit, alongside the exact count and
    a ±35% corridor verdict (k=64 → SE ≈ 12.7%; the corridor is
    deterministic because the hash set is).

    Scale shape: one distinct-collapse shuffle on (group, hash) — at
    100 TB the production form keeps only the k smallest per group via
    partial top-k (min-heap per partition, merge in the combiner);
    here the rank window runs on the already-distinct grain. Groups
    with fewer than k hashes fall back to the exact count (standard
    KMV rule)."""
    from ..functions.hashing import portable_hash60

    TWO60 = float(1 << 60)
    e = load_table(spark, sf_dir, "events")
    h = e.select(
        "event_type",
        portable_hash60(F.col("user_id").cast("string")).alias("hv"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    s = (
        h.withColumn("rn", F.row_number().over(w))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("exact_distinct"),
            F.max(F.when(F.col("rn") == 64, F.col("hv"))).alias("hk"),
        )
    )
    est = F.when(
        F.col("exact_distinct") < 64, F.col("exact_distinct").cast("double")
    ).otherwise(63.0 / (F.col("hk").cast("double") / F.lit(TWO60)))
    return s.select(
        "event_type",
        "exact_distinct",
        F.round(est, 4).alias("est_distinct"),
        (F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct") <= 0.35).alias(
            "in_corridor"
        ),
    )


@register(
    "udf_arrow_grouped",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("udf", "arrow"),
)
def udf_arrow_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``applyInArrow`` grouped-map — the zero-pandas Arrow
    extension point (each group arrives as a ``pyarrow.Table``, no
    pandas conversion overhead; the native-columnar sibling of
    applyInPandas for custom per-group logic the built-ins can't
    express). Oracled against the built-in GROUP BY it reimplements —
    same discipline as udf_surface/udf_arrow_optimized: the UDF surface
    is exercised and verified, but hot paths stay on built-ins.

    The worker fn is a CLOSURE (pickles by value — survives driver
    sessions without the repo on worker sys.path)."""
    l = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")

    def per_flag(t):
        install()
        import pyarrow as pa
        import pyarrow.compute as pc

        return pa.table(
            {
                "l_returnflag": [t["l_returnflag"][0].as_py()],
                "n": [t.num_rows],
                "total_price": [round(pc.sum(t["l_extendedprice"]).as_py(), 2)],
            }
        )

    return l.groupBy("l_returnflag").applyInArrow(
        per_flag, "l_returnflag string, n bigint, total_price double"
    )


def _z16_sql(bx: str, by: str, shift_tpl: str) -> str:
    """16-bit Morton/z-order interleave of two 8-bit bucket ids as a
    pure integer expression — generated once for both engines (Spark
    spells shifts shiftleft/shiftright, DuckDB uses << / >>)."""
    terms = []
    for i in range(8):
        terms.append(shift_tpl.format(v=f"({bx})", r=i, l=2 * i))
        terms.append(shift_tpl.format(v=f"({by})", r=i, l=2 * i + 1))
    return " + ".join(terms)


_Z_SPARK = _z16_sql("bx", "by", "shiftleft((shiftright({v}, {r}) & 1), {l})")
_Z_DUCK = _z16_sql(
    "CAST(LEAST(FLOOR(o_custkey * 256.0 / (cmax + 1)), 255) AS INTEGER)",
    "CAST(LEAST(FLOOR(date_diff('day', dmin, day) * 256.0"
    " / (date_diff('day', dmin, dmax) + 1)), 255) AS INTEGER)",
    "((({v} >> {r}) & 1) << {l})",
)

_ZORDER_ORACLE = """
    WITH s AS (
      SELECT MAX(o_custkey) AS cmax,
             MIN(CAST(o_orderdate AS DATE)) AS dmin,
             MAX(CAST(o_orderdate AS DATE)) AS dmax
      FROM orders
    ),
    z AS (
      SELECT o_orderkey, o_custkey, day, ZEXPR AS zval
      FROM (SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS day
            FROM orders) o CROSS JOIN s
    )
    SELECT CAST(zval // 1024 AS INTEGER) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_custkey) AS cust_lo, MAX(o_custkey) AS cust_hi,
           strftime(MIN(day), '%Y-%m-%d') AS day_lo,
           strftime(MAX(day), '%Y-%m-%d') AS day_hi
    FROM z GROUP BY 1
""".replace("ZEXPR", _Z_DUCK)


@register(
    "sink_zorder",
    oracle=_ZORDER_ORACLE,
    tags=("sink", "layout"),
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton-interleaved) layout sink — the multi-dimensional
    data-skipping layout every lakehouse OPTIMIZE implements: bucket
    o_custkey and o_orderdate to 8 bits each, interleave to a 16-bit
    z-value, range-partition + sort the table by it, and write parquet.
    Because z-order preserves locality in BOTH dimensions, every file's
    (custkey, date) min/max envelope is tight, so a scan filtered on
    EITHER column prunes most files on footer stats alone. The audit
    groups the written table into 64 z-ranges and reports each range's
    envelope — the oracle pins the exact interleave arithmetic.

    Scale shape: the two bucket bounds come from a 1-row broadcast
    aggregate; z-value is pure codegen integer math; the write is ONE
    repartitionByRange exchange (range partitioner = contiguous z
    runs = the z-curve order) + in-partition sort, the identical plan
    OPTIMIZE ZORDER runs per file group at 100 TB. The audit re-reads
    the written files and aggregates by z-bucket with map-side combine."""
    o = _t(spark, sf_dir, "orders")
    stats = o.agg(
        F.max("o_custkey").alias("cmax"),
        F.min(F.to_date("o_orderdate")).alias("dmin"),
        F.max(F.to_date("o_orderdate")).alias("dmax"),
    )
    zed = (
        o.select("o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("day"))
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "bx",
            F.least(
                F.floor(F.col("o_custkey") * 256.0 / (F.col("cmax") + 1)), F.lit(255)
            ).cast("int"),
        )
        .withColumn(
            "by",
            F.least(
                F.floor(
                    F.datediff("day", "dmin")
                    * 256.0
                    / (F.datediff("dmax", "dmin") + 1)
                ),
                F.lit(255),
            ).cast("int"),
        )
        .withColumn("zval", F.expr(_Z_SPARK))
        .select("o_orderkey", "o_custkey", "day", "zval")
    )
    out = scratch_dir("zorder") + "/orders_z"
    zed.repartitionByRange(8, "zval").sortWithinPartitions("zval").write.mode(
        "overwrite"
    ).parquet(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy((F.col("zval") / 1024).cast("int").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_custkey").alias("cust_lo"),
            F.max("o_custkey").alias("cust_hi"),
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("day_lo"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("day_hi"),
        )
    )


_GEO_KNN_ORACLE = """
    WITH p AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) * 100 AS lat,
             CAST(embedding[2] AS DOUBLE) * 100 AS lon
      FROM embeddings
    ),
    g AS (
      SELECT 80.0 / CEIL(SQRT(COUNT(*) / 20.0)) AS cell FROM p
    ),
    c AS (
      SELECT vec_id, lat, lon,
             CAST(FLOOR(lat / g.cell) AS INTEGER) AS cy,
             CAST(FLOOR(lon / g.cell) AS INTEGER) AS cx
      FROM p, g
    ),
    q AS (
      SELECT c.vec_id AS query_id, c.lat AS qlat, c.lon AS qlon,
             c.cy + dy.d AS gy, c.cx + dx.d AS gx
      FROM c, (VALUES (-1), (0), (1)) dy(d), (VALUES (-1), (0), (1)) dx(d)
    ),
    cand AS (
      SELECT q.query_id, t.vec_id AS neighbor_id,
             2 * 6371.0 * ASIN(SQRT(
               SIN(RADIANS(t.lat - q.qlat) / 2) * SIN(RADIANS(t.lat - q.qlat) / 2)
               + COS(RADIANS(q.qlat)) * COS(RADIANS(t.lat))
                 * SIN(RADIANS(t.lon - q.qlon) / 2) * SIN(RADIANS(t.lon - q.qlon) / 2)
             )) AS dist
      FROM q JOIN c t ON t.cy = q.gy AND t.cx = q.gx
                     AND t.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER w AS INTEGER) AS rank,
           ROUND(dist, 4) AS dist_km
    FROM cand
    WINDOW w AS (PARTITION BY query_id ORDER BY dist, neighbor_id)
    QUALIFY row_number() OVER w <= 3
"""


@register(
    "geo_grid_knn",
    oracle=_GEO_KNN_ORACLE,
    tags=("spatial", "join", "knn"),
)
def geo_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial kNN self-join with haversine distance —
    the standard way to make a spatial kNN tractable without an
    R-tree: snap every point to a grid cell, expand each query to its
    3x3 cell neighborhood, and rank candidates by great-circle
    distance inside that bounded window (so "kNN" here means k nearest
    WITHIN the adjacent-cell radius, the same contract as GeoSpark/
    Sedona's grid-partitioned KNN join before refinement). Points are
    deterministic pseudo-coordinates derived from the first two
    embedding dims (the corpus has no geo columns); k = 3, ties break
    on neighbor_id.

    The cell size is ADAPTIVE: cell = span / ceil(sqrt(n / 20)), so
    the grid refines as the corpus grows and expected points-per-cell
    stays ~20 regardless of N. The first cut of this key used a FIXED
    5-degree cell and the 10x scale probe caught it at 4.67x wall
    (per-cell density — hence candidates per query — grew linearly
    with the corpus, i.e. O(N^2) total); with the adaptive grid the
    candidate count per query is density-bounded and total work is
    O(N). Both engines derive the identical cell width from the same
    integer count, so the oracle match is exact.

    Scale shape: one bounded one-row COUNT fixes the grid, then the
    corpus shuffles ONCE on the cell key; each query row expands
    exactly 9x (a map-side explode, no blowup), joins on the cell key,
    and keeps top-3 per query via a WindowGroupLimit-pruned rank. At
    100 TB the cell key is the partition key and a dense-city cell
    gets salted like any skewed join key; the trig is whole-stage-
    codegen JVM math, no UDFs."""
    import math

    p = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("embedding").getItem(0).cast("double") * 100).alias("lat"),
        (F.col("embedding").getItem(1).cast("double") * 100).alias("lon"),
    )
    # one-row bounded collect: the adaptive grid width (span 80 deg /
    # ceil(sqrt(n/20)) cells per axis => ~20 points per cell at any N)
    n = p.count()
    cell = 80.0 / math.ceil(math.sqrt(n / 20.0))
    c = p.select(
        "*",
        F.floor(F.col("lat") / cell).cast("int").alias("cy"),
        F.floor(F.col("lon") / cell).cast("int").alias("cx"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    q = (
        c.select(
            F.col("vec_id").alias("query_id"),
            F.col("lat").alias("qlat"),
            F.col("lon").alias("qlon"),
            "cy",
            "cx",
            F.explode(offsets).alias("o"),
        )
        .select(
            "query_id",
            "qlat",
            "qlon",
            (F.col("cy") + F.col("o.dy")).alias("gy"),
            (F.col("cx") + F.col("o.dx")).alias("gx"),
        )
    )
    t = c.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("lat").alias("nlat"),
        F.col("lon").alias("nlon"),
        "cy",
        "cx",
    )
    half_dlat = F.radians(F.col("nlat") - F.col("qlat")) / 2
    half_dlon = F.radians(F.col("nlon") - F.col("qlon")) / 2
    h = (
        F.sin(half_dlat) * F.sin(half_dlat)
        + F.cos(F.radians(F.col("qlat")))
        * F.cos(F.radians(F.col("nlat")))
        * F.sin(half_dlon)
        * F.sin(half_dlon)
    )
    cand = (
        q.join(
            t,
            (F.col("gy") == F.col("cy"))
            & (F.col("gx") == F.col("cx"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            (F.lit(2 * 6371.0) * F.asin(F.sqrt(h))).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("dist", 4).alias("dist_km"),
        )
    )


@register(
    "mv_incremental_agg",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS ym,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("agg", "incremental", "lakehouse"),
)
def mv_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance by partial-aggregate
    merge: the monthly (ym, status) order rollup is kept as a base MV
    over the frozen history (< 1997-01-01); when the delta partition
    arrives, ONLY the delta is aggregated and the two partial states
    merge with SUM-of-COUNTs / SUM-of-SUMs — the algebraic-aggregate
    refresh every lakehouse MV engine (Delta incremental MV, Snowflake
    dynamic tables) performs. The oracle is the full recompute, proving
    merge(base, delta) == recompute(base UNION delta) exactly.

    Scale shape: refresh cost is O(delta rows), never O(base) — the
    base table is touched at MV grain only (months x statuses, a few
    hundred rows), so the merge union is bounded and the final re-agg
    is map-side trivial. COUNT/SUM are fully associative so the merge
    is exact; rounding happens once, after the merge, never on the
    partials."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").alias("d"),
    )
    split = "1997-01-01"
    base = o.filter(F.col("d") < split)
    delta = o.filter(F.col("d") >= split)

    def partial(df):
        return df.groupBy("ym", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("cnt_p"),
            F.sum("o_totalprice").alias("total_p"),
        )

    return (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("ym", "o_orderstatus")
        .agg(
            F.sum("cnt_p").cast("bigint").alias("cnt"),
            F.round(F.sum("total_p"), 2).alias("total"),
        )
    )


_KMV_SETOPS_ORACLE = """
    WITH u AS (
      SELECT DISTINCT event_type,
             user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events
    ),
    cnt AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY 1
    ),
    sk AS (
      SELECT event_type, hv
      FROM (SELECT event_type, hv,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
            FROM u)
      WHERE rn <= 64
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM cnt a JOIN cnt b ON a.event_type < b.event_type
    ),
    inter AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS exact_inter
      FROM u x JOIN u y ON x.user_id = y.user_id
                       AND x.event_type < y.event_type
      GROUP BY 1, 2
    ),
    merged AS (
      SELECT p.type_a, p.type_b, s.hv,
             MAX(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p
      JOIN sk s ON s.event_type IN (p.type_a, p.type_b)
      GROUP BY 1, 2, 3
    ),
    top AS (
      SELECT type_a, type_b, hv, in_a, in_b,
             ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY hv) AS rn
      FROM merged
    ),
    agg AS (
      SELECT type_a, type_b,
             COUNT(*) AS mu,
             MAX(CASE WHEN rn = 64 THEN hv END) AS x64,
             SUM(CASE WHEN rn <= 64 AND in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS k_both
      FROM top GROUP BY 1, 2
    )
    SELECT a.type_a, a.type_b,
           ca.n + cb.n - COALESCE(i.exact_inter, 0) AS exact_union,
           COALESCE(i.exact_inter, 0) AS exact_inter,
           ROUND(CASE WHEN a.mu < 64 THEN CAST(a.mu AS DOUBLE)
                      ELSE 63.0 / (CAST(a.x64 AS DOUBLE) / 1152921504606846976.0)
                 END, 4) AS est_union,
           ROUND(CASE WHEN a.mu < 64 THEN CAST(a.k_both AS DOUBLE)
                      ELSE (CAST(a.k_both AS DOUBLE) / 64.0)
                           * (63.0 / (CAST(a.x64 AS DOUBLE) / 1152921504606846976.0))
                 END, 4) AS est_inter,
           ABS(CASE WHEN a.mu < 64 THEN CAST(a.mu AS DOUBLE)
                    ELSE 63.0 / (CAST(a.x64 AS DOUBLE) / 1152921504606846976.0)
               END - (ca.n + cb.n - COALESCE(i.exact_inter, 0)))
             / (ca.n + cb.n - COALESCE(i.exact_inter, 0)) <= 0.35 AS union_in_corridor
    FROM agg a
    JOIN cnt ca ON ca.event_type = a.type_a
    JOIN cnt cb ON cb.event_type = a.type_b
    LEFT JOIN inter i ON i.type_a = a.type_a AND i.type_b = a.type_b
"""


@register(
    "agg_kmv_setops",
    oracle=_KMV_SETOPS_ORACLE,
    tags=("agg", "sketch"),
)
def agg_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET OPERATIONS — the property that makes sketch
    families useful at 100 TB is MERGEABILITY: two k=64 KMV user
    sketches (one per event_type segment) merge into a union sketch
    (the 64 smallest of the combined hash sets), the union cardinality
    is (k-1)/x_(k) of the merged sketch, and the intersection follows
    from the Jaccard estimator J = |top-64 hashes present in BOTH
    sketches| / 64 scaled by the union estimate — the exact algebra
    DataSketches' theta-sketch union/intersect performs. Built on the
    engine-portable 60-bit md5-prefix hash so the ESTIMATES are
    hash-verified bit-for-bit cross-engine, alongside exact
    union/intersection counts and the deterministic ±35%% union
    corridor (k=64 => SE ~12.7%%).

    Scale shape: the corpus-sized work is ONE (segment, user) distinct
    collapse; sketches are <= 64 rows per segment (broadcast grain)
    and every pairwise merge happens at sketch grain — segments^2 x 128
    rows, never user grain. The exact counts (the verification
    corridor, dropped in production) reuse the same distinct collapse;
    groups below k fall back to exact per the standard KMV rule."""
    from ..functions.hashing import portable_hash60

    TWO60 = float(1 << 60)
    u = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "user_id",
            portable_hash60(F.col("user_id").cast("string")).alias("hv"),
        )
        .distinct()
    )
    cnt = u.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("hv")
    sk = (
        u.select("event_type", "hv")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .drop("rn")
    )
    pairs = (
        cnt.select(F.col("event_type").alias("type_a"))
        .join(
            cnt.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    inter = (
        u.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            u.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    merged = (
        F.broadcast(pairs)
        .join(
            sk,
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "hv")
        .agg(
            F.max(
                F.when(F.col("event_type") == F.col("type_a"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("event_type") == F.col("type_b"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    w2 = Window.partitionBy("type_a", "type_b").orderBy("hv")
    agg = (
        merged.withColumn("rn", F.row_number().over(w2))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("mu"),
            F.max(F.when(F.col("rn") == 64, F.col("hv"))).alias("x64"),
            F.sum(
                F.when(
                    (F.col("rn") <= 64) & (F.col("in_a") == 1) & (F.col("in_b") == 1),
                    1,
                ).otherwise(0)
            ).alias("k_both"),
        )
    )
    est_u = F.when(F.col("mu") < 64, F.col("mu").cast("double")).otherwise(
        63.0 / (F.col("x64").cast("double") / F.lit(TWO60))
    )
    est_i = F.when(F.col("mu") < 64, F.col("k_both").cast("double")).otherwise(
        (F.col("k_both").cast("double") / 64.0)
        * (63.0 / (F.col("x64").cast("double") / F.lit(TWO60)))
    )
    exact_union = F.col("n_a") + F.col("n_b") - F.coalesce(
        F.col("exact_inter"), F.lit(0)
    )
    return (
        agg.join(
            F.broadcast(cnt.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(cnt.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
        .join(F.broadcast(inter), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            exact_union.cast("bigint").alias("exact_union"),
            F.coalesce(F.col("exact_inter"), F.lit(0)).cast("bigint").alias("exact_inter"),
            F.round(est_u, 4).alias("est_union"),
            F.round(est_i, 4).alias("est_inter"),
            (F.abs(est_u - exact_union) / exact_union <= 0.35).alias(
                "union_in_corridor"
            ),
        )
    )


_TABLE_DIFF_ORACLE = """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01'
        AND o_orderkey % 101 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           o.o_orderstatus AS old_status,
           n.o_orderstatus AS new_status
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus <> n.o_orderstatus
       OR o.o_totalprice <> n.o_totalprice
"""


@register(
    "table_diff",
    oracle=_TABLE_DIFF_ORACLE,
    tags=("lakehouse", "cdc"),
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot DIFF (Delta/Iceberg table-changes shape, the
    reconciliation report every migration/backfill validates with):
    two keyed snapshots of the orders table — 'old' is the pre-cutoff
    history, 'new' extends the window, drops every 101st key
    (simulating GDPR erasure) and rewrites every 97th key's status
    (simulating a correction batch) — full-outer joined on the key and
    classified added / removed / changed; unchanged rows are filtered
    OUT before anything leaves the join, so the diff output is
    delta-sized, not table-sized.

    Scale shape: ONE key-partitioned full-outer sort-merge join (both
    sides shuffle on the join key exactly once); the unchanged-row
    filter runs inside the join stage so only the delta survives to
    the exchange boundary. At 100 TB this is the standard snapshot
    reconciliation plan — bucketed/Z-ordered snapshots co-locate the
    join and the filter keeps the output proportional to churn."""
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < "1997-07-01").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("old_status"),
        F.col("o_totalprice").alias("old_total"),
    )
    new = (
        o.filter(
            (F.col("o_orderdate") < "1998-01-01")
            & (F.col("o_orderkey") % 101 != 0)
        )
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 97 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("new_status"),
            F.col("o_totalprice").alias("new_total"),
        )
    )
    j = old.join(new, "o_orderkey", "full_outer")
    return (
        j.filter(
            F.col("old_status").isNull()
            | F.col("new_status").isNull()
            | (F.col("old_status") != F.col("new_status"))
            | (F.col("old_total") != F.col("new_total"))
        )
        .select(
            "o_orderkey",
            F.when(F.col("old_status").isNull(), "added")
            .when(F.col("new_status").isNull(), "removed")
            .otherwise("changed")
            .alias("change_type"),
            "old_status",
            "new_status",
        )
    )


_PDS_STREAM_RUN = [0]


@register(
    "source_python_stream",
    oracle="""
    SELECT CAST(i % 7 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(i * i) AS BIGINT) AS sum_sq
    FROM range(10000) t(i)
    GROUP BY 1
    """,
    tags=("source", "streaming", "python-datasource"),
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING source via the Python Data Source API (Spark
    4's ``SimpleDataSourceStreamReader``): offset tracking
    (initialOffset → read(start) → nextOffset), replay
    (readBetweenOffsets — exactly-once on failure), and a bounded
    deterministic sequence drained across FOUR real micro-batches with
    processAllAvailable (an available-now trigger snapshots only the
    first simple-reader batch — measured, hence the drain choice). The
    streamed rows land in a memory sink and are re-aggregated batch-side; the
    oracle recomputes the closed form, so offset bookkeeping bugs
    (dropped/duplicated batches) break the hash.

    Scale shape: the simple-reader path intentionally trades partition
    parallelism for offset simplicity (it reads driver-side per batch
    — Spark's documented contract for low-volume streams); the
    partitioned ``DataSourceStreamReader`` planning splits executor-
    side is the 100 TB path and its batch twin is exercised by
    source_python_datasource. Classes are defined in-function so they
    ship by value (repo worker-serialization contract)."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    n_total, batch = 10_000, 2_500

    class SeqReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            install()
            s = start["i"]
            if s >= n_total:
                return iter([]), {"i": s}
            end = min(s + batch, n_total)
            return iter([(i, i * i) for i in range(s, end)]), {"i": end}

        def readBetweenOffsets(self, start, end):
            return iter([(i, i * i) for i in range(start["i"], end["i"])])

    class SeqStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "seq_stream_gen"

        def schema(self):
            return "i bigint, sq bigint"

        def simpleStreamReader(self, schema):
            return SeqReader()

    spark.dataSource.register(SeqStreamSource)
    _PDS_STREAM_RUN[0] += 1
    qname = f"pds_stream_{_PDS_STREAM_RUN[0]}"
    q = (
        spark.readStream.format("seq_stream_gen")
        .load()
        .writeStream.format("memory")
        .queryName(qname)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(qname)
        .groupBy((F.col("i") % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("sq").alias("sum_sq"),
        )
    )


@register(
    "streaming_cdc_apply",
    oracle="""
    WITH dels AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 17 = 0),
    upds AS (
      SELECT o_orderkey, o_totalprice + 1000.0 AS new_price
      FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 17 <> 0
    ),
    ins AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_orderpriority,
             o_totalprice FROM orders WHERE o_orderkey % 23 = 0
    ),
    merged AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             COALESCE(u.new_price, o.o_totalprice) AS price
      FROM orders o
      LEFT JOIN upds u ON o.o_orderkey = u.o_orderkey
      WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM dels)
      UNION ALL
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM ins
    )
    SELECT o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(price), 2) AS total_price
    FROM merged GROUP BY pri
    """,
    tags=("cdc", "streaming", "incremental"),
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC apply — the online twin of ``cdc_merge_apply``:
    a change feed ARRIVES as three ordered micro-batches (deletes,
    then updates, then inserts — strictly increasing landing mtimes,
    one file per trigger) and ``foreachBatch`` MERGEs each batch into
    a keyed state table as a GENERATION CHAIN: batch b reads
    generation b-1 (or the initial snapshot) and overwrites generation
    b, so a retried batch recomputes from the SAME input generation —
    idempotent under foreachBatch's at-least-once contract, and
    ORDER-CORRECT because Structured Streaming runs foreachBatch
    strictly sequentially per query. The DuckDB oracle is the batch
    MERGE answer, so a hash match proves 3-step sequential apply ≡
    one-shot MERGE.

    Scale shape at 100 TB: each apply is one broadcast-able anti-join
    (deletes), one broadcast left join (updates), and a union append —
    change batches are small relative to state, so the state table
    streams through executor memory once per batch (the plain-parquet
    MERGE shape; a table format with file-level pruning — or
    sink_upsert's partition-pruned rewrite — bounds the rewrite to
    touched partitions). State never crosses the driver; the final
    read aggregates the last generation only."""
    import os
    import time

    from ..session import ensure_conf
    from ..streaming.jobs import arrivals, drain, stage_arrivals

    ensure_conf(spark)
    t0 = time.time()
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    root = scratch_dir("cdc_stream")
    landing = os.path.join(root, "landing")
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")
    init = os.path.join(root, "init")
    o.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").alias("price"),
    ).write.mode("overwrite").parquet(init)
    # the three ordered change batches (deletes, updates, inserts)
    changes = (
        o.filter(F.col("o_orderkey") % 17 == 0)
        .select(
            F.lit("D").alias("op"),
            "o_orderkey",
            F.lit(None).cast("string").alias("o_orderpriority"),
            F.lit(None).cast("double").alias("price"),
            F.lit(0).alias("seq"),
        )
        .unionByName(
            o.filter(
                (F.col("o_orderkey") % 10 == 0) & (F.col("o_orderkey") % 17 != 0)
            ).select(
                F.lit("U").alias("op"),
                "o_orderkey",
                F.lit(None).cast("string").alias("o_orderpriority"),
                (F.col("o_totalprice") + 1000.0).alias("price"),
                F.lit(1).alias("seq"),
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 23 == 0).select(
                F.lit("I").alias("op"),
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_orderpriority",
                F.col("o_totalprice").alias("price"),
                F.lit(2).alias("seq"),
            )
        )
    )
    stage_arrivals(changes, "seq", 3, landing)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        prev_path = (
            os.path.join(state, f"gen={batch_id - 1}") if batch_id > 0 else init
        )
        prev = spark.read.parquet(prev_path)
        dels = batch_df.filter(F.col("op") == "D").select("o_orderkey")
        upds = batch_df.filter(F.col("op") == "U").select(
            "o_orderkey", F.col("price").alias("new_price")
        )
        ins = batch_df.filter(F.col("op") == "I").select(
            "o_orderkey", "o_orderpriority", "price"
        )
        out = (
            prev.join(F.broadcast(dels), "o_orderkey", "left_anti")
            .join(F.broadcast(upds), "o_orderkey", "left")
            .select(
                "o_orderkey",
                "o_orderpriority",
                F.coalesce("new_price", "price").alias("price"),
            )
            .unionByName(ins)
        )
        out.write.mode("overwrite").parquet(
            os.path.join(state, f"gen={batch_id}")
        )

    stream = arrivals(spark, changes.schema, landing)
    drain(stream.writeStream.foreachBatch(apply), ckpt, "streaming_cdc_apply", t0)
    gens = sorted(
        int(d.split("=")[1])
        for d in os.listdir(state)
        if d.startswith("gen=")
    )
    final = spark.read.parquet(os.path.join(state, f"gen={gens[-1]}"))
    return final.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("price"), 2).alias("total_price"),
    )


_MG_SHARDS = 8
_MG_K = 16  # per-shard summary capacity (error <= n_p / (K+1) per shard)


@register(
    "agg_heavy_hitters_mg",
    oracle=f"""
    WITH base AS (SELECT user_id AS k FROM events),
    sh AS (
      SELECT k,
             CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || '#mg'), 1, 15))
                  AS BIGINT) % {_MG_SHARDS} AS shard
      FROM base),
    c AS (SELECT shard, k, COUNT(*) AS c FROM sh GROUP BY shard, k),
    r AS (SELECT shard, k, c,
                 ROW_NUMBER() OVER (PARTITION BY shard
                                    ORDER BY c DESC, k) AS rk
          FROM c),
    off AS (SELECT shard,
                   COALESCE(MAX(CASE WHEN rk = {_MG_K + 1} THEN c END), 0)
                     AS off
            FROM r GROUP BY shard),
    kept AS (SELECT r.k, r.c - off.off AS est_p
             FROM r JOIN off USING (shard)
             WHERE rk <= {_MG_K} AND r.c - off.off > 0),
    merged AS (SELECT k, CAST(SUM(est_p) AS BIGINT) AS est
               FROM kept GROUP BY k),
    exact AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_n
              FROM base GROUP BY k),
    bound AS (SELECT CAST(SUM(off) AS BIGINT) AS err_max FROM off)
    SELECT k AS user_id, est, exact_n, err_max
    FROM merged JOIN exact USING (k) CROSS JOIN bound
    ORDER BY est DESC, k LIMIT 10
    """,
    tags=("agg", "sketch"),
)
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Misra–Gries / SpaceSaving heavy hitters with a
    PROVABLE, REPORTED error bound — the deterministic-guarantee
    counterpart to the probabilistic count-min sketch
    (agg_cms_frequency): each of S shards keeps only a K-counter
    summary (top-K exact shard counts, all decremented by the largest
    evicted count — the classic MG decrement applied to the
    pre-aggregated shard, so the result is ORDER-FREE and
    engine-deterministic); merged estimates are the summed surviving
    counters. Guarantees, both pytest-pinned per row: est ≤ exact, and
    exact − est ≤ Σ_p offset_p (= err_max, ≤ n/(K+1)) — so any key
    with frequency above err_max is guaranteed present (pigeonhole:
    if f_p ≤ n_p/(K+1) in every shard then f ≤ n/(K+1)).

    Scale shape at 100 TB: sharding is a map-side portable hash (NOT
    physical partitioning, so the summary is invariant to file splits
    and session parallelism — the perturbed/plain gates see identical
    rows); per-shard counts are one (shard, key) hash aggregate with
    map-side combine; the top-K cut is a WindowGroupLimit-pruned rank
    per shard; everything after operates on ≤ S·K summary rows. The
    exact_n column is verification display (like the CMS key) — the
    production summary never computes it; communication cost is S·K
    counters regardless of key cardinality."""
    from pyspark.sql.window import Window

    from ..functions.hashing import portable_hash60

    S, K = _MG_SHARDS, _MG_K
    base = _t(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    sh = base.withColumn(
        "shard",
        portable_hash60(F.concat(F.col("k").cast("string"), F.lit("#mg"))) % S,
    )
    c = sh.groupBy("shard", "k").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("shard").orderBy(F.col("c").desc(), "k")
    r = c.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= K + 1
    )
    off = r.groupBy("shard").agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == K + 1, F.col("c"))), F.lit(0)
        ).alias("off")
    )
    kept = (
        r.filter(F.col("rk") <= K)
        .join(F.broadcast(off), "shard")
        .select("k", (F.col("c") - F.col("off")).alias("est_p"))
        .filter(F.col("est_p") > 0)
    )
    merged = kept.groupBy("k").agg(F.sum("est_p").cast("bigint").alias("est"))
    exact = base.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_n")
    )
    bound = off.agg(F.sum("off").cast("bigint").alias("err_max"))
    return (
        merged.join(exact, "k")
        .crossJoin(F.broadcast(bound))
        .orderBy(F.col("est").desc(), "k")
        .limit(10)
        .select(F.col("k").alias("user_id"), "est", "exact_n", "err_max")
    )
