"""Weighted PageRank over an aggregated entity graph.

The two-phase shape every corpus-scale graph centrality job takes:
(1) a DISTRIBUTED edge aggregation boils the 100 TB fact table down to
a (src, dst, weight) matrix whose size is bounded by the entity
vocabulary, never the row count; (2) a fixed number of power-iteration
rounds runs over that bounded matrix as plain joins + integer sums —
the same two layers as `operators/textrank.py`, lifted from a per-doc
token graph to the corpus-level entity graph (and the same
architecture as GraphX/Pregel PageRank, whose per-superstep message
aggregation is exactly the contribution groupBy below).

Exactness discipline (cross-engine, partition-order independent):
edge weights quantize to int64 cents PER ROW before the integer sum;
ranks live as int64 at a 1e12 scale; every per-edge contribution is
one fixed-shape double expression round(d * r * w / W) whose operands
are exact int64 — IEEE doubles make each elementary op deterministic,
and the only reduction over doubles is avoided entirely because
contributions are rounded back to int64 BEFORE summation (float sums
depend on partition order; integer sums don't). Dangling mass (nodes
with no out-edges) is redistributed uniformly per the standard
formulation (Page et al. 1999).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from p6__mapreduce_spark.functions.frames import local_frame
from p6__mapreduce_spark.functions.pin import pin

SCALE = 1_000_000_000_000  # rank fixed-point scale (1e12)


def nation_trade_pagerank(
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    *,
    iters: int = 3,
    damping: float = 0.85,
    rest: float = 0.15,
) -> DataFrame:
    """(nation_key, n_name, pr_q, out_w_q): PageRank of the nation
    trade network — edge src→dst weighted by total discounted revenue
    (int64 cents) flowing from supplier-nation src to customer-nation
    dst — after ``iters`` damped power-iteration rounds from a uniform
    start.

    Plan: lineitem→orders is the one big shuffle; customer and
    supplier sides broadcast; the edge matrix (<= N^2 rows, N = nation
    count) is localCheckpoint-ed once and every iteration is joins
    over that bounded relation — per-round cost independent of corpus
    size, the property that lets the loop run as many rounds as needed
    at 100 TB. ``rest`` is passed as its own literal rather than
    computed as 1 - damping (1 - 0.85 and the literal 0.15 are
    DIFFERENT doubles; both engines must parse the same constant)."""
    rev_q = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
    ).cast("long")
    edges = (
        lineitem.select("l_orderkey", "l_suppkey", rev_q.alias("rev_q"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .agg(F.sum("rev_q").alias("w"))
        # <= N^2 rows, bounded by the nation vocabulary: ONE collect and
        # the damped power-iteration runs driver-side (r10 — the retired
        # lazy join-chain plan re-analyzed/codegen'd a 3-round-deep tree
        # per run; same collect-and-iterate discipline as
        # pca_top_component). Every float op below mirrors the retired
        # Spark expressions bit-for-bit (same cast points, same
        # left-assoc order, HALF_UP round via _round_half_away); the
        # DuckDB oracle (unchanged) replays every round in SQL.
    )
    from p6__mapreduce_spark.similarity.kmeans import _round_half_away

    edge_rows = [(int(r.src), int(r.dst), int(r.w)) for r in edges.collect()]
    node_rows = [(int(r.node), r.n_name) for r in
                 nation.select(F.col("n_nationkey").alias("node"), "n_name").collect()]
    outw: dict[int, int] = {}
    for src, _dst, w in edge_rows:
        outw[src] = outw.get(src, 0) + w
    nn = len(node_rows)
    spark = nation.sparkSession
    if nn == 0:
        return local_frame(
            spark, [], "nation_key long, n_name string, pr_q long, out_w_q long"
        ).orderBy(F.desc("pr_q"), "nation_key")
    ranks = {node: _round_half_away(float(SCALE) / float(nn)) for node, _ in node_rows}
    for _ in range(iters):
        inflow: dict[int, int] = {}
        for src, dst, w in edge_rows:
            if src not in ranks:
                continue
            c = _round_half_away(
                damping * float(ranks[src]) * float(w) / float(outw[src])
            )
            inflow[dst] = inflow.get(dst, 0) + c
        d_mass = sum(r for node, r in ranks.items() if node not in outw)
        base = _round_half_away(rest * float(SCALE) / float(nn))
        dshare = _round_half_away(damping * float(d_mass) / float(nn))
        ranks = {
            node: base + dshare + inflow.get(node, 0) for node, _ in node_rows
        }
    out = [
        (node, name, ranks[node], outw.get(node, 0)) for node, name in node_rows
    ]
    return local_frame(
        spark, out, "nation_key long, n_name string, pr_q long, out_w_q long"
    ).orderBy(F.desc("pr_q"), "nation_key")


def pagerank_oracle_sql(*, iters: int = 3, damping: float = 0.85, rest: float = 0.15) -> str:
    """DuckDB replica: the edge aggregation plus every power-iteration
    round unrolled as CTEs (the `kmeans._iteration_sql` pattern) with
    the identical fixed-shape double expressions."""
    d, rst = repr(float(damping)), repr(float(rest))
    parts = [
        """edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         CAST(SUM(CAST(round(l.l_extendedprice * (1.0e0 - l.l_discount) * 100.0e0)
                  AS BIGINT)) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
)""",
        "outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY 1)",
        "nnv AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM nation)",
        f"""r0 AS (
  SELECT n_nationkey AS node,
         CAST(round(CAST({SCALE} AS DOUBLE) / nn.nn) AS BIGINT) AS r
  FROM nation CROSS JOIN nnv nn
)""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""c{i} AS (
  SELECT e.dst, CAST(round({d} * r.r * e.w / o.out_w) AS BIGINT) AS c
  FROM edges e JOIN r{i - 1} r ON r.node = e.src JOIN outw o ON o.src = e.src
)"""
        )
        parts.append(
            f"""d{i} AS (
  SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS d_mass
  FROM r{i - 1} r LEFT JOIN outw o ON o.src = r.node
  WHERE o.out_w IS NULL
)"""
        )
        parts.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST(round({rst} * CAST({SCALE} AS DOUBLE) / nn.nn) AS BIGINT)
           + CAST(round({d} * CAST(dg.d_mass AS DOUBLE) / nn.nn) AS BIGINT)
           + COALESCE(i.inflow, 0) AS r
  FROM (SELECT n_nationkey AS node FROM nation) n
  LEFT JOIN (SELECT dst AS node, CAST(SUM(c) AS BIGINT) AS inflow
             FROM c{i} GROUP BY 1) i USING (node)
  CROSS JOIN d{i} dg CROSS JOIN nnv nn
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT r.node AS nation_key, n.n_name, CAST(r.r AS BIGINT) AS pr_q,
       CAST(COALESCE(o.out_w, 0) AS BIGINT) AS out_w_q
FROM r{iters} r
JOIN nation n ON n.n_nationkey = r.node
LEFT JOIN outw o ON o.src = r.node
ORDER BY pr_q DESC, nation_key"""
    )


HITS_SCALE = 1_000_000  # hub/authority fixed-point scale (1e6)


def nation_trade_hits(
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    *,
    iters: int = 2,
) -> DataFrame:
    """(nation_key, n_name, hub_q6, auth_q6): HITS hubs-and-authorities
    (Kleinberg 1999) over the same supplier-nation → customer-nation
    trade matrix as ``nation_trade_pagerank``. Hubs are nations whose
    EXPORTS flow to strong importers; authorities are nations whose
    IMPORTS come from strong exporters — the two-sided centrality
    PageRank's single score conflates.

    Exactness discipline: edge weights quantize ONCE to parts-per-
    million of total trade (int64), and each half-iteration renorms
    its scores to the 1e6 fixed-point by the round's max — so every
    Σ w_q·score term is ≤ |nations|·1e12, orders of magnitude inside
    int64 at ANY scale factor (the normalizers are 1-row scalar
    broadcasts, the Q22 shape). Per-round cost is joins over the
    bounded (≤ N², N = |nations|) edge matrix — corpus-size
    independent after the one big lineitem→orders shuffle."""
    rev_q = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
    ).cast("long")
    raw = (
        lineitem.select("l_orderkey", "l_suppkey", rev_q.alias("rev_q"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .agg(F.sum("rev_q").alias("w"))
    )
    wtot = raw.agg(F.sum("w").alias("w_tot"))
    edges = (
        raw.crossJoin(F.broadcast(wtot))  # 1-row scalar broadcast (labeled)
        .select(
            "src",
            "dst",
            F.round(F.col("w").cast("double") * F.lit(float(HITS_SCALE)) / F.col("w_tot"))
            .cast("long")
            .alias("wq"),
        )
        # <= N^2 rows, bounded by the nation vocabulary: ONE collect and
        # the half-rounds run driver-side (r10 — see nation_trade_pagerank
        # above; identical cast points / left-assoc order / HALF_UP
        # rounding, DuckDB oracle unchanged and still replaying each
        # half-round in SQL)
    )
    from p6__mapreduce_spark.similarity.kmeans import _round_half_away

    edge_rows = [(int(r.src), int(r.dst), int(r.wq)) for r in edges.collect()]
    node_rows = [(int(r.node), r.n_name) for r in
                 nation.select(F.col("n_nationkey").alias("node"), "n_name").collect()]
    spark = nation.sparkSession

    def _renorm(raw: dict[int, int]) -> dict[int, int]:
        """round(raw * HITS_SCALE / max) per node, 0 where absent — the
        retired per-round Spark expression verbatim. An all-zero raw
        round would divide by zero; the retired ANSI plan threw there
        (CAST(Infinity/NaN AS BIGINT)), so keep erroring rather than
        silently diverge from the oracle."""
        if not raw:
            return {}
        mx = max(raw.values())
        if mx == 0:
            raise ArithmeticError("HITS renorm: zero max score (ANSI cast parity)")
        return {
            n: _round_half_away(float(v) * float(HITS_SCALE) / float(mx))
            for n, v in raw.items()
        }

    hubs = {node: HITS_SCALE for node, _ in node_rows}
    auths: dict[int, int] = dict(hubs)  # overwritten in round 1
    for _ in range(iters):
        a_raw: dict[int, int] = {}
        for src, dst, wq in edge_rows:
            if src in hubs:
                a_raw[dst] = a_raw.get(dst, 0) + wq * hubs[src]
        auths = _renorm(a_raw)
        h_raw: dict[int, int] = {}
        for src, dst, wq in edge_rows:
            if dst in auths:
                h_raw[src] = h_raw.get(src, 0) + wq * auths[dst]
        hubs = _renorm(h_raw)
    out = [
        (node, name, hubs.get(node, 0), auths.get(node, 0))
        for node, name in node_rows
    ]
    return local_frame(
        spark, out, "nation_key long, n_name string, hub_q6 long, auth_q6 long"
    ).orderBy(F.col("hub_q6").desc(), "nation_key")


def hits_oracle_sql(*, iters: int = 2) -> str:
    """DuckDB replica: edge ppm quantization + each half-iteration
    unrolled as CTEs with identical fixed-shape double expressions."""
    s = float(HITS_SCALE)
    parts = [
        """raw AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         CAST(SUM(CAST(round(l.l_extendedprice * (1.0e0 - l.l_discount) * 100.0e0)
                  AS BIGINT)) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
)""",
        "wtot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_tot FROM raw)",
        f"""edges AS (
  SELECT src, dst,
         CAST(round(CAST(w AS DOUBLE) * {s!r} / w_tot) AS BIGINT) AS wq
  FROM raw CROSS JOIN wtot
)""",
        f"h0 AS (SELECT n_nationkey AS node, CAST({HITS_SCALE} AS BIGINT) AS h FROM nation)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""araw{i} AS (
  SELECT e.dst, CAST(SUM(e.wq * h.h) AS BIGINT) AS a_raw
  FROM edges e JOIN h{i - 1} h ON h.node = e.src GROUP BY 1
)"""
        )
        parts.append(f"amax{i} AS (SELECT CAST(MAX(a_raw) AS BIGINT) AS a_max FROM araw{i})")
        parts.append(
            f"""a{i} AS (
  SELECT n.node,
         COALESCE(CAST(round(CAST(ar.a_raw AS DOUBLE) * {s!r} / am.a_max) AS BIGINT),
                  CAST(0 AS BIGINT)) AS a
  FROM (SELECT n_nationkey AS node FROM nation) n
  LEFT JOIN araw{i} ar ON ar.dst = n.node
  CROSS JOIN amax{i} am
)"""
        )
        parts.append(
            f"""hraw{i} AS (
  SELECT e.src, CAST(SUM(e.wq * a.a) AS BIGINT) AS h_raw
  FROM edges e JOIN a{i} a ON a.node = e.dst GROUP BY 1
)"""
        )
        parts.append(f"hmax{i} AS (SELECT CAST(MAX(h_raw) AS BIGINT) AS h_max FROM hraw{i})")
        parts.append(
            f"""h{i} AS (
  SELECT n.node,
         COALESCE(CAST(round(CAST(hr.h_raw AS DOUBLE) * {s!r} / hm.h_max) AS BIGINT),
                  CAST(0 AS BIGINT)) AS h
  FROM (SELECT n_nationkey AS node FROM nation) n
  LEFT JOIN hraw{i} hr ON hr.src = n.node
  CROSS JOIN hmax{i} hm
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT n.n_nationkey AS nation_key, n.n_name,
       h.h AS hub_q6, a.a AS auth_q6
FROM nation n
JOIN h{iters} h ON h.node = n.n_nationkey
JOIN a{iters} a ON a.node = n.n_nationkey
ORDER BY hub_q6 DESC, nation_key"""
    )


RA_SCALE = 1_000_000_000_000  # resource-allocation fixed-point scale (1e12)


def part_link_prediction(lineitem: DataFrame, *, min_common: int = 2, k: int = 100) -> DataFrame:
    """Link-prediction scores over the part co-purchase graph — the
    four classic neighborhood indices (Liben-Nowell & Kleinberg 2003)
    computed on the BIPARTITE order-part incidence, which is the only
    scale-safe route: a neighbor-of-neighbor join on the projected
    part-part graph costs sum_z deg(z)^2 (~120-degree hubs here make
    that O(1e8) at sf0.1 and unbounded at 100 TB), while pair
    generation through shared ORDERS is bounded by max-basket-size^2
    per order row.

    Per candidate pair (p1, p2) with >= ``min_common`` shared orders:
      - cn: common-neighbor count (shared orders);
      - jaccard: cn / (deg1 + deg2 - cn);
      - cosine: cn / sqrt(deg1 * deg2);
      - ra: resource-allocation index sum_{o ∋ p1,p2} 1/|parts(o)|
        (Zhou-Lu-Zhang 2007 — the bipartite form that beats plain CN
        for recommendation), kept partition-order independent by
        quantizing EACH order's 1/|o| to int64 at 1e12 per row and
        summing integers (a float sum would depend on shuffle order).

    Top-``k`` pairs by the exact integer (ra_x1e12, cn) key — the
    float columns are derived for reporting, never compared.

    Scale shape: one distinct + one order-keyed self-join (pair count
    = sum_o |o|^2, |o| <= ~7 on TPC-H), one pair aggregation, two
    degree joins (broadcast while small, AQE otherwise), TakeOrdered
    for the global top-k."""
    # op feeds FIVE consumers (osize, deg, both self-join sides — plan
    # audit r10: 5 lineitem scans re-running the distinct shuffle per
    # branch). Pin the basket relation once: one corpus pass, then all
    # downstream work is bounded by the (order, part) incidence table.
    op = pin(lineitem.select("l_orderkey", "l_partkey").distinct())
    osize = op.groupBy("l_orderkey").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    deg = op.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    a = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1"))
    b = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2"))
    w = F.round(F.lit(float(RA_SCALE)) / F.col("sz").cast("double")).cast("long")
    pairs = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .join(osize.withColumnRenamed("l_orderkey", "o"), "o")
        .groupBy("p1", "p2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum(w).cast("long").alias("ra_x1e12"),
        )
        .filter(F.col("cn") >= int(min_common))
    )
    d1 = deg.select(F.col("l_partkey").alias("p1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("l_partkey").alias("p2"), F.col("deg").alias("deg2"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        pairs.join(d1, "p1")
        .join(d2, "p2")
        .select(
            "p1",
            "p2",
            "cn",
            "deg1",
            "deg2",
            "ra_x1e12",
            (dd("cn") / (dd("deg1") + dd("deg2") - dd("cn"))).alias("jaccard"),
            (dd("cn") / F.sqrt(dd("deg1") * dd("deg2"))).alias("cosine"),
            (dd("ra_x1e12") / F.lit(float(RA_SCALE))).alias("ra"),
        )
        .orderBy(F.col("ra_x1e12").desc(), F.col("cn").desc(), "p1", "p2")
        .limit(int(k))
    )


LINK_PREDICTION_ORACLE_SQL = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), osize AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS sz FROM op GROUP BY 1
), deg AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS deg FROM op GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(CAST(round(1.0e12 / CAST(s.sz AS DOUBLE)) AS BIGINT)) AS BIGINT) AS ra_x1e12
  FROM op a
  JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN osize s ON s.l_orderkey = a.l_orderkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {min_common}
)
SELECT p.p1, p.p2, p.cn, d1.deg AS deg1, d2.deg AS deg2, p.ra_x1e12,
       CAST(p.cn AS DOUBLE) / (CAST(d1.deg AS DOUBLE) + CAST(d2.deg AS DOUBLE) - CAST(p.cn AS DOUBLE)) AS jaccard,
       CAST(p.cn AS DOUBLE) / sqrt(CAST(d1.deg AS DOUBLE) * CAST(d2.deg AS DOUBLE)) AS cosine,
       CAST(p.ra_x1e12 AS DOUBLE) / 1.0e12 AS ra
FROM pairs p
JOIN deg d1 ON d1.l_partkey = p.p1
JOIN deg d2 ON d2.l_partkey = p.p2
ORDER BY p.ra_x1e12 DESC, p.cn DESC, p.p1, p.p2
LIMIT {k}
"""


def link_prediction_oracle_sql(*, min_common: int = 2, k: int = 100) -> str:
    return LINK_PREDICTION_ORACLE_SQL.format(min_common=min_common, k=k)
