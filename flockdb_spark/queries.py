"""The declared correctness query set (SURVEY.md §2.e, Q1–Q21).

Each query exists twice: a Spark callable ``(spark, sf_dir) -> DataFrame``
exercising the engine's operators, and a DuckDB oracle SQL string over the same
parquet tables.  The driver hash-compares the two at sf0.01; ``tools/check.py``
replicates that locally.  Column names/types are aligned on both sides.

Fixed parameters (FIXTURES.md §5) are computed inside each query (CTE on the
oracle side, a collected lookup on the Spark side) so they are deterministic at
every scale factor.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .graph import EdgeStore
from .operators.algebra import Difference, Intersection, Simple, Term, Union, WhereIn
from .operators.counts import size_estimate
from .operators.merge import apply_oplog, metadata_merge, temporal_merge
from .operators.paging import Cursor, paginate, paginate_all
from .plans.compiler import (
    QueryTerm,
    SelectOperation,
    SelectOperationType,
)
from .schema import (
    EDGE_COLUMNS,
    EDGE_SCHEMA,
    METADATA_COLUMNS,
    METADATA_SCHEMA,
    empty_df,
    local_df,
    ordered_uuid_position,
    ordered_uuid_position_sql,
    position_to_millis,
)
from .sources.edges import _read, build_edges, build_metadata, with_fixture_ctes

# supplier pairs for the set-op queries (graph 3 is the only graph whose
# destinations are shared between sources); suppliers 1..5 exist at every sf
PAIRS = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3)]

_STORES: dict[str, EdgeStore] = {}
_PARAMS: dict[str, dict] = {}

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: bump when the store derivation (sources/edges.py build_edges /
#: build_metadata) or the persisted layout shape changes — the cache tag
#: includes it, so stale layouts from older code are never read
#: (v2: added the UNIQUE (source_id, destination_id) bucketed index twin)
_LAYOUT_VERSION = 2


def _store_cache_dir(sf_dir: str) -> Path:
    """Per-sf_dir location of the persisted index-shaped store layout."""
    root = os.environ.get(
        "FLOCKDB_STORE_CACHE",
        str(Path(__file__).resolve().parents[1] / "spark-warehouse" / "store_cache"),
    )
    key = f"{Path(sf_dir).resolve()}|v{_LAYOUT_VERSION}"
    tag = hashlib.sha1(key.encode()).hexdigest()[:8]
    return Path(root) / f"{Path(sf_dir).name}-{tag}"


def register_unique_twin(spark: SparkSession, path: str, name: str) -> DataFrame:
    """(Re-)register the UNIQUE-index twin files at ``path`` as an external
    BUCKETED table — bucket metadata lives in the catalog, not the files, and
    the default catalog is session-scoped, so every fresh session re-creates
    the entry (the spec must match what ``EdgeStore.write_unique_twin``
    wrote: hash(source_id) into UNIQUE_TWIN_BUCKETS, dest-sorted files)."""
    from .graph import UNIQUE_TWIN_BUCKETS

    if not spark.catalog.tableExists(name):
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in EDGE_SCHEMA.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET"
            f" CLUSTERED BY (source_id) SORTED BY (source_id, destination_id)"
            f" INTO {UNIQUE_TWIN_BUCKETS} BUCKETS LOCATION '{path}'"
        )
    return spark.table(name)


def store_for(spark: SparkSession, sf_dir: str) -> EdgeStore:
    """Memoized fixture store, materialized ONCE per sf_dir — THROUGH the
    production layout.

    The derived store (union-of-three-graphs build plus the g3 LWW window,
    sources/edges.py) is written once per sf_dir via
    ``EdgeStore.write_optimized`` — graph_id-partitioned, source-RANGE
    clustered, position-sorted parquet, the engine's replacement for the
    reference's PRIMARY (source_id, state, position) index
    (``shards/SqlShard.scala:64-67``) — and every gate query then plans a
    plain pruned parquet scan: partition pruning on graph_id, min/max
    file/row-group skipping on source_id.  A point read touches one file
    instead of the whole table, exactly as it would on the cluster; an
    in-memory ``localCheckpoint`` (the previous shape) serves the same rows
    but cannot prune, so every point read paid a full-table scan.
    Metadata persists alongside (graph_id-partitioned, source-sorted).
    """
    st = _STORES.get((id(spark), sf_dir))
    if st is not None and st.edges.sparkSession is not spark:
        st = None  # stale session (defensive: a restarted driver session)
    if st is None:
        base = _store_cache_dir(sf_dir)
        epath, mpath = base / "edges", base / "metadata"
        upath = base / "edges_by_src_dst"
        if not ((epath / "_SUCCESS").exists() and (mpath / "_SUCCESS").exists()):
            # build into a scratch dir, then one atomic rename publishes both
            # tables — a concurrent builder loses the rename and reads the
            # winner's layout; a killed builder leaves only scratch debris
            tmp = base.with_name(base.name + f".tmp-{os.getpid()}")
            built = EdgeStore.from_sf_dir(spark, sf_dir)
            built.edges = built.edges.localCheckpoint(eager=True)
            built.write_optimized(str(tmp / "edges"))
            # the second reference index: UNIQUE (source_id, destination_id)
            # (SqlShard.scala:64-67) — bucketed twin for dest-ordered scans
            built.write_unique_twin(
                str(tmp / "edges_by_src_dst"),
                table=f"edges_twin_build_{os.getpid()}",
            )
            (
                build_metadata(spark, sf_dir, built.edges)
                .repartitionByRange("graph_id", "source_id")
                .sortWithinPartitions("source_id")
                .select(*METADATA_COLUMNS)
                .write.mode("overwrite")
                .partitionBy("graph_id")
                .parquet(str(tmp / "metadata"))
            )
            try:
                os.rename(tmp, base)
            except OSError:
                import shutil

                shutil.rmtree(tmp, ignore_errors=True)  # lost the race
        st = EdgeStore.read_optimized(spark, str(epath))
        st.metadata = spark.read.parquet(str(mpath)).select(*METADATA_COLUMNS)
        if (upath / "_SUCCESS").exists():
            import re

            tname = "edges_by_src_dst_" + re.sub(r"[^0-9A-Za-z]", "_", base.name)
            st.by_src_dst = register_unique_twin(spark, str(upath), tname)
        _STORES[(id(spark), sf_dir)] = st
    return st


def params_for(spark: SparkSession, sf_dir: str) -> dict:
    """Collected fixed parameters (FIXTURES.md §5), cached per sf_dir."""
    p = _PARAMS.get(sf_dir)
    if p is None:
        orders = _read(spark, sf_dir, "orders")
        src10 = [
            r["source_id"]
            for r in orders.groupBy(F.col("o_custkey").alias("source_id"))
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= 3)
            .orderBy("source_id")
            .limit(10)
            .collect()
        ]
        st = store_for(spark, sf_dir)
        first = src10[0]
        true10 = [
            r["destination_id"]
            for r in st.graph(1)
            .where(F.col("source_id") == first)
            .orderBy("destination_id")
            .limit(10)
            .collect()
        ]
        p = {"src10": src10, "src5": sorted(src10)[:5], "first": first, "true10": true10}
        _PARAMS[sf_dir] = p
    return p


def _src10_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = params_for(spark, sf_dir)["src10"]
    return local_df(spark, [(int(i),) for i in ids], "source_id long")


# ---------------------------------------------------------------------------
# Q1 — point edge lookup (R1, EdgesService.scala:62-72)
# ---------------------------------------------------------------------------

@query(
    "q01_point_lookup",
    with_fixture_ctes("""
SELECT e.graph_id, e.source_id, e.destination_id, e.position, e.updated_at, e."count", e.state
FROM edges e
JOIN (
  SELECT source_id, min(destination_id) AS destination_id
  FROM edges WHERE graph_id = 1 AND source_id IN (SELECT source_id FROM src10)
  GROUP BY source_id
) p USING (source_id, destination_id)
WHERE e.graph_id = 1
"""),
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    g1 = st.graph(1)
    p = (
        g1.join(F.broadcast(_src10_df(spark, sf_dir)), "source_id", "left_semi")
        .groupBy("source_id")
        .agg(F.min("destination_id").alias("destination_id"))
    )
    return g1.join(F.broadcast(p), ["source_id", "destination_id"], "inner").select(*EDGE_COLUMNS)


# ---------------------------------------------------------------------------
# Q2 — contains: exists in state Normal|Negative (R2, EdgesService.scala:51-60)
# ---------------------------------------------------------------------------

@query(
    "q02_contains",
    with_fixture_ctes("""
SELECT p.source_id, p.destination_id,
       coalesce(e.state IN (0, 3), FALSE) AS is_contained
FROM (
  SELECT source_id, min(destination_id) AS destination_id
  FROM edges WHERE graph_id = 1 AND source_id IN (SELECT source_id FROM src10)
  GROUP BY source_id
  UNION ALL
  SELECT source_id, -source_id - 1 AS destination_id FROM src10
) p
LEFT JOIN (SELECT * FROM edges WHERE graph_id = 1) e USING (source_id, destination_id)
"""),
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    g1 = st.graph(1)
    src10 = _src10_df(spark, sf_dir)
    present = (
        g1.join(F.broadcast(src10), "source_id", "left_semi")
        .groupBy("source_id")
        .agg(F.min("destination_id").alias("destination_id"))
    )
    absent = src10.select("source_id", (-F.col("source_id") - 1).alias("destination_id"))
    probes = present.unionByName(absent)
    e = g1.select("source_id", "destination_id", "state")
    return (
        probes.join(e, ["source_id", "destination_id"], "left")
        .select(
            "source_id",
            "destination_id",
            F.coalesce(F.col("state").isin(0, 3), F.lit(False)).alias("is_contained"),
        )
    )


# ---------------------------------------------------------------------------
# Q3 — vertex metadata lookup (R3, EdgesService.scala:74-84)
# ---------------------------------------------------------------------------

@query(
    "q03_metadata",
    with_fixture_ctes("""
SELECT graph_id, source_id, "count", state, updated_at
FROM metadata WHERE source_id IN (SELECT source_id FROM src10)
"""),
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    return st.metadata.join(
        F.broadcast(_src10_df(spark, sf_dir)), "source_id", "left_semi"
    ).select("graph_id", "source_id", "count", "state", "updated_at")


# ---------------------------------------------------------------------------
# Q4 — degree counts per state (R4/W6, SqlShard.scala:175-188)
# ---------------------------------------------------------------------------

@query(
    "q04_degree_counts",
    with_fixture_ctes("""
SELECT source_id, state, count(*) AS n
FROM edges
WHERE graph_id = 1 AND source_id IN (
  SELECT DISTINCT source_id FROM edges WHERE graph_id = 1 ORDER BY source_id LIMIT 100
)
GROUP BY source_id, state
"""),
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    g1 = st.graph(1)
    smallest = g1.select("source_id").distinct().orderBy("source_id").limit(100)
    return (
        g1.join(F.broadcast(smallest), "source_id", "left_semi")
        .groupBy("source_id", "state")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Q5 — wildcard adjacency scan, Normal state (R5/R6, SimpleQuery.scala:23-47)
# ---------------------------------------------------------------------------

@query(
    "q05_wildcard",
    with_fixture_ctes("""
SELECT source_id, destination_id, position
FROM edges
WHERE graph_id = 1 AND state = 0 AND source_id IN (SELECT source_id FROM src10)
"""),
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    # evaluated for the r11 job-floor item: routing this page through an
    # AQE-off interactive session (session.interactive_session) measured
    # NO win in an alternating A/B at sf3.0 (min 0.169 s vs 0.164 s) —
    # the floor is scheduler + task launch for the ~34-file scan, not
    # AQE re-planning.  Kept on the default session.
    st = store_for(spark, sf_dir)
    return (
        st.graph(1)
        .where(F.col("state") == 0)
        .join(F.broadcast(_src10_df(spark, sf_dir)), "source_id", "left_semi")
        .select("source_id", "destination_id", "position")
    )


# ---------------------------------------------------------------------------
# Q6 — keyset pages of 3 with cursors until exhausted (R6/R15,
# ResultWindow.scala:34-104).  The Spark side drives the REAL paginate loop;
# the oracle reproduces the page assignment with a window.
# ---------------------------------------------------------------------------

@query(
    "q06_keyset_pages",
    with_fixture_ctes("""
SELECT source_id, destination_id, position,
       CAST((rn0) // 3 AS INTEGER) AS page_idx,
       -- backward walk starts at the LAST forward page's prev_cursor, so it
       -- visits rows at DESC-index < lp (the last page's start) in reverse,
       -- 3 at a time counting from index lp-1 downward
       CAST(CASE WHEN rn0 < lp THEN (lp - 1 - rn0) // 3 ELSE -1 END AS INTEGER) AS page_back
FROM (
  SELECT source_id, destination_id, position,
         row_number() OVER (
           PARTITION BY source_id ORDER BY position DESC, destination_id DESC
         ) - 1 AS rn0,
         ((count(*) OVER (PARTITION BY source_id)) - 1) // 3 * 3 AS lp
  FROM edges
  WHERE graph_id = 1 AND state = 0 AND source_id IN (SELECT source_id FROM src10)
) t
"""),
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the REAL cursor machinery both ways (hard part #2, SURVEY §7.4):
    forward pages via next_cursor until exhausted, then a backward walk via
    prev_cursor (negative-cursor reversed scans, ResultWindow.scala:44-57)
    from the last page back to CURSOR_START.  The oracle reproduces both page
    assignments in closed form."""
    st = store_for(spark, sf_dir)
    rows: dict[tuple, list] = {}
    for src in params_for(spark, sf_dir)["src10"]:
        df = st.forward(1, src, (0,))
        pages = paginate_all(df, "position", "destination_id", 3)
        for idx, page in enumerate(pages):
            for pos, dest in page.rows:
                rows[(int(src), int(dest))] = [int(pos), idx, -1]
        if not pages:
            continue
        cur = pages[-1].prev_cursor
        back_idx = 0
        while isinstance(cur, Cursor):
            bp = paginate(df, "position", "destination_id", 3, cur)
            for pos, dest in bp.rows:
                rows[(int(src), int(dest))][2] = back_idx
            back_idx += 1
            cur = bp.prev_cursor
    return local_df(
        spark,
        [(s, d, p, i, b) for (s, d), (p, i, b) in rows.items()],
        "source_id long, destination_id long, position long, page_idx int, page_back int",
    )


# ---------------------------------------------------------------------------
# Q7 — scan ordered by destination_id (R7, SqlShard.scala:240-244)
# ---------------------------------------------------------------------------

@query(
    "q07_by_destination",
    with_fixture_ctes("""
SELECT source_id, destination_id,
       CAST(row_number() OVER (PARTITION BY source_id ORDER BY destination_id DESC) AS INTEGER) AS rn
FROM edges
WHERE graph_id = 1 AND state = 0 AND source_id IN (SELECT source_id FROM src10)
"""),
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dest-ordered rank, served from the UNIQUE
    (source_id, destination_id) index twin — the same index the reference
    FORCES for dest-ordered scans (``shards/SqlShard.scala:240-244``
    ``USE INDEX (unique_source_id_destination_id)``).  The bucketed twin's
    scan reports hash(source_id) partitioning, the broadcast semi-join
    preserves it, and the rank window plans with ZERO exchanges:
    scan → filter → in-partition sort → window (r10 plan paid an exchange
    of the post-join rows).  The 10-source probe follows R9's inline-≤64
    rule (operators/algebra.py): an IN literal, not a broadcast join —
    it pushes to the parquet scan, prunes buckets, and drops the broadcast
    job from the floor.  Falls back to the primary layout when the store
    has no twin (ad-hoc EdgeStore.from_edges callers)."""
    st = store_for(spark, sf_dir)
    base = (
        st.by_src_dst.where(F.col("graph_id") == 1)
        if st.by_src_dst is not None
        else st.graph(1)
    )
    src10 = [int(i) for i in params_for(spark, sf_dir)["src10"]]
    w = Window.partitionBy("source_id").orderBy(F.desc("destination_id"))
    return (
        base.where(F.col("state") == 0)
        .where(F.col("source_id").isin(src10))
        .select(
            "source_id",
            "destination_id",
            F.row_number().over(w).cast("int").alias("rn"),
        )
    )


# ---------------------------------------------------------------------------
# Q8 — backward direction (ForwardingManager.scala:35-37): who points at a
# fixed destination set; graph 3 (supplier→part), ten smallest parts
# ---------------------------------------------------------------------------

@query(
    "q08_backward",
    with_fixture_ctes("""
SELECT destination_id, source_id, position
FROM edges
WHERE graph_id = 3 AND state = 0 AND destination_id IN (
  SELECT DISTINCT destination_id FROM edges WHERE graph_id = 3 ORDER BY destination_id LIMIT 10
)
"""),
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    g3 = st.graph(3)
    dst10 = g3.select("destination_id").distinct().orderBy("destination_id").limit(10)
    return (
        g3.where(F.col("state") == 0)
        .join(F.broadcast(dst10), "destination_id", "left_semi")
        .select("destination_id", "source_id", "position")
    )


# ---------------------------------------------------------------------------
# Q9 — WhereIn: IN-list semi-join (R9, WhereInQuery.scala:24-47); candidate
# list = the first source's 10 smallest true destinations + 10 absent ids
# ---------------------------------------------------------------------------

@query(
    "q09_where_in",
    with_fixture_ctes("""
SELECT destination_id AS id
FROM edges
WHERE graph_id = 1 AND state = 0
  AND source_id = (SELECT min(source_id) FROM src10)
  AND destination_id IN (
    SELECT destination_id FROM (
      SELECT destination_id FROM edges
      WHERE graph_id = 1 AND source_id = (SELECT min(source_id) FROM src10)
      ORDER BY destination_id LIMIT 10)
    UNION ALL
    SELECT * FROM (VALUES (-1),(-2),(-3),(-4),(-5),(-6),(-7),(-8),(-9),(-10)) v(destination_id)
  )
"""),
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    p = params_for(spark, sf_dir)
    candidates = tuple(p["true10"]) + tuple(range(-1, -11, -1))
    node = WhereIn(Term(1, p["first"], True, (0,)), candidates)
    return node.ids(st)


# ---------------------------------------------------------------------------
# Q10 — intersection of supplier pairs (R11, IntersectionQuery.scala:23-76)
# ---------------------------------------------------------------------------

def _pair_filter_sql(a_col: str = "a.source_id", b_col: str = "b.source_id") -> str:
    return " OR ".join(f"({a_col} = {a} AND {b_col} = {b})" for a, b in PAIRS)


@query(
    "q10_intersection",
    with_fixture_ctes(f"""
SELECT a.source_id AS a, b.source_id AS b, a.destination_id AS id
FROM (SELECT * FROM edges WHERE graph_id = 3 AND state = 0) a
JOIN (SELECT * FROM edges WHERE graph_id = 3 AND state = 0) b
  ON a.destination_id = b.destination_id
WHERE {_pair_filter_sql()}
"""),
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.batch import batch_intersection

    # all pairs in ONE plan (R18 multi-query batching): broadcast pair list
    # joined into a single edge scan — N plans → 1 scan + 1 shuffle
    return batch_intersection(store_for(spark, sf_dir), 3, PAIRS)


# ---------------------------------------------------------------------------
# Q11 — union of supplier pairs (R12, UnionQuery.scala:22-49)
# ---------------------------------------------------------------------------

@query(
    "q11_union",
    with_fixture_ctes(f"""
SELECT DISTINCT p.a, p.b, e.destination_id AS id
FROM (VALUES {", ".join(f"({a}, {b})" for a, b in PAIRS)}) p(a, b)
JOIN (SELECT * FROM edges WHERE graph_id = 3 AND state = 0) e
  ON e.source_id = p.a OR e.source_id = p.b
"""),
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.batch import batch_union

    return batch_union(store_for(spark, sf_dir), 3, PAIRS)


# ---------------------------------------------------------------------------
# Q12 — difference A − B (R13, DifferenceQuery.scala)
# ---------------------------------------------------------------------------

@query(
    "q12_difference",
    with_fixture_ctes(f"""
SELECT p.a, p.b, e.destination_id AS id
FROM (VALUES {", ".join(f"({a}, {b})" for a, b in PAIRS)}) p(a, b)
JOIN (SELECT * FROM edges WHERE graph_id = 3 AND state = 0) e ON e.source_id = p.a
WHERE NOT EXISTS (
  SELECT 1 FROM edges x
  WHERE x.graph_id = 3 AND x.state = 0 AND x.source_id = p.b
    AND x.destination_id = e.destination_id
)
"""),
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.batch import batch_difference

    return batch_difference(store_for(spark, sf_dir), 3, PAIRS)


# ---------------------------------------------------------------------------
# Q13 — nested compound trees via the RPN compiler (R14,
# SelectCompiler.scala:44-77): (s1 ∩ s2) ∪ s3 and (s1 ∪ s2) − s3
# ---------------------------------------------------------------------------

@query(
    "q13_nested",
    with_fixture_ctes(
        """
SELECT 'i_u' AS expr, id FROM ((SELECT id FROM s1 INTERSECT SELECT id FROM s2) UNION SELECT id FROM s3)
UNION ALL
SELECT 'u_d' AS expr, id FROM ((SELECT id FROM s1 UNION SELECT id FROM s2) EXCEPT SELECT id FROM s3)
""",
        "s1 AS (SELECT destination_id AS id FROM edges WHERE graph_id=3 AND state=0 AND source_id=1)",
        "s2 AS (SELECT destination_id AS id FROM edges WHERE graph_id=3 AND state=0 AND source_id=2)",
        "s3 AS (SELECT destination_id AS id FROM edges WHERE graph_id=3 AND state=0 AND source_id=3)",
    ),
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.compiler import compile_select

    st = store_for(spark, sf_dir)
    t = lambda s: SelectOperation(  # noqa: E731
        SelectOperationType.SIMPLE_QUERY, QueryTerm(s, 3, True, None, (0,))
    )
    prog_iu = [t(1), t(2), SelectOperation(SelectOperationType.INTERSECTION),
               t(3), SelectOperation(SelectOperationType.UNION)]
    prog_ud = [t(1), t(2), SelectOperation(SelectOperationType.UNION),
               t(3), SelectOperation(SelectOperationType.DIFFERENCE)]
    a = compile_select(prog_iu).ids(st).select(F.lit("i_u").alias("expr"), "id")
    b = compile_select(prog_ud).ids(st).select(F.lit("u_d").alias("expr"), "id")
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Q14 — selectEdges full-row page + intersectEdges id-list (R8/R10,
# EdgesService.scala:102-119, SqlShard.scala:337-349)
# ---------------------------------------------------------------------------

@query(
    "q14_select_edges",
    with_fixture_ctes("""
SELECT graph_id, source_id, destination_id, position, updated_at, "count", state
FROM edges
WHERE graph_id = 1 AND state = 0
  AND source_id = (SELECT min(source_id) FROM src10)
  AND destination_id IN (
    SELECT destination_id FROM edges
    WHERE graph_id = 1 AND source_id = (SELECT min(source_id) FROM src10)
    ORDER BY destination_id LIMIT 10)
"""),
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    p = params_for(spark, sf_dir)
    node = WhereIn(Term(1, p["first"], True, (0,)), tuple(p["true10"]))
    return node.edges(st).select(*EDGE_COLUMNS)


# ---------------------------------------------------------------------------
# Q15 — wildcard incl. archived: state != Removed (R17, SqlShard.scala:246-250)
# ---------------------------------------------------------------------------

@query(
    "q15_incl_archived",
    with_fixture_ctes("""
SELECT source_id, destination_id, state
FROM edges
WHERE graph_id = 1 AND state <> 1 AND source_id IN (SELECT source_id FROM src10)
"""),
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    return (
        st.graph(1)
        .where(F.col("state") != 1)
        .join(F.broadcast(_src10_df(spark, sf_dir)), "source_id", "left_semi")
        .select("source_id", "destination_id", "state")
    )


# ---------------------------------------------------------------------------
# Q16 — multi-state filters: {Removed, Archived} on g1, {Negative} on g2
# ---------------------------------------------------------------------------

@query(
    "q16_state_filters",
    with_fixture_ctes("""
SELECT graph_id, source_id, destination_id, state
FROM edges
WHERE (graph_id = 1 AND state IN (1, 2) AND source_id IN (SELECT source_id FROM src10))
   OR (graph_id = 2 AND state = 3 AND source_id < 10)
"""),
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    a = (
        st.graph(1)
        .where(F.col("state").isin(1, 2))
        .join(F.broadcast(_src10_df(spark, sf_dir)), "source_id", "left_semi")
    )
    b = st.graph(2).where((F.col("state") == 3) & (F.col("source_id") < 10))
    return a.unionByName(b).select("graph_id", "source_id", "destination_id", "state")


# ---------------------------------------------------------------------------
# Q17 — op-log replay through the W2 temporal merge (SqlShard.scala:432-500).
# The op-log is derived from events: dense (src,dst) collisions, out-of-order
# and equal timestamps with different states — the SqlShardSpec conflict
# matrix (unit/SqlShardSpec.scala:323-410) at data scale.
# ---------------------------------------------------------------------------

_Q17_OPS_CTE = """
ops AS (
  SELECT CAST(event_id % 4 AS INTEGER) AS op_state,
         user_id % 8 AS source_id,
         event_id % 32 AS destination_id,
         event_id AS position,
         1800000000 + event_id % 16 AS updated_at
  FROM events
)
""".strip()


@query(
    "q17_oplog_replay",
    with_fixture_ctes("""
SELECT CAST(1 AS INTEGER) AS graph_id, f.source_id, f.destination_id,
       p.position, f.updated_at, CAST(0 AS INTEGER) AS "count", f.state
FROM (
  -- LWW winner per key: last op in canonical (ts, priority, position) order
  SELECT source_id, destination_id,
         arg_max(CAST(op_state AS INTEGER), rn) AS state,
         arg_max(updated_at, rn) AS updated_at
  FROM seq GROUP BY source_id, destination_id
) f JOIN (
  -- position fold (SqlShard.scala:436-446): an op sets position only when it
  -- inserts (rn=1) or resurrects Removed/Negative -> Normal; the edge keeps
  -- the latest set value
  SELECT source_id, destination_id, arg_max(position, rn) AS position
  FROM seq
  WHERE rn = 1 OR (prev_state IN (1, 3) AND op_state = 0)
  GROUP BY source_id, destination_id
) p USING (source_id, destination_id)
""", _Q17_OPS_CTE, """
seq AS (
  SELECT *,
         row_number() OVER w AS rn,
         lag(op_state) OVER w AS prev_state
  FROM ops
  WINDOW w AS (PARTITION BY source_id, destination_id
               ORDER BY updated_at, ((4 - op_state) % 4), position)
)
""".strip()),
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    ops = events.select(
        F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("op_state"),
        F.lit(1).cast("int").alias("graph_id"),
        F.pmod(F.col("user_id"), F.lit(8)).alias("source_id"),
        F.pmod(F.col("event_id"), F.lit(32)).alias("destination_id"),
        F.col("event_id").alias("position"),
        (F.lit(1800000000) + F.pmod(F.col("event_id"), F.lit(16))).alias("updated_at"),
    )
    empty_edges = empty_df(spark, EDGE_SCHEMA)
    empty_md = empty_df(spark, METADATA_SCHEMA)
    # fresh-store replay: every row is batch rows, so the touched-key
    # split would be three dead shuffles (see apply_oplog docstring).
    # The merge is the per-key fold (see sequenced_merge); this fixture's
    # ≤4k-op keys fit its collect_list buffer comfortably
    merged, _ = apply_oplog(
        empty_edges, empty_md, ops, has_mass=False, split_untouched=False
    )
    return merged.select(*EDGE_COLUMNS)


# ---------------------------------------------------------------------------
# Q18 — mass-archive then re-add-all (W3, Multi.scala:101-137; mirrors
# integration/EdgesSpec.scala:95-125).  Archive every src10 vertex, then
# re-add the 5 smallest; the oracle reproduces the state machine with CASE
# (valid because the op timestamps are newer than all data timestamps).
# ---------------------------------------------------------------------------

@query(
    "q18_mass_action",
    with_fixture_ctes("""
SELECT graph_id, source_id, destination_id, position,
       CASE WHEN state <> 1 AND source_id IN (SELECT source_id FROM src10 ORDER BY source_id LIMIT 5)
              THEN 3100000000
            WHEN state <> 1 AND source_id IN (SELECT source_id FROM src10)
              THEN 3000000000
            ELSE updated_at END AS updated_at,
       "count",
       CAST(CASE WHEN state <> 1 AND source_id IN (SELECT source_id FROM src10 ORDER BY source_id LIMIT 5)
              THEN 0
            WHEN state <> 1 AND source_id IN (SELECT source_id FROM src10)
              THEN 2
            ELSE state END AS INTEGER) AS state
FROM edges
WHERE graph_id = 1 AND source_id IN (SELECT source_id FROM src10)
"""),
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    p = params_for(spark, sf_dir)
    # restrict the merge INPUT to the touched vertices up front — the output
    # only concerns src10, and a semi-join doesn't push through the merge's
    # union on its own (manual predicate pushdown into the write path)
    src10_df = F.broadcast(_src10_df(spark, sf_dir))
    g1 = st.graph(1).join(src10_df, "source_id", "left_semi")
    md = st.metadata.where(F.col("graph_id") == 1).join(src10_df, "source_id", "left_semi")

    # Both mass ops target the not-Removed edge set, which archive/add never
    # change — so the archive@t1 / re-add@t2 sequence collapses into ONE merge
    # batch (LWW picks the t2 add for src5), instead of two chained merges
    # whose second pass re-evaluates the first's whole lineage.
    ops = [(2, 1, int(s), None, 0, 3_000_000_000) for s in p["src10"]] + [
        (0, 1, int(s), None, 0, 3_100_000_000) for s in p["src5"]
    ]
    ops_df = local_df(
        spark,
        ops,
        "op_state int, graph_id int, source_id long, destination_id long, position long, updated_at long",
    )
    # g1/md are already restricted to the touched src10 vertices, so the
    # pass-through split inside apply_oplog would be dead weight
    e2, _ = apply_oplog(g1, md, ops_df, has_single=False, split_untouched=False)
    return e2.select(*EDGE_COLUMNS)


# ---------------------------------------------------------------------------
# Q19 — metadata LWW merge from an op log (W7, SqlShard.scala:646-697;
# mirrors unit/SqlShardSpec.scala:563-646)
# ---------------------------------------------------------------------------

_Q19_OPS_CTE = """
mops AS (
  SELECT CAST(event_id % 4 AS INTEGER) AS op_state,
         user_id AS source_id,
         1900000000 + event_id % 8 AS updated_at
  FROM events
)
""".strip()


@query(
    "q19_metadata_merge",
    with_fixture_ctes("""
SELECT CAST(2 AS INTEGER) AS graph_id, source_id, CAST(0 AS INTEGER) AS "count",
       op_state AS state, updated_at
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY source_id
    ORDER BY updated_at DESC, ((4 - op_state) % 4) DESC
  ) AS rn
  FROM mops
) t WHERE rn = 1
""", _Q19_OPS_CTE),
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    writes = events.select(
        F.lit(2).cast("int").alias("graph_id"),
        F.col("user_id").alias("source_id"),
        F.lit(0).cast("int").alias("count"),
        F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("state"),
        (F.lit(1900000000) + F.pmod(F.col("event_id"), F.lit(8))).alias("updated_at"),
    )
    empty_md = empty_df(spark, METADATA_SCHEMA)
    return metadata_merge(empty_md, writes)


# ---------------------------------------------------------------------------
# Q20 — reconcile two diverged replicas (W11, jobs/Copy.scala:65-129):
# copy A is missing destination_id % 97 == 0 rows, copy B holds stale
# (day-older, Normal-state) versions of destination_id % 101 == 0 rows
# ---------------------------------------------------------------------------

@query(
    "q20_reconcile",
    with_fixture_ctes("""
SELECT graph_id, source_id, destination_id, position,
       CASE WHEN destination_id % 97 = 0 AND destination_id % 101 = 0
            THEN updated_at - 86400 ELSE updated_at END AS updated_at,
       "count",
       CAST(CASE WHEN destination_id % 97 = 0 AND destination_id % 101 = 0
            THEN 0 ELSE state END AS INTEGER) AS state
FROM edges WHERE graph_id = 1
"""),
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.reconcile import reconcile

    st = store_for(spark, sf_dir)
    g1 = st.graph(1)
    copy_a = g1.where(F.pmod(F.col("destination_id"), F.lit(97)) != 0)
    copy_b = g1.withColumn(
        "updated_at",
        F.when(
            F.pmod(F.col("destination_id"), F.lit(101)) == 0,
            F.col("updated_at") - 86400,
        ).otherwise(F.col("updated_at")),
    ).withColumn(
        "state",
        F.when(F.pmod(F.col("destination_id"), F.lit(101)) == 0, F.lit(0))
        .otherwise(F.col("state"))
        .cast("int"),
    )
    return reconcile(copy_a, copy_b).select(*EDGE_COLUMNS)


# ---------------------------------------------------------------------------
# Q21 — count2 closed-form estimates (§3.3; IntersectionQuery.scala:24-28,
# UnionQuery.scala:23, DifferenceQuery.scala:25)
# ---------------------------------------------------------------------------

@query(
    "q21_count_estimates",
    with_fixture_ctes(f"""
SELECT p.a, p.b,
       CAST(floor(least(ma."count", mb."count") * 0.1) AS BIGINT) AS est_intersection,
       CAST(greatest(ma."count", mb."count") AS BIGINT) AS est_union,
       CAST(ma."count" AS BIGINT) AS est_difference
FROM (VALUES {", ".join(f"({a}, {b})" for a, b in PAIRS)}) p(a, b)
JOIN metadata ma ON ma.graph_id = 3 AND ma.source_id = p.a
JOIN metadata mb ON mb.graph_id = 3 AND mb.source_id = p.b
"""),
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = store_for(spark, sf_dir)
    rows = []
    for a, b in PAIRS:
        sa, sb = Simple(Term(3, a, True, (0,))), Simple(Term(3, b, True, (0,)))
        rows.append(
            (
                a,
                b,
                size_estimate(st, Intersection(sa, sb)),
                size_estimate(st, Union(sa, sb)),
                size_estimate(st, Difference(sa, sb)),
            )
        )
    return local_df(
        spark, rows, "a long, b long, est_intersection long, est_union long, est_difference long"
    )


# ---------------------------------------------------------------------------
# Q22 — selectAll ordered full-table scan, the copy/repair source (R16,
# SqlShard.scala:216-238).  The oracle is the whole derived graph-2 table;
# the Spark side goes through the service facade so the gate covers the API
# path, not just the store scan.
# ---------------------------------------------------------------------------

@query(
    "q22_select_all",
    with_fixture_ctes("""
SELECT graph_id, source_id, destination_id, position, updated_at, "count", state
FROM edges
WHERE graph_id = 2
ORDER BY source_id, destination_id
"""),
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .service import FlockService

    svc = FlockService(store_for(spark, sf_dir))
    return svc.select_all(graph_id=2).select(*EDGE_COLUMNS)


# ---------------------------------------------------------------------------
# Q23 — select2 multi-query batch (R18, EdgesService.scala:86-100): five
# compound programs of mixed op kinds, each paged to its first 20 ids in
# canonical order, all answered by ONE scan + ONE flags aggregation
# (operators/batch.py).  The oracle reproduces the batch with a VALUES
# program table + window paging.
# ---------------------------------------------------------------------------

# one program per PAIRS entry, cycling through the three op kinds
_Q23_PROGRAMS = [
    ("intersection", 1, 2),
    ("union", 2, 3),
    ("difference", 3, 4),
    ("intersection", 4, 5),
    ("difference", 1, 3),
]

@query(
    "q23_select2_batch",
    with_fixture_ctes(f"""
SELECT qix, op, a, b, id FROM (
  SELECT f.*, row_number() OVER (PARTITION BY qix ORDER BY id DESC) AS rn
  FROM (
    SELECT p.qix, p.op, p.a, p.b, e.destination_id AS id,
           max(CASE WHEN e.source_id = p.a THEN 1 ELSE 0 END) AS ha,
           max(CASE WHEN e.source_id = p.b THEN 1 ELSE 0 END) AS hb
    FROM (VALUES {", ".join(f"({i}, '{op}', {a}, {b})" for i, (op, a, b) in enumerate(_Q23_PROGRAMS))}) p(qix, op, a, b)
    JOIN edges e
      ON e.graph_id = 3 AND e.state = 0 AND e.source_id IN (p.a, p.b)
    GROUP BY p.qix, p.op, p.a, p.b, e.destination_id
  ) f
  WHERE (op = 'union')
     OR (op = 'intersection' AND ha = 1 AND hb = 1)
     OR (op = 'difference' AND ha = 1 AND hb = 0)
) WHERE rn <= 20
"""),
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.batch import batch_select2

    out = batch_select2(store_for(spark, sf_dir), 3, _Q23_PROGRAMS, page_count=20)
    return out.select(
        F.col("qix").cast("int").alias("qix"), "op", "a", "b", "id"
    )


# ---------------------------------------------------------------------------
# Q24 — selectEdges multi-query batch (R8/R10 batched, Flockdb.thrift:158-160
# takes list<EdgeQuery>; EdgesService.scala:102-119 loops it).  Twelve edge
# pages — ten forward wildcard terms, one intersectEdges IN-list, one
# backward term — answered by ONE coarse-filtered scan + one N·page-sized
# shuffle (operators/batch.batch_edge_pages, select2's q23 treatment for the
# full-edge-row variant).  rn ≤ count+1: the +1 row is the has-more cursor
# probe fetched in the same round trip (SqlShard.scala:263-278).
# ---------------------------------------------------------------------------

_Q24_EDGE_COLS = 'graph_id, source_id, destination_id, position, updated_at, "count", state'


@query(
    "q24_select_edges_batch",
    with_fixture_ctes(f"""
SELECT CAST(qix AS INTEGER) AS qix, CAST(rn AS INTEGER) AS rn, {_Q24_EDGE_COLS}
FROM (
  SELECT q.qix, 5 AS pc, {", ".join("e." + c for c in ['graph_id', 'source_id', 'destination_id', 'position', 'updated_at', '"count"', 'state'])},
         row_number() OVER (
           PARTITION BY q.qix ORDER BY e.position DESC, e.destination_id DESC
         ) AS rn
  FROM (SELECT row_number() OVER (ORDER BY source_id) - 1 AS qix, source_id
        FROM src10) q
  JOIN edges e
    ON e.graph_id = 1 AND e.state = 0 AND e.source_id = q.source_id
  UNION ALL
  SELECT 10 AS qix, 8 AS pc, {", ".join("e." + c for c in ['graph_id', 'source_id', 'destination_id', 'position', 'updated_at', '"count"', 'state'])},
         row_number() OVER (ORDER BY e.position DESC, e.destination_id DESC) AS rn
  FROM edges e
  WHERE e.graph_id = 1 AND e.state = 0
    AND e.source_id = (SELECT min(source_id) FROM src10)
    AND e.destination_id IN (
      SELECT destination_id FROM edges
      WHERE graph_id = 1 AND source_id = (SELECT min(source_id) FROM src10)
      ORDER BY destination_id LIMIT 10)
  UNION ALL
  SELECT 11 AS qix, 5 AS pc, {", ".join("e." + c for c in ['graph_id', 'source_id', 'destination_id', 'position', 'updated_at', '"count"', 'state'])},
         row_number() OVER (ORDER BY e.position DESC, e.source_id DESC) AS rn
  FROM edges e
  WHERE e.graph_id = 1 AND e.state = 0
    AND e.destination_id = (
      SELECT min(destination_id) FROM edges
      WHERE graph_id = 1 AND source_id = (SELECT min(source_id) FROM src10))
)
WHERE rn <= pc + 1
"""),
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.batch import batch_edge_pages

    st = store_for(spark, sf_dir)
    p = params_for(spark, sf_dir)
    specs: list = [(Term(1, s, True, (0,)), None, 5) for s in p["src10"]]
    specs.append((Term(1, p["first"], True, (0,)), tuple(p["true10"]), 8))
    specs.append((Term(1, p["true10"][0], False, (0,)), None, 5))
    out = batch_edge_pages(st, specs)
    return out.select(
        F.col("qix").cast("int").alias("qix"),
        F.col("rn").cast("int").alias("rn"),
        *EDGE_COLUMNS,
    )


# ---------------------------------------------------------------------------
# Q25 — W5 ordered-uuid positions (UuidGenerator.scala:26-39): the
# millis<<20 | low-20-bits layout, gated value-exact.  hash_mode="portable"
# swaps the production xxhash64 low word for the multiplicative scramble so
# the oracle re-derives every position; ms_back pins the reversible decode
# (position div 2^20 == millis), low20 pins the in-millisecond word.
# ---------------------------------------------------------------------------

@query(
    "q25_ordered_uuid",
    with_fixture_ctes(f"""
SELECT event_id, pos, pos // 1048576 AS ms_back, pos % 1048576 AS low20
FROM (
  SELECT event_id,
         {ordered_uuid_position_sql(
             "1700000000000 + event_id % 86400000", "user_id * 31 + event_id"
         )} AS pos
  FROM events WHERE event_id % 97 = 0
)
"""),
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events").where(F.col("event_id") % 97 == 0)
    ms = F.lit(1700000000000) + F.col("event_id") % 86400000
    key = F.col("user_id") * 31 + F.col("event_id")
    pos = ordered_uuid_position(ms, key, hash_mode="portable")
    return ev.select(
        "event_id",
        pos.alias("pos"),
        position_to_millis(pos).alias("ms_back"),
        F.pmod(pos, F.lit(1 << 20)).alias("low20"),
    )
