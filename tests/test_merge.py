"""W2 temporal-merge conflict matrix — the table-driven re-encoding of the
reference's richest semantic fixture (``unit/SqlShardSpec.scala:323-561``):
older/newer/equal timestamps × prior states, idempotence, commutativity.
"""

import itertools

import pytest

from conftest import edge_rows_df
from flockdb_spark.operators.merge import metadata_merge, temporal_merge
from flockdb_spark.schema import METADATA_SCHEMA, STATE_PRIORITY

E = (1, 10, 20)  # graph, source, destination key under test


def one(spark, ts, state, pos=100):
    return edge_rows_df(spark, [(1, 10, 20, pos, ts, state)])


def merged_state(existing, writes):
    rows = temporal_merge(existing, writes).collect()
    assert len(rows) == 1
    return rows[0]


# (existing_state, incoming_state) across all 16 combinations
MATRIX = list(itertools.product([0, 1, 2, 3], repeat=2))


@pytest.mark.parametrize("old_state,new_state", MATRIX)
def test_newer_write_always_wins(spark, old_state, new_state):
    # newer updated_at wins regardless of state (SqlShard.scala:432-468)
    r = merged_state(one(spark, 1000, old_state), one(spark, 2000, new_state, pos=200))
    assert r["state"] == new_state and r["updated_at"] == 2000 and r["position"] == 200


@pytest.mark.parametrize("old_state,new_state", MATRIX)
def test_older_write_always_loses(spark, old_state, new_state):
    # out-of-order delivery: the older op must lose (SqlShardSpec.scala:350-354)
    r = merged_state(one(spark, 2000, old_state, pos=200), one(spark, 1000, new_state))
    assert r["state"] == old_state and r["updated_at"] == 2000 and r["position"] == 200


@pytest.mark.parametrize("old_state,new_state", MATRIX)
def test_equal_timestamp_priority(spark, old_state, new_state):
    # equal ts → higher priority state wins: Removed > Archived > Negative >
    # Normal (Edge.scala:61-68; SqlShardSpec.scala:356-377)
    r = merged_state(one(spark, 1000, old_state, pos=100), one(spark, 1000, new_state, pos=100))
    expected = max(old_state, new_state, key=lambda s: STATE_PRIORITY[s])
    assert r["state"] == expected


def test_idempotent(spark):
    # duplicate delivery is a no-op (SqlShardSpec.scala:383-387)
    w = one(spark, 1000, 2)
    once = temporal_merge(one(spark, 500, 0), w).collect()
    twice = temporal_merge(temporal_merge(one(spark, 500, 0), w), w).collect()
    assert once == twice


def test_commutative(spark):
    # any delivery order converges (doc/blog.md:67-75)
    ops = [(1000, 0, 100), (1500, 1, 150), (1500, 2, 160), (900, 3, 90)]
    results = set()
    for perm in itertools.permutations(ops):
        edges = edge_rows_df(spark, [])
        for ts, st, pos in perm:
            edges = temporal_merge(edges, one(spark, ts, st, pos))
        results.add(tuple(edges.collect()[0]))
    assert len(results) == 1
    # winner: ts=1500 tie → Removed(1) has priority 3 > Archived(2)'s 2
    final = next(iter(results))
    assert final[6] == 1 and final[4] == 1500


def test_distinct_keys_do_not_interact(spark):
    a = edge_rows_df(spark, [(1, 10, 20, 1, 100, 0), (1, 10, 21, 2, 200, 1), (2, 10, 20, 3, 300, 2)])
    b = edge_rows_df(spark, [(1, 11, 20, 4, 400, 3)])
    out = temporal_merge(a, b)
    assert out.count() == 4


def test_metadata_merge_matrix(spark):
    # W7: same LWW + priority rule on vertices (SqlShardSpec.scala:563-646)
    def md(ts, state):
        return spark.createDataFrame([(1, 10, 0, state, ts)], METADATA_SCHEMA)

    r = metadata_merge(md(1000, 0), md(2000, 2)).collect()[0]
    assert r["state"] == 2 and r["updated_at"] == 2000
    r = metadata_merge(md(2000, 2), md(1000, 1)).collect()[0]
    assert r["state"] == 2
    r = metadata_merge(md(1000, 2), md(1000, 1)).collect()[0]
    assert r["state"] == 1  # equal ts: Removed outranks Archived


def test_sequenced_merge_position_preservation(spark):
    """The updateEdge position rule (SqlShard.scala:436-446): position is
    kept across state transitions except Removed/Negative -> Normal."""
    from flockdb_spark.operators.merge import sequenced_merge
    from flockdb_spark.schema import EDGE_SCHEMA

    def run(ops):
        rows = [(1, 1, 2, pos, ts, 0, st) for (ts, pos, st) in ops]
        df = spark.createDataFrame(rows, EDGE_SCHEMA)
        empty = spark.createDataFrame([], EDGE_SCHEMA)
        [r] = sequenced_merge(empty, df).collect()
        return (r["updated_at"], r["state"], r["position"])

    # archive keeps the original position even though it carries its own
    assert run([(100, 5, 0), (200, 999, 2)]) == (200, 2, 5)
    # resurrect from Removed -> Normal takes the new position
    assert run([(100, 5, 0), (200, 999, 1), (300, 7, 0)]) == (300, 0, 7)
    # resurrect from Negative -> Normal takes the new position
    assert run([(100, 5, 0), (200, 999, 3), (300, 7, 0)]) == (300, 0, 7)
    # Archived -> Normal KEEPS the old position (the explicit exception)
    assert run([(100, 5, 0), (200, 999, 2), (300, 7, 0)]) == (300, 0, 5)
    # equal timestamps: higher priority state wins, position from the insert
    assert run([(100, 5, 0), (100, 9, 1)]) == (100, 1, 5)
    # out-of-order delivery canonicalizes to timestamp order
    assert run([(300, 7, 0), (200, 999, 1), (100, 5, 0)]) == (300, 0, 7)


def test_backward_mass_action_targets_incoming_edges(spark):
    """A wildcard op with is_forward=False must apply to edges INTO the
    vertex (Multi.scala:102-126, Direction.Backward) — not to the vertex's
    outgoing edges."""
    from flockdb_spark.operators.merge import apply_oplog
    from flockdb_spark.schema import METADATA_SCHEMA

    edges = edge_rows_df(
        spark,
        [
            (1, 10, 99, 100, 1000, 0),  # into vertex 99 — must be archived
            (1, 11, 99, 101, 1000, 0),  # into vertex 99 — must be archived
            (1, 99, 50, 102, 1000, 0),  # OUT of vertex 99 — untouched
            (1, 12, 77, 103, 1000, 0),  # unrelated — untouched
        ],
    )
    md = spark.createDataFrame(
        [(1, s, 1, 0, 1000) for s in (10, 11, 12, 99)], METADATA_SCHEMA
    )
    ops = spark.createDataFrame(
        [(2, 1, 99, None, 0, 2000, False)],
        "op_state int, graph_id int, source_id long, destination_id long, "
        "position long, updated_at long, is_forward boolean",
    )
    e2, m2 = apply_oplog(edges, md, ops)
    got = {(r["source_id"], r["destination_id"]): r["state"] for r in e2.collect()}
    assert got[(10, 99)] == 2 and got[(11, 99)] == 2
    assert got[(99, 50)] == 0 and got[(12, 77)] == 0
    # positions preserved on the archived edges
    pos = {(r["source_id"], r["destination_id"]): r["position"] for r in e2.collect()}
    assert pos[(10, 99)] == 100 and pos[(11, 99)] == 101
    # the vertex's metadata row takes the op state
    md_state = {r["source_id"]: r["state"] for r in m2.collect()}
    assert md_state[99] == 2
    # sources of the archived edges got recounted (count of state==vertex-state rows)
    md_count = {r["source_id"]: r["count"] for r in m2.collect()}
    assert md_count[10] == 0 and md_count[11] == 0 and md_count[12] == 1


def test_compile_execute_backward_wildcard_keeps_direction(spark):
    from flockdb_spark.plans.compiler import (
        ExecuteOperation,
        ExecuteOperationType,
        QueryTerm,
        compile_execute,
    )

    prog = [
        ExecuteOperation(
            ExecuteOperationType.ARCHIVE, QueryTerm(99, 1, is_forward=False)
        ),
        ExecuteOperation(
            ExecuteOperationType.ADD, QueryTerm(5, 1, is_forward=False, destination_ids=(7,))
        ),
    ]
    df = compile_execute(spark, prog, now=1234)
    rows = {tuple(r) for r in df.select("op_state", "source_id", "destination_id", "is_forward").collect()}
    # wildcard keeps backward; explicit destination is swapped and forward
    assert (2, 99, None, False) in rows
    assert (0, 7, 5, True) in rows
    # an all-forward program omits the column entirely (lean default plan)
    fwd = compile_execute(spark, [prog[1]], now=1234)
    assert "is_forward" not in fwd.columns


def test_split_untouched_false_equals_true(spark):
    """The ``split_untouched=False`` fast path (caller guarantees every
    store row belongs to a touched vertex) must produce the same edges and
    metadata as the general path — including metadata-only vertices."""
    from flockdb_spark.operators.merge import apply_oplog
    from flockdb_spark.schema import METADATA_SCHEMA

    edges = edge_rows_df(
        spark,
        [
            (1, 10, 20, 100, 1000, 0),
            (1, 10, 21, 101, 1000, 2),
            (1, 11, 20, 102, 1000, 0),
        ],
    )
    # vertex 12 holds metadata but no edges; it is "touched" by a single op
    md = spark.createDataFrame(
        [(1, s, 1, 0, 1000) for s in (10, 11, 12)], METADATA_SCHEMA
    )
    ops = spark.createDataFrame(
        [
            (0, 1, 10, 22, 103, 2000, True),   # insert new edge
            (1, 1, 11, 20, 0, 2000, True),     # remove existing
            (0, 1, 12, 30, 104, 2000, True),   # first edge of md-only vertex
            (2, 1, 10, None, 0, 2000, True),   # mass-archive vertex 10
        ],
        "op_state int, graph_id int, source_id long, destination_id long, "
        "position long, updated_at long, is_forward boolean",
    )

    def snap(pair):
        e, m = pair
        ekey = lambda r: (r["graph_id"], r["source_id"], r["destination_id"])
        mkey = lambda r: (r["graph_id"], r["source_id"])
        return (
            {ekey(r): (r["state"], r["position"], r["updated_at"]) for r in e.collect()},
            {mkey(r): (r["state"], r["count"]) for r in m.collect()},
        )

    general = snap(apply_oplog(edges, md, ops))
    fast = snap(apply_oplog(edges, md, ops, split_untouched=False))
    assert fast == general
